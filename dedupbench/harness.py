"""Pieces of a benchmark run: host state, the Spark session, one checked
pass.  ``run.py`` drives them; ``layers.py`` reuses them for the traced
run."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time
import traceback

import settings as S

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, S.BUILD_DIR)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# -- host state ---------------------------------------------------------------

def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0


def process_tree(root_pid: int) -> list[int]:
    """A process and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def reset_peak_rss(root_pid: int) -> None:
    """Restart the kernel's peak-RSS mark (VmHWM) of every process in the
    tree at its current RSS."""
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_bytes(root_pid: int) -> int:
    """Sum of VmHWM over the tree: the driver JVM and its Python workers."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) * 1024 for line in f
                              if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total


# -- session --------------------------------------------------------------------

def start_spark():
    """The benchmark's session: master, driver memory and local dirs from
    ``settings.py``; every engine knob stays at its default."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers import the engine from this checkout; JVM and Python
    # temporary files stay inside the build dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from mnemophonix_spark.session import get_spark

    conf = {"spark.driver.memory": S.DRIVER_MEMORY,
            "spark.local.dir": os.path.join(BUILD, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(BUILD, "warehouse")}
    spark = get_spark(app_name="dedupbench", master=S.MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it every
    Python worker) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def collect_garbage(spark) -> None:
    """Untimed, before each pass, so no pass pays for the previous one's
    garbage: a full GC in the driver JVM and in this process."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def job_counts(sc, group: str) -> dict[str, int]:
    """Spark jobs, stages and tasks run under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info:
            stages.update(info.stageIds)
    tasks = sum(si.numTasks for si in map(st.getStageInfo, stages) if si)
    return {"spark_jobs": len(jobs), "spark_stages": len(stages), "tasks": tasks}


# -- passes ---------------------------------------------------------------------

def fused_pass(spark, corpus_dir: str) -> list[tuple[str, str]]:
    """The engine's end deliverable: one cluster assignment fusing the
    signature chain, phash and caption channels."""
    from mnemophonix_spark import pipeline

    return [tuple(r) for r in pipeline.fused_clusters(spark, corpus_dir).collect()]


class Checker:
    """Per-pass correctness: rows, assignment digest, planted-pair recall."""

    def __init__(self, ids: list[str], truth: list[tuple[str, str, int]],
                 digest_file: str | None, kinds=(1, 2, 3, 4, 5, 6)):
        self.ids = set(ids)
        self.n = len(ids)
        self.truth = [(a, b) for a, b, k in truth if k in kinds]
        self.digest_file = digest_file
        self.ref = None
        if digest_file and os.path.exists(digest_file):
            with open(digest_file) as f:
                self.ref = f.read().strip()

    @classmethod
    def rows_only(cls, corpus_dir: str) -> "Checker":
        import corpora

        ids = [r["image_id"] for r in corpora.read_rows(corpus_dir, ["image_id"])]
        return cls(ids, [], None)

    def __call__(self, rows: list[tuple[str, str]]) -> dict:
        assign = dict(rows)
        problems = []
        if len(rows) != self.n or assign.keys() != self.ids:
            problems.append(f"{len(rows)} output rows for {self.n} corpus rows")
        digest = hashlib.sha256(
            "\n".join(f"{a}\t{c}" for a, c in sorted(rows)).encode()).hexdigest()
        misses = [p for p in self.truth
                  if assign.get(p[0], p[0]) != assign.get(p[1], p[1])]
        recall = 1 - len(misses) / len(self.truth) if self.truth else 1.0
        if recall < S.RECALL_MIN:
            problems.append(f"pair_recall {recall:.4f} < {S.RECALL_MIN}")
        if self.ref is None and not problems and self.digest_file:
            os.makedirs(os.path.dirname(self.digest_file), exist_ok=True)
            with open(self.digest_file, "w") as f:
                f.write(digest)
            self.ref = digest
        if self.ref is not None and digest != self.ref:
            problems.append("cluster-assignment digest differs from the "
                            "seed's first correct pass")
        return {"rows": len(rows), "digest": digest[:16], "pair_recall": recall,
                "misses": [list(p) for p in misses[:20]], "n_misses": len(misses),
                "problems": problems}


class Runner:
    """Runs one pass at a time under its own job group, with a watchdog
    that cancels the group at the pass timeout."""

    def __init__(self, spark, check: Checker):
        from pyspark import SparkContext

        self.spark, self.sc = spark, spark.sparkContext
        self.check = check
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.n = 0

    def run(self, corpus_dir: str, label: str,
            check: Checker | None = None) -> dict:
        self.n += 1
        group = f"dedupbench-{label}-{self.n}"
        collect_garbage(self.spark)
        self.sc.setJobGroup(group, label, interruptOnCancel=True)
        watchdog = threading.Timer(S.PASS_TIMEOUT_S,
                                   self.sc.cancelJobGroup, [group])
        rec = {"label": label, "loadavg_1m": os.getloadavg()[0]}
        cpu0 = cpu_times()
        reset_peak_rss(self.jvm_pid)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            rows = fused_pass(self.spark, corpus_dir)
            rec["wall_s"] = time.perf_counter() - t0
            rec.update((check or self.check)(rows))
        except Exception as e:  # a raised or cancelled pass counts as failed
            rec["wall_s"] = time.perf_counter() - t0
            rec["problems"] = [f"{type(e).__name__}: {str(e)[:300]}"]
            rec["traceback"] = traceback.format_exc()
        finally:
            watchdog.cancel()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec["steal_share"] = steal_share(cpu0, cpu_times())
        rec["peak_rss_mb"] = peak_rss_bytes(self.jvm_pid) / 2**20
        rec.update(job_counts(self.sc, group))
        rec["ok"] = not rec["problems"]
        # passes must not share cached stages
        self.spark.catalog.clearCache()
        log(f"  {label:<10} {rec['wall_s']:7.2f}s  load {rec['loadavg_1m']:.2f}  "
            f"steal {rec['steal_share']:.3f}  jobs {rec['spark_jobs']}  "
            f"{'ok' if rec['ok'] else rec['problems']}")
        return rec


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
