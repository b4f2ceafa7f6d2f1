"""Traced run: per-layer metrics timed from outside the engine.

Each layer is forced through its public function (persisted, then
counted) inside a span, so its self time is the span minus its child
spans.  Spans carry name, start, end, parent and pass id; they are kept
in memory and written to ``<BUILD_DIR>/trace/`` when the run ends.  The
run also

- times one untraced pass (Spark jobs, stages and tasks from the
  StatusTracker under the pass's job group) and one on a half-size
  prefix of the same corpus, for the fixed-floor and marginal-ms/img
  fit.  Both corpora are written in an order that gives a prefix a
  proportional share of every planted cluster; pair work still grows
  faster than linearly with cluster size (and the half-size mass
  cluster of dupheavy_fused stays under MAX_BUCKET_SIZE), so the linear
  fit is a rough one there;
- commits one run through ``StageStore`` (``pipeline.run_dedup`` with a
  fresh ``work_dir``) for per-stage write times and bytes, then resumes
  it and runs ``pipeline_counters``;
- probes ``codecs.decode_batch`` per bitstream shape on rows sampled from
  the workload's corpus (batches of at most the Arrow batch width) and
  the fingerprint kernels on the decoded sample, single-threaded in the
  driver.

Components: at the benchmark's driver memory the union-find threshold
(``components.derived_driver_threshold``) is far above any edge count
here, so the distributed large-star/small-star loop is not reached.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

from mnemophonix_spark import codecs
from mnemophonix_spark import config as C

import corpora
from harness import BUILD, Checker, log, metric

STAGES = ("signatures", "bands", "candidates", "scored", "verified", "clusters")


class Tracer:
    """In-memory spans; a span's self time is its duration minus the part
    of that interval its children cover."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = None

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass_id": self.pass_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name, summed over spans of that name."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, hi = 0.0, s["start"]
            for a, b in sorted(kids[i]):
                a = max(a, hi)
                if b > a:
                    covered += b - a
                    hi = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f,
                      indent=1)


def traced_pass(spark, corpus_dir: str, tracer: Tracer) -> tuple[list, dict]:
    """The fused plan, one layer at a time; returns (assignment, counts)."""
    from pyspark.sql import functions as F

    from mnemophonix_spark import pipeline
    from mnemophonix_spark.operators import captions, components, lsh, phash
    from mnemophonix_spark.operators import verify as ver
    from mnemophonix_spark.operators.fingerprint import (fingerprint,
                                                         valid_signatures)

    n: dict[str, int] = {}

    def force(name, df):
        with tracer.span(name):
            df = df.persist()
            n[name] = df.count()
        return df

    with tracer.span("pass"):
        corpus = pipeline.load_corpus(spark, corpus_dir)
        sig = force("fingerprint", fingerprint(corpus))
        n["quarantined"] = sig.filter(F.col("decode_error").isNotNull()).count()
        valid = valid_signatures(sig)
        with tracer.span("lsh"):
            bands = force("lsh.bands", lsh.explode_bands(valid))
            cand = force("lsh.candidates", lsh.candidate_pairs(bands))
            bc = lsh.broadcast_decision(cand)
            scored = force("lsh.score", lsh.score_pairs(cand, valid, broadcast=bc))
        verified = force("verify", ver.verify_pairs(scored, corpus, broadcast=bc))
        ph = force("phash", phash.phash_dup_pairs(corpus))
        with tracer.span("captions"):
            ce = force("captions.exact", captions.caption_exact_pairs(corpus))
            cs = force("captions.simhash", captions.caption_simhash_pairs(corpus))
            cu = force("captions.substring", captions.caption_substring_pairs(corpus))
        pairs = [verified, ph, ce, cs, cu]
        with tracer.span("components"):
            edges = pairs[0].select("id_a", "id_b")
            for p in pairs[1:]:
                edges = edges.unionByName(p.select("id_a", "id_b"))
            edges = force("components.edges", edges.distinct())
            comps = force("components.cc", components.connected_components(edges))
            rows = [tuple(r) for r in components.assign_clusters(
                corpus.select("image_id"), comps).collect()]
    # observation-only counts, outside the pass span
    table = sig.toArrow()
    n["sig_bytes_per_row"] = table.nbytes / max(1, table.num_rows)
    n["hot_buckets"] = lsh.hot_buckets(bands).count()
    # verify_pairs sends every scored pair down one of two paths and
    # labels its output by path: the scored pairs it did not pass on the
    # phash path went to pixel verification
    n["verify_cheap"] = verified.filter(F.col("verified_by") == "phash").count()
    spark.catalog.clearCache()
    return rows, n


def committed_storage(spark, corpus_dir: str, work: str, chain_check) -> dict:
    """One StageStore-committed run_dedup (the spark-submit job's path):
    per-stage write seconds from the lineage records, bytes committed,
    resume and counters time, and the image chain's own recall of the
    planted image pairs (reported, not gated)."""
    from mnemophonix_spark import pipeline

    shutil.rmtree(work, ignore_errors=True)
    stages = pipeline.run_dedup(spark, corpus_dir, work_dir=work,
                                log=lambda *a: None)
    chain = chain_check([tuple(r) for r in stages["clusters"].collect()])
    t = time.perf_counter()
    pipeline.pipeline_counters(stages)
    counters_s = time.perf_counter() - t
    t = time.perf_counter()
    resumed = pipeline.run_dedup(spark, corpus_dir, work_dir=work,
                                 log=lambda *a: None)
    resumed["clusters"].count()
    resume_s = time.perf_counter() - t
    out = {"counters_s": counters_s, "resume_s": resume_s, "write_s": {},
           "image_chain": {k: chain[k] for k in ("pair_recall", "n_misses", "misses")}}
    run_root = os.path.join(work, pipeline.input_fingerprint(corpus_dir))
    total = 0
    for stage in STAGES:
        root = os.path.join(run_root, stage)
        with open(os.path.join(root, "CURRENT")) as f:
            vdir = os.path.join(root, f.read().strip())
        with open(os.path.join(vdir, "_LINEAGE.json")) as f:
            out["write_s"][stage] = json.load(f)["secs"]
        total += sum(os.path.getsize(p) for p in glob.glob(f"{vdir}/*.parquet"))
    out["bytes_written"] = total
    spark.catalog.clearCache()
    shutil.rmtree(work, ignore_errors=True)
    return out


def _best_of(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def decode_probes(rows: list[dict], fallback_rows: list[dict] | None) -> dict:
    """ms/img of codecs.decode_batch per shape, one call per batch of at
    most ARROW_BATCH_ROWS rows of that shape.  Shapes absent from the
    workload's corpus are probed on ``fallback_rows``."""
    by_shape: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_shape[corpora.row_shape(r["fmt"], r["bytes"])].append(r)
    out = {}
    for shape in corpora.MIXED_SHAPES:
        sample, source = by_shape.get(shape), "workload"
        if not sample and fallback_rows:
            sample = [r for r in fallback_rows
                      if corpora.row_shape(r["fmt"], r["bytes"]) == shape]
            source = "mixed_fused corpus of the same seed"
        sample = sample[: C.ARROW_BATCH_ROWS]
        payloads = [r["bytes"] for r in sample]
        fmts = [r["fmt"] for r in sample]
        secs = _best_of(lambda: codecs.decode_batch(payloads, fmts), 2)
        out[shape] = {"ms_per_img": 1e3 * secs / len(sample), "rows": len(sample),
                      "corpus_rows": len(by_shape.get(shape, [])),
                      "source": source}
    return out


def kernel_probes(rows: list[dict]) -> dict:
    """ms/img of the three fingerprint kernels on a decoded sample."""
    from mnemophonix_spark.functions import kernels

    sample = rows[: C.ARROW_BATCH_ROWS]
    decoded = codecs.decode_batch([r["bytes"] for r in sample],
                                  [r["fmt"] for r in sample])
    luma = [d for d in decoded if not isinstance(d, codecs.CodecError)]
    grids = np.stack([kernels.luma_to_grid(d) for d in luma])
    mh = kernels.grid_to_signature(grids)["minhash"]
    n = len(luma)
    return {
        "luma_to_grid": 1e3 * _best_of(
            lambda: [kernels.luma_to_grid(d) for d in luma]) / n,
        "grid_to_signature": 1e3 * _best_of(
            lambda: kernels.grid_to_signature(grids)) / n,
        "band_hashes": 1e3 * _best_of(lambda: kernels.band_hashes(mh)) / n,
    }


def traced_run(spark, runner, corpus_dir: str, prefix_dir: str,
               corpus_rows: list[dict], truth: list, detail: dict, args,
               fallback_rows: list[dict] | None) -> dict:
    tracer = Tracer()
    passes: list[dict] = []

    def untraced(d, label, check=None):
        tracer.pass_id = label
        with tracer.span("untraced"):
            rec = runner.run(d, label, check=check)
        passes.append(rec)
        detail["passes"].append(rec)
        return rec

    full = untraced(corpus_dir, "untraced")
    half = untraced(prefix_dir, "prefix", check=Checker.rows_only(prefix_dir))
    n_full, n_half = len(corpus_rows), half.get("rows", 0)
    marginal = (full["wall_s"] - half["wall_s"]) / max(1, n_full - n_half)
    floor = full["wall_s"] - marginal * n_full

    tracer.pass_id = "traced"
    rows, n = traced_pass(spark, corpus_dir, tracer)
    rec = {"label": "traced", "wall_s": tracer.duration("pass")}
    rec.update(runner.check(rows))
    rec["ok"] = not rec["problems"]
    passes.append(rec)
    detail["passes"].append(rec)

    tracer.pass_id = "committed"
    with tracer.span("storage"):
        store = committed_storage(
            spark, corpus_dir, os.path.join(BUILD, "work", f"trace-{os.getpid()}"),
            Checker([r["image_id"] for r in corpus_rows], truth, None,
                    kinds=(1, 2, 3, 4)))
    tracer.pass_id = "probes"
    with tracer.span("probes"):
        dec = decode_probes(corpus_rows, fallback_rows)
        ker = kernel_probes(corpus_rows)
    tracer.dump(os.path.join(BUILD, "trace",
                             f"{args.workload}_s{args.seed}_n{n_full}.json"))

    self_s = tracer.self_times()
    input_bytes = sum(os.path.getsize(p) for p in
                      glob.glob(os.path.join(corpus_dir, "corpus", "*.parquet")))
    probe_sum = sum(d["ms_per_img"] * d["corpus_rows"] for d in dec.values()) / 1e3
    log(f"  decode probes summed over the corpus: {probe_sum:.2f}s single-core; "
        f"fingerprint.self_s {self_s.get('fingerprint', 0):.2f}s on "
        f"{spark.sparkContext.defaultParallelism} cores")

    m = {}
    for shape, d in dec.items():
        m[f"codecs.decode_ms_per_img.{shape}"] = metric(d["ms_per_img"], "ms")
    m["codecs.decode_probe_sum_s"] = metric(probe_sum, "s")
    for k, v in ker.items():
        m[f"kernels.{k}_ms_per_img"] = metric(v, "ms")
    m["fingerprint.self_s"] = metric(self_s.get("fingerprint", 0.0), "s")
    m["fingerprint.rows_out"] = metric(n["fingerprint"], "count")
    m["fingerprint.quarantined"] = metric(n["quarantined"], "count")
    m["fingerprint.bytes_per_row"] = metric(n["sig_bytes_per_row"], "B")
    for layer in ("lsh.bands", "lsh.candidates", "lsh.score", "verify", "phash",
                  "captions.exact", "captions.simhash", "captions.substring"):
        m[f"{layer}.self_s"] = metric(self_s.get(layer, 0.0), "s")
    m["lsh.band_rows"] = metric(n["lsh.bands"], "count")
    m["lsh.candidate_pairs"] = metric(n["lsh.candidates"], "count")
    m["lsh.hot_buckets"] = metric(n["hot_buckets"], "count")
    m["lsh.candidate_yield"] = metric(
        n["verify"] / max(1, n["lsh.candidates"]), "ratio")
    m["lsh.scored_pairs"] = metric(n["lsh.score"], "count")
    m["verify.pixel_pairs"] = metric(n["lsh.score"] - n["verify_cheap"],
                                     "count")
    m["verify.pairs_out"] = metric(n["verify"], "count")
    m["phash.pairs"] = metric(n["phash"], "count")
    m["components.self_s"] = metric(
        sum(self_s.get(k, 0.0) for k in
            ("components", "components.edges", "components.cc")), "s")
    m["components.edges_in"] = metric(n["components.edges"], "count")
    m["components.nodes_out"] = metric(n["components.cc"], "count")
    m["captions.pairs"] = metric(
        n["captions.exact"] + n["captions.simhash"] + n["captions.substring"],
        "count")
    for stage in STAGES:
        m[f"storage.write_s.{stage}"] = metric(store["write_s"][stage], "s")
    m["storage.bytes_written"] = metric(store["bytes_written"], "B")
    m["storage.bytes_per_input_byte"] = metric(
        store["bytes_written"] / max(1, input_bytes), "ratio")
    m["storage.resume_s"] = metric(store["resume_s"], "s")
    m["pipeline.counters_s"] = metric(store["counters_s"], "s")
    for k in ("spark_jobs", "spark_stages", "tasks"):
        m[f"pipeline.{k}"] = metric(full[k], "count")
    m["pipeline.floor_s"] = metric(floor, "s")
    m["pipeline.marginal_ms_per_img"] = metric(1e3 * marginal, "ms")
    m["pipeline.trace_overhead_s"] = metric(
        tracer.duration("pass") - full["wall_s"], "s")

    detail["trace"] = {"self_s": self_s, "decode": dec, "kernels": ker,
                       "storage": store, "probe_sum_s": probe_sum,
                       "fit": {"rows": [n_half, n_full],
                               "wall_s": [half["wall_s"], full["wall_s"]]}}
    failed = sum(1 for r in passes if not r["ok"])
    return {"correct": failed == 0, "attempted": len(passes), "failed": failed,
            "metrics": m}
