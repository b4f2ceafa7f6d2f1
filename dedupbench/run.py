"""Dedup engine benchmark: one workload, one seed, one JSON line.

Run from the repository root:

  python3 dedupbench/run.py --workload mixed_fused --seed 1 --seconds 12 --trace 0

One driver process at the master in ``settings.py`` runs a closed loop
with one client: one pass at a time through the engine's end-to-end
entry point ``pipeline.fused_clusters`` over a seeded corpus it
generates and caches itself (``corpora.py``).  After one full-size
warm-up pass it times passes while the next one is expected to end
within ``--seconds`` (at least ``MIN_TIMED_PASSES``) and reports their
median.  Every pass is checked: output rows equal corpus rows, the
cluster-assignment digest equals the seed's first correct pass, and
planted-pair recall is at least ``RECALL_MIN``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (``layers.py``).  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; a readable
summary goes to stderr and the full detail (every pass with its load
average, CPU-steal share and peak RSS) to ``<BUILD_DIR>/detail/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import settings as S  # noqa: E402
from harness import (BUILD, ROOT, Checker, Runner, log, metric,  # noqa: E402
                     start_spark, stop_spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="override the workload's corpus size (smoke tests)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mnemophonix_spark", "pipeline.py")):
        log(f"error: the engine package mnemophonix_spark is not in {ROOT}")
        return 2
    if args.workload not in S.WORKLOAD_ROWS:
        log(f"error: unknown workload {args.workload!r}; "
            f"choose from {sorted(S.WORKLOAD_ROWS)}")
        return 2
    sys.path.insert(0, ROOT)
    import corpora

    rows = args.rows or S.WORKLOAD_ROWS[args.workload]
    key = f"{args.workload}_s{args.seed}_n{rows}"

    t_gen = time.monotonic()
    try:
        corpus_dir, meta = corpora.ensure(os.path.join(BUILD, "corpus"),
                                          args.workload, rows, args.seed)
        fallback_rows = None
        if args.trace:
            prefix_dir = corpora.ensure_prefix(corpus_dir, rows // 2)
            if not set(corpora.MIXED_SHAPES) <= set(meta["shapes"]):
                # every traced run must print every per-layer metric of
                # BENCHMARK.json, decode probes of all shapes included:
                # shapes this corpus lacks are probed on the default-mix
                # corpus of the same seed
                mixed_dir, _ = corpora.ensure(
                    os.path.join(BUILD, "corpus"), "mixed_fused",
                    S.WORKLOAD_ROWS["mixed_fused"], args.seed)
                fallback_rows = corpora.read_rows(mixed_dir)
    except corpora.CorpusCheckError as e:
        log(f"error: corpus check failed: {e}")
        return 3
    corpus_rows = corpora.read_rows(corpus_dir)
    truth = corpora.read_truth(corpus_dir)
    gen_s = time.monotonic() - t_gen
    log(f"{key}: corpus ready in {gen_s:.1f}s (untimed) {meta['shapes']}")

    check = Checker([r["image_id"] for r in corpus_rows], truth,
                    os.path.join(BUILD, "digests", f"{key}.txt"))
    spark = start_spark()
    runner = Runner(spark, check)
    detail = {"workload": args.workload, "seed": args.seed, "rows": rows,
              "trace": args.trace, "corpus": meta, "corpus_gen_s": gen_s,
              "session": {"master": S.MASTER, "driver_memory": S.DRIVER_MEMORY},
              "passes": []}
    try:
        # a full-size warm-up absorbs the cold JVM, codegen and
        # Python-worker start
        detail["passes"].append(runner.run(corpus_dir, "warmup"))
        setup_s = time.monotonic() - T_START - gen_s
        if args.trace:
            import layers

            result = layers.traced_run(spark, runner, corpus_dir, prefix_dir,
                                       corpus_rows, truth, detail, args,
                                       fallback_rows)
        else:
            result = timed_loop(runner, corpus_dir, rows, setup_s, args, detail)
    finally:
        stop_spark(spark)
    result["correct"] = result["correct"] and detail["passes"][0]["ok"]

    os.makedirs(os.path.join(BUILD, "detail"), exist_ok=True)
    with open(os.path.join(BUILD, "detail", f"{key}_t{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for name, m in result["metrics"].items():
        log(f"  {name:<40} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


def timed_loop(runner: Runner, corpus_dir: str, rows: int, setup_s: float,
               args, detail: dict) -> dict:
    """Closed loop, one client: passes back to back while the next one is
    expected (at the last pass's time) to end within --seconds; at least
    MIN_TIMED_PASSES passes unless the run deadline is near."""
    deadline = T_START + S.RUN_DEADLINE_S
    t0 = time.monotonic()
    timed: list[dict] = []
    while True:
        rec = runner.run(corpus_dir, f"pass{len(timed)}")
        timed.append(rec)
        detail["passes"].append(rec)
        now = time.monotonic()
        if now + rec["wall_s"] > deadline:
            break
        if (len(timed) >= S.MIN_TIMED_PASSES
                and now + rec["wall_s"] - t0 > args.seconds):
            break
    ok = [r for r in timed if r["ok"]]
    walls = [r["wall_s"] for r in ok] or [r["wall_s"] for r in timed]
    wall = statistics.median(walls)
    # a tail percentile needs ten samples beyond it; a run has a few passes
    detail["tail"] = f"none: {len(walls)} timed passes"
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(wall, "s"),
        "images_per_s": metric(rows / wall, "1/s"),
        "pair_recall": metric(min((r.get("pair_recall", 0.0) for r in timed)), "ratio"),
        "peak_rss_mb": metric(max(r["peak_rss_mb"] for r in timed), "MB"),
    }
    failed = len(timed) - len(ok)
    return {"correct": failed == 0, "attempted": len(timed),
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
