"""Smoke test of the benchmark itself, on a tiny corpus and seed.

Run from the repository root (two to three minutes at local[4]):

  python3 dedupbench/smoke.py

Checks that
1. the correctness check rejects deliberately corrupted assignments
   (a split planted pair, a dropped row, a changed digest);
2. an untraced run prints every end-to-end metric of BENCHMARK.json with
   its unit, and a traced run every per-layer metric and its span file;
3. the benchmark exits non-zero without printing a result in a directory
   that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH_DIR)

import corpora  # noqa: E402
import harness  # noqa: E402

WORKLOAD, SEED, ROWS = "mixed_fused", 7, 160


def bench(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "dedupbench", "run.py"),
           "--workload", WORKLOAD, "--seed", str(SEED), "--seconds", "1",
           "--rows", str(ROWS), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def check_metrics(proc: subprocess.CompletedProcess, spec: list[dict]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, result
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (sorted(set(want) ^ set(got)),
                         {k for k in want if want[k] != got.get(k, want[k])})
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    return result


def test_checker_rejects_corruption() -> None:
    corpus_dir, _ = corpora.ensure(os.path.join(harness.BUILD, "corpus"),
                                   WORKLOAD, ROWS, SEED)
    ids = sorted(r["image_id"] for r in corpora.read_rows(corpus_dir, ["image_id"]))
    truth = corpora.read_truth(corpus_dir)
    label = {i: i for i in ids}
    for a, b, _ in truth:  # planted clusters are stars around their base
        label[b] = label[a]
    good = sorted(label.items())
    digest_file = os.path.join(harness.BUILD, "smoke", "digest.txt")
    if os.path.exists(digest_file):
        os.remove(digest_file)
    check = harness.Checker(ids, truth, digest_file)
    assert check(good)["problems"] == []
    a, b, _ = truth[0]
    split = [(i, i if i == b else c) for i, c in good]
    assert check(split)["problems"], "a split planted pair must fail"
    assert check(good[1:])["problems"], "a dropped row must fail"
    a, b = [i for i in ids if label[i] == i and all(i not in p[:2] for p in truth)][:2]
    merged = [(i, a if i == b else c) for i, c in good]
    assert any("digest" in p for p in check(merged)["problems"]), \
        "an assignment other than the seed's first correct one must fail"


def test_runs() -> None:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    check_metrics(bench("--trace", "0"), spec["end_to_end"])
    check_metrics(bench("--trace", "1"), spec["per_layer"])
    span_file = os.path.join(harness.BUILD, "trace", f"{WORKLOAD}_s{SEED}_n{ROWS}.json")
    spans = json.load(open(span_file))["spans"]
    assert {"name", "start", "end", "parent", "pass_id"} <= set(spans[0])


def test_fails_without_engine() -> None:
    bare = os.path.join(harness.BUILD, "smoke", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "dedupbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0 and not proc.stdout.strip(), proc


if __name__ == "__main__":
    for test in (test_checker_rejects_corruption, test_fails_without_engine,
                 test_runs):
        test()
        print(f"ok  {test.__name__}", flush=True)
