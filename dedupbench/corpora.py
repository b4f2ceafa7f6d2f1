"""Seeded corpus builders for the dedup benchmark workloads.

Every corpus derives from ``--seed`` alone and is cached under the
benchmark's build directory, keyed by workload, seed and row count, so a
second run with the same seed reads the same parquet.  Generation is
never timed.  Each corpus is checked for what its workload exists to
exercise; a seed that fails the check is reported, never re-drawn.

Layout of one corpus directory (the engine reads only ``corpus/``):

  corpus/part-*.parquet   engine input, corpusgen.corpus_schema()
  truth_pairs.parquet     planted (id_a, id_b, kind) pairs
  meta.json               rows, per-shape counts, check result
  _SUCCESS                written last
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mnemophonix_spark import codecs, corpusgen
from mnemophonix_spark import config as C

# every bitstream shape the default corpus mix emits
MIXED_SHAPES = ("png", "bmp", "pgm", "fjpg", "jfif_dri1", "jfif_dri0",
                "jfif_color", "gif", "tiff", "webp_vp8l", "webp_vp8")
CHEAP_FMTS = ["png", "bmp", "pgm"]
N_FILES = 8
# (fmt, encode kwargs) of the planted lossy re-encodes every mixed corpus ends with
RARE_TAIL = [("jfif", {"quality": 90, "restart_interval": 0}),
             ("webp", {"mode": "lossy", "quality": 90})] * 2


class CorpusCheckError(RuntimeError):
    """The seed's corpus lacks what its workload exists to exercise."""


def row_shape(fmt: str, data: bytes) -> str:
    """Bitstream shape of one corpus row, read from its bytes."""
    if fmt == "jpeg":
        return "fjpg"
    if fmt == "webp":
        return {b"VP8L": "webp_vp8l", b"VP8 ": "webp_vp8"}.get(
            bytes(data[12:16]), "webp_other")
    if fmt != "jfif":
        return fmt
    i, n_comp, restart = 2, 1, 0
    while i + 4 <= len(data) and data[i] == 0xFF:
        marker = data[i + 1]
        seg = int.from_bytes(data[i + 2:i + 4], "big")
        if marker in (0xC0, 0xC1, 0xC2):
            if marker == 0xC2:
                return "jfif_progressive"
            n_comp = data[i + 9]
        elif marker == 0xDD:
            restart = int.from_bytes(data[i + 4:i + 6], "big")
        elif marker == 0xDA:
            break
        i += 2 + seg
    if n_comp == 3:
        return "jfif_color"
    return "jfif_dri1" if restart > 0 else "jfif_dri0"


def _write(out_dir: str, rows: list[dict], truth: list[tuple]) -> None:
    sub = os.path.join(out_dir, "corpus")
    os.makedirs(sub, exist_ok=True)
    for fi, chunk in enumerate(np.array_split(np.arange(len(rows)), N_FILES)):
        table = pa.Table.from_pylist([rows[j] for j in chunk],
                                     schema=corpusgen.corpus_schema())
        pq.write_table(table, os.path.join(sub, f"part-{fi:04d}.parquet"),
                       row_group_size=256)
    _write_truth(out_dir, truth)


def _write_truth(out_dir: str, truth: list[tuple]) -> None:
    pq.write_table(
        pa.Table.from_pylist(
            [{"id_a": a, "id_b": b, "kind": int(k)} for a, b, k in truth],
            schema=pa.schema([("id_a", pa.string()), ("id_b", pa.string()),
                              ("kind", pa.int32())])),
        os.path.join(out_dir, "truth_pairs.parquet"))


def _build_mixed(out_dir: str, rows: int, seed: int) -> None:
    """The default graded mix (every bitstream shape, 10% planted dups),
    generated in parallel chunks by the engine's own builder,
    plus a tail of planted lossy re-encodes in the two rarest shapes
    (DRI=0 JFIF and lossy VP8) so that every seed carries both."""
    tmp = out_dir + ".gen"
    shutil.rmtree(tmp, ignore_errors=True)
    main = rows - 2 * len(RARE_TAIL)
    built = corpusgen.ensure_corpus_parallel(tmp, main, seed=seed,
                                             n_chunks=N_FILES, workers=4)
    os.makedirs(out_dir, exist_ok=True)
    os.replace(os.path.join(built, "corpus"), os.path.join(out_dir, "corpus"))
    truth = read_truth(built)
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng([seed, 11])
    tail, i = [], main
    for fmt, kw in RARE_TAIL:
        head = corpusgen.generate(1, seed=int(rng.integers(2**31)),
                                  fmt_choices=["png"]).rows[0]
        pixels = codecs.decode(head["bytes"], "png")
        base_id, vid = f"img{i:08d}", f"img{i + 1:08d}"
        i += 2
        tail.append(dict(head, image_id=base_id))
        tail.append(dict(head, image_id=vid, fmt=fmt,
                         bytes=codecs.encode(pixels, fmt, **kw),
                         caption=corpusgen._caption(rng)))
        truth.append((base_id, vid, 2))
    pq.write_table(pa.Table.from_pylist(tail, schema=corpusgen.corpus_schema()),
                   os.path.join(out_dir, "corpus", "part-tail.parquet"))
    _write_truth(out_dir, truth)


def _dupheavy_sizes(rows: int, rng: np.random.Generator) -> list[int]:
    """Cluster sizes: one mass cluster over MAX_BUCKET_SIZE, then clusters
    of 10-60 filling half the corpus."""
    sizes = [C.MAX_BUCKET_SIZE + 24]
    left = rows // 2 - sizes[0]
    if left < 60:
        raise ValueError(f"dupheavy_fused needs at least {2 * (sizes[0] + 60)} rows")
    while left >= 10:
        s = min(int(rng.integers(10, 61)), left)
        sizes.append(s)
        left -= s
    return sizes


def _build_dupheavy(out_dir: str, rows: int, seed: int) -> None:
    """Cheap codecs (png/bmp/pgm); half the rows are exact re-encodes or
    +-1-noise variants of a cluster base, in clusters of 10-60 plus one
    mass cluster whose band buckets exceed MAX_BUCKET_SIZE, all written
    in a seeded shuffled order."""
    rng = np.random.default_rng([seed, 7])
    sizes = _dupheavy_sizes(rows, rng)
    # singleton half: the engine's generator over the cheap codecs (its
    # own 10% planted dups ride along as truth pairs)
    base = corpusgen.generate(rows - sum(sizes), seed=seed,
                              fmt_choices=CHEAP_FMTS)
    out, truth = list(base.rows), list(base.truth_pairs)
    for ci, size in enumerate(sizes):
        # one fresh scene per cluster (a 1-row generate plants no dups);
        # the mass cluster takes the first scene the chain does not gate
        # as silent or degenerate, else it would fill no band bucket
        while True:
            head = corpusgen.generate(1, seed=int(rng.integers(2**31)),
                                      fmt_choices=CHEAP_FMTS).rows[0]
            pixels = codecs.decode(head["bytes"], head["fmt"])
            if ci > 0 or _fingerprintable(pixels):
                break
        base_id = f"img{len(out):08d}"
        out.append(dict(head, image_id=base_id))
        for _ in range(size - 1):
            if rng.random() < 0.5:  # exact copy, re-encoded
                kind, px, fmt = 1, pixels, str(rng.choice(CHEAP_FMTS))
                ph = head["phash"]
            else:  # +-1 on <= 5% of pixels, same codec
                kind, px, fmt = 3, pixels.copy(), head["fmt"]
                mask = rng.random(px.shape) < 0.05
                px[mask] = np.clip(
                    px[mask] + rng.choice([-1.0, 1.0], size=int(mask.sum())),
                    0, 255)
                ph = corpusgen._phash64(px)
            vid = f"img{len(out):08d}"
            out.append({"image_id": vid, "bytes": codecs.encode(px, fmt),
                        "w": head["w"], "h": head["h"], "fmt": fmt,
                        "caption": corpusgen._caption(rng), "phash": ph})
            truth.append((base_id, vid, kind))
    # seeded row order, so any prefix holds a proportional share of every
    # cluster (the traced run fits floor and marginal cost on a prefix)
    _write(out_dir, [out[i] for i in rng.permutation(len(out))], truth)


BUILDERS = {
    "mixed_fused": _build_mixed,
    "dupheavy_fused": _build_dupheavy,
}


def read_rows(corpus_dir: str, columns: list[str] | None = None) -> list[dict]:
    files = sorted(glob.glob(os.path.join(corpus_dir, "corpus", "*.parquet")))
    return pq.read_table(files, columns=columns).to_pylist()


def read_truth(corpus_dir: str) -> list[tuple[str, str, int]]:
    t = pq.read_table(os.path.join(corpus_dir, "truth_pairs.parquet"))
    return list(zip(*(t.column(c).to_pylist() for c in ("id_a", "id_b", "kind"))))


def _fingerprintable(pixels: np.ndarray) -> bool:
    from mnemophonix_spark.functions import kernels

    sig = kernels.grid_to_signature(kernels.luma_to_grid(pixels)[None])
    return not (sig["is_silence"][0] or sig["degenerate"][0])


def max_band_bucket(rows: list[dict]) -> int:
    """Largest LSH band bucket, from signatures computed on the driver
    with the engine's own kernels."""
    from mnemophonix_spark.functions import kernels

    decoded = codecs.decode_batch([r["bytes"] for r in rows],
                                  [r["fmt"] for r in rows])
    luma = [d for d in decoded if not isinstance(d, codecs.CodecError)]
    sig = kernels.grid_to_signature(np.stack([kernels.luma_to_grid(d) for d in luma]))
    bands = kernels.band_hashes(sig["minhash"])[~(sig["is_silence"] | sig["degenerate"])]
    band_ids = np.tile(np.arange(bands.shape[1]), len(bands))
    return max(Counter(zip(band_ids, bands.ravel())).values(), default=0)


def check(workload: str, corpus_dir: str) -> dict:
    """Per-shape counts plus the workload's own requirement."""
    rows = read_rows(corpus_dir)
    shapes = Counter(row_shape(r["fmt"], r["bytes"]) for r in rows)
    meta = {"rows": len(rows), "shapes": dict(sorted(shapes.items())),
            "truth_pairs": len(read_truth(corpus_dir))}
    problem = None
    if workload == "mixed_fused":
        missing = [s for s in MIXED_SHAPES if not shapes.get(s)]
        if missing:
            problem = f"no rows of shape {missing}"
    elif workload == "dupheavy_fused":
        # the over-cap buckets are planted with the mass cluster; a bucket
        # found among its rows is a bucket of the corpus
        truth = read_truth(corpus_dir)
        head = Counter(a for a, _, _ in truth).most_common(1)[0][0]
        members = {head} | {b for a, b, _ in truth if a == head}
        meta["max_band_bucket"] = max_band_bucket(
            [r for r in rows if r["image_id"] in members])
        if meta["max_band_bucket"] <= C.MAX_BUCKET_SIZE:
            problem = (f"largest band bucket {meta['max_band_bucket']} is not "
                       f"over MAX_BUCKET_SIZE={C.MAX_BUCKET_SIZE}")
    meta["check"] = problem or "ok"
    return meta


def ensure(cache_root: str, workload: str, rows: int, seed: int) -> tuple[str, dict]:
    """Build (once) and check the corpus of (workload, seed, rows)."""
    out_dir = os.path.join(cache_root, f"{workload}_s{seed}_n{rows}")
    marker = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out_dir, ignore_errors=True)
        BUILDERS[workload](out_dir, rows, seed)
        with open(os.path.join(out_dir, "meta.json"), "w") as f:
            json.dump(check(workload, out_dir), f, indent=1)
        open(marker, "w").close()
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    if meta["check"] != "ok":
        raise CorpusCheckError(f"{workload} seed {seed}: {meta['check']}")
    return out_dir, meta


def ensure_prefix(corpus_dir: str, rows: int) -> str:
    """The first ``rows`` rows of a corpus, for the floor/marginal fit."""
    out_dir = f"{corpus_dir}_prefix{rows}"
    marker = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out_dir, ignore_errors=True)
        _write(out_dir, read_rows(corpus_dir)[:rows], [])
        open(marker, "w").close()
    return out_dir
