"""Seeded inputs for the three workloads.

Everything here is a pure function of (seed, row index), so the same seed
always gives the same files, and sharded generation equals a single pass.
The program under test only ever sees the parquet files written here.

- ``geotile_images``: every row reposts one of ``GEOTILE_POOL`` images of
  the repo generator (``datagen.images``) under its own id, caption and
  skewed location. At 400k rows the repo generator alone repeats its
  ~11.5k distinct gradient blobs often enough for the per-task decode
  cache of the fused stage to mostly hit; the pool keeps that property at
  benchmark size.
- ``curate_images``: unique-content images built on the same identity
  columns and codecs. Each regular row carries its own random 8x8 block
  pattern (so its aHash is a random 64-bit value and accidental
  near-duplicates practically never happen) plus per-pixel noise (so its
  bytes are unique). A few percent of rows are planted byte-identical
  copies, colocated near-duplicate shots, blurry ramps and corrupt blobs,
  so every rejection lane of the curation job has work.
- ``online_points``: small skewed point arrivals and kNN query batches.
"""

from __future__ import annotations

import gc
import hashlib
import multiprocessing as mp
from multiprocessing import resource_tracker
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jimmy_spark.codecs.registry import encode_image
from jimmy_spark.datagen.core import phash_for_index, splitmix64
from jimmy_spark.datagen.images import (
    FMTS,
    HEIGHTS,
    HOT_CENTERS,
    WIDTHS,
    _skew_phash,
    generate_images,
    make_caption,
)
from jimmy_spark.datagen.knn_queries import K_CYCLE
from jimmy_spark.datagen.polygons import write_polygons
from jimmy_spark.functions.georef import latlon_e7_np

# Share of rows remapped into the three hot cells (the repo's bench
# recipe); the datagen jitter puts each hot row within 20,000 e7 units of
# its centre.
HOT_SHARE = 0.4
HOT_JITTER_E7 = 20_000

# Distinct source images behind the geotile rows (see the module docstring).
GEOTILE_POOL = 2048

# Curation plants, in rows per thousand.
CORRUPT_PM = 10
EXACT_DUP_PM = 30
NEAR_DUP_PM = 20
BLURRY_PM = 20

_PQ_KW = dict(compression="zstd", row_group_size=4096)


def _shards(n: int, parts: int) -> list[tuple[int, int]]:
    per = -(-n // parts)
    return [(s, min(per, n - s)) for s in range(0, n, per)]


def _write_parallel(fn, out_dir: Path, n: int, seed: int, procs: int) -> None:
    """Write ``fn(start, count, seed)`` tables as 2*procs part files from
    at most ``procs`` spawned processes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    jobs = [
        (fn, str(out_dir / f"part-{i:05d}.parquet"), start, count, seed)
        for i, (start, count) in enumerate(_shards(n, 2 * procs))
    ]
    if procs <= 1:
        for job in jobs:
            _write_part(job)
        return
    pool = mp.get_context("spawn").Pool(min(procs, len(jobs)))
    try:
        pool.map(_write_part, jobs)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    # the spawned pool started multiprocessing's resource tracker: release
    # the pool's semaphores, then stop the tracker and wait for it
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()


def _write_part(job) -> None:
    fn, path, start, count, seed = job
    pq.write_table(fn(start, count, seed), path, **_PQ_KW)


# --- batch_geotile -----------------------------------------------------------


def _geotile_part(start: int, count: int, seed: int) -> pa.Table:
    gi = np.arange(start, start + count, dtype=np.uint64)
    pick = splitmix64(gi ^ np.uint64(seed * 7_919 + 5)) % np.uint64(GEOTILE_POOL)
    rows = generate_images(GEOTILE_POOL, seed).take(pick.astype(np.int64))
    phash = _location_phash(gi, seed)
    return pa.table(
        {
            "image_id": pa.array([f"img_{g:012d}" for g in range(start, start + count)]),
            "bytes": rows["bytes"],
            "w": rows["w"],
            "h": rows["h"],
            "fmt": rows["fmt"],
            "caption": pa.array(
                [make_caption(g, int(p)) for g, p in zip(range(start, start + count), phash)]
            ),
            "phash": pa.array(phash, pa.int64()),
        }
    )


def geotile_images(out_dir: Path, n: int, seed: int, procs: int) -> None:
    _write_parallel(_geotile_part, out_dir, n, seed, procs)


def polygons(path: Path, seed: int) -> None:
    write_polygons(str(path), 40, seed)


# --- batch_curate ------------------------------------------------------------


def _kind(gi: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(kind, base) per global index: kind 0 regular, 1 corrupt, 2 exact
    copy of ``base``, 3 colocated near-duplicate of ``base``, 4 blurry
    (a smooth ramp the quality gate rejects)."""
    h = splitmix64(gi ^ np.uint64(seed * 1_000_003 + 17))
    r = (h % np.uint64(1000)).astype(np.int64)
    edges = np.cumsum([CORRUPT_PM, EXACT_DUP_PM, NEAR_DUP_PM, BLURRY_PM])
    kind = np.select([r < e for e in edges], [1, 2, 3, 4], 0)
    back = 1 + ((h >> np.uint64(20)) % np.uint64(16)).astype(np.int64)
    base = np.maximum(gi.astype(np.int64) - back, 0)
    kind = np.where((kind >= 2) & (base == gi.astype(np.int64)), 0, kind)
    return kind, base


def _regular_pixels(gi: int, seed: int) -> np.ndarray:
    """Unique content for row ``gi``: a random binary 8x8 block pattern
    (dark/light levels well apart, so the aHash is exactly the pattern)
    plus low-amplitude per-pixel noise, at the datagen dimensions."""
    w, h = int(WIDTHS[gi % 3]), int(HEIGHTS[gi % 3])
    rng = np.random.default_rng([seed, gi])
    bits = rng.integers(0, 2, size=(8, 8))
    lo, hi = rng.integers(40, 80), rng.integers(170, 210)
    blocks = np.where(bits == 1, hi, lo)
    grid = np.repeat(np.repeat(blocks, h // 8, axis=0), w // 8, axis=1)
    px = grid[:, :, None] + rng.integers(-12, 13, size=(h, w, 3))
    return np.clip(px, 0, 255).astype(np.uint8)


def _blurry_pixels(gi: int, seed: int) -> np.ndarray:
    """A smooth linear ramp (no wrap-around, no noise): near-zero
    Laplacian variance, so the sharpness gate rejects it."""
    w, h = int(WIDTHS[gi % 3]), int(HEIGHTS[gi % 3])
    rng = np.random.default_rng([seed, gi, 4])
    base = rng.integers(20, 120, size=3)
    ys = np.arange(h)[:, None, None]
    xs = np.arange(w)[None, :, None]
    return (base + xs * rng.integers(0, 2) + ys * rng.integers(0, 2)).astype(np.uint8)


def _location_phash(gi: np.ndarray, seed: int) -> np.ndarray:
    return _skew_phash(gi, phash_for_index(gi, seed), seed, HOT_SHARE)


def _curate_part(start: int, count: int, seed: int) -> pa.Table:
    gi = np.arange(start, start + count, dtype=np.uint64)
    kind, base = _kind(gi, seed)
    phash = _location_phash(gi, seed)
    # a near-duplicate shot stands where its base was taken
    near = kind == 3
    phash[near] = _location_phash(base[near].astype(np.uint64), seed)
    blobs, ws, hs, fmts = [], [], [], []
    for i in range(count):
        g = int(gi[i])
        src = int(base[i]) if kind[i] in (2, 3) else g
        px = _blurry_pixels(g, seed) if kind[i] == 4 else _regular_pixels(src, seed)
        if kind[i] == 3:
            bump = px.astype(np.int64)
            bh, bw = px.shape[0] // 4, px.shape[1] // 4
            bump[:bh, :bw, :] += 24
            px = np.clip(bump, 0, 255).astype(np.uint8)
        fmt = FMTS[src % 3]
        data = encode_image(px, fmt)
        if kind[i] == 1:
            data = data[: max(8, len(data) // 2)]
        blobs.append(data)
        hs.append(px.shape[0])
        ws.append(px.shape[1])
        fmts.append(fmt)
    return pa.table(
        {
            "image_id": pa.array([f"img_{g:012d}" for g in range(start, start + count)]),
            "bytes": pa.array(blobs, pa.binary()),
            "w": pa.array(ws, pa.int32()),
            "h": pa.array(hs, pa.int32()),
            "fmt": pa.array(fmts, pa.string()),
            "caption": pa.array(
                [make_caption(g, int(p)) for g, p in zip(range(start, start + count), phash)]
            ),
            "phash": pa.array(phash, pa.int64()),
        }
    )


def curate_images(out_dir: Path, n: int, seed: int, procs: int) -> None:
    _write_parallel(_curate_part, out_dir, n, seed, procs)


def curate_plan(n: int, seed: int) -> dict:
    """Generator-side truth for the curation input: the ids of corrupt and
    blurry rows, and the count of near-duplicate plants whose base is a
    regular row (the scene pairs the input is built to contain)."""
    gi = np.arange(n, dtype=np.uint64)
    kind, base = _kind(gi, seed)
    ids = lambda k: {f"img_{g:012d}" for g in np.flatnonzero(kind == k)}  # noqa: E731
    return {
        "corrupt": ids(1),
        "blurry": ids(4),
        "near_dup_plants": int(((kind == 3) & (kind[base] == 0)).sum()),
    }


# --- online_tiles ------------------------------------------------------------


def points(start: int, count: int, seed: int) -> pa.Table:
    """Point arrivals ``[start, start+count)`` on the skewed distribution."""
    gi = np.arange(start, start + count, dtype=np.uint64)
    lat, lon = latlon_e7_np(_location_phash(gi, seed ^ 0x5EED))
    return pa.table(
        {
            "image_id": pa.array([f"pt_{g:010d}" for g in range(start, start + count)]),
            "lat_e7": pa.array(lat, pa.int64()),
            "lon_e7": pa.array(lon, pa.int64()),
        }
    )


def knn_queries(request: int, m: int, seed: int) -> pa.Table:
    """Query batch ``request``: half near a hot centre, half uniform, with
    k cycling through the datagen query ks."""
    idx = np.arange(m, dtype=np.uint64) + np.uint64(request * m)
    h = splitmix64(idx ^ np.uint64(seed * 65_537 + 3))
    which = (h % np.uint64(len(HOT_CENTERS))).astype(np.int64)
    jit = lambda s: ((h >> np.uint64(s)) % np.uint64(60_000)).astype(np.int64) - 30_000  # noqa: E731
    hot_lat = np.choose(which, [c[0] for c in HOT_CENTERS]) + jit(8)
    hot_lon = np.choose(which, [c[1] for c in HOT_CENTERS]) + jit(28)
    uni_lat = ((h >> np.uint64(4)) % np.uint64(1_600_000_000)).astype(np.int64) - 800_000_000
    uni_lon = ((h >> np.uint64(20)) % np.uint64(3_500_000_000)).astype(np.int64) - 1_750_000_000
    hot = np.arange(m) % 2 == 0
    k = np.array(K_CYCLE, dtype=np.int32)[(idx % np.uint64(len(K_CYCLE))).astype(np.int64)]
    return pa.table(
        {
            "query_id": pa.array([f"q_{request:05d}_{i:03d}" for i in range(m)]),
            "lat_e7": pa.array(np.where(hot, hot_lat, uni_lat), pa.int64()),
            "lon_e7": pa.array(np.where(hot, hot_lon, uni_lon), pa.int64()),
            "k": pa.array(k, pa.int32()),
        }
    )


# --- input properties --------------------------------------------------------


def hot_share(lat: np.ndarray, lon: np.ndarray) -> float:
    """Share of points within the datagen jitter of a hot centre."""
    hot = np.zeros(len(lat), dtype=bool)
    for clat, clon in HOT_CENTERS:
        hot |= (np.abs(lat - clat) <= HOT_JITTER_E7 + 1) & (
            np.abs(lon - clon) <= HOT_JITTER_E7 + 1
        )
    return round(float(hot.mean()), 4)


def image_properties(
    images_dir: Path, corrupt_rows: int = 0, near_dup_plants: int = 0
) -> dict:
    """Properties of an image input, printed with the results: measured
    from the files, except the planted counts the caller passes.
    ``file_repeat_share`` is the share of rows whose blob already occurred
    in the same part file: about the decode-cache hit share of a task that
    reads whole files."""
    files = sorted(images_dir.glob("*.parquet"))
    n, repeats, phashes, seen = 0, 0, [], set()
    for f in files:
        t = pq.read_table(f, columns=["bytes", "phash"])
        digests = [hashlib.md5(b).digest() for b in t["bytes"].to_pylist()]
        n += len(digests)
        repeats += len(digests) - len(set(digests))
        seen.update(digests)
        phashes.append(t["phash"].to_numpy())
    return {
        "rows": n,
        "distinct_blob_ratio": round(len(seen) / n, 4),
        "exact_dup_share": round((n - len(seen)) / n, 4),
        "file_repeat_share": round(repeats / n, 4),
        "hot_cell_share": hot_share(*latlon_e7_np(np.concatenate(phashes))),
        "corrupt_share": round(corrupt_rows / n, 4),
        "near_dup_plants": near_dup_plants,
    }
