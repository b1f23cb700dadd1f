"""Multimodal column operators: images are opaque ``binary`` + typed
metadata; decode/feature/resize run as Arrow-batched ``mapInPandas``.

Real here (pure NumPy on our codecs): image decode, per-channel stats,
histogram features, nearest-neighbor thumbnailing, aHash perceptual hash;
audio features and video frame sampling over DETERMINISTIC FAKE codecs
(codecs/qwav.py, qvid.py — no libsndfile/ffmpeg in this container; the
STUB NOTICE lives in the codec modules and swapping a real decoder in
changes only them, the Spark plumbing here is real and tested).

Every image entry point (``image_features``, fingerprints.py's
``image_fingerprints`` and ``curation_features_full``, decode.py's
``decode_stage`` and fused.py's spatial map) resolves its rows through one
kernel: ``blob_rows`` decodes each distinct blob once, and the column
registry below runs only the kernels the requested columns need.
"""

from __future__ import annotations

import functools
import hashlib
import zlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jimmy_spark.codecs import decode_image

# Per-task content-addressed cache: every registry column is a pure
# function of (fmt, bytes), so identical blobs pay decode+kernels once per
# task instead of once per row (measured 4-6x blob duplication in
# web-scale corpora and in the bench/curate fixtures). Keys are
# (fmt, blake2b-128(bytes)) — 16-byte digests, never the blobs: keying on
# the raw blob would pin up to _CACHE_CAP full images (and their Arrow
# batch buffers) in executor memory, while a digest keeps each entry ~100
# bytes regardless of image size (128-bit collision odds are negligible at
# any corpus size). Cleared at the cap.
_CACHE_CAP = 65536
# images per same-shape stack: bounds the per-stack int32/float temporaries
_GROUP = 256


def blob_key(fmt, blob) -> tuple:
    """(fmt, digest) cache key; NULL blobs key on a sentinel so the
    decode path's usual error row is cached/replayed like any other."""
    if blob is None:
        return (fmt, None)
    return (fmt, hashlib.blake2b(blob, digest_size=16).digest())


# --- per-row reference kernels (tests assert the registry equals them) ----


def _quality_ints(arr_u8: np.ndarray) -> tuple[int, int]:
    """Exact-integer image-quality pair (training-data filter features):

    ``sharp_e3``  — 1000x the population variance of the 4-neighbor
                    Laplacian of the 8-bit integer luma ((299r+587g+114b)
                    div 1000), the classic variance-of-Laplacian focus
                    measure; blur drives it toward 0. Interior pixels
                    only; images thinner than 3px score 0.
    ``clip_e3``   — 1000x the fraction of pixels with ANY channel clipped
                    at 0 or 255 (over/under-exposure), floor-divided.

    All arithmetic is int64-bounded NumPy + arbitrary-precision Python for
    the variance numerator, so results are bit-identical across hosts —
    the same no-IEEE contract as operators/raster.py idw_raster.
    """
    a = arr_u8.astype(np.int64)
    luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    h, w = luma.shape
    if h >= 3 and w >= 3:
        lap = (
            4 * luma[1:-1, 1:-1]
            - luma[:-2, 1:-1] - luma[2:, 1:-1]
            - luma[1:-1, :-2] - luma[1:-1, 2:]
        )
        m = int(lap.size)
        s1 = int(lap.sum())
        s2 = int((lap * lap).sum())
        sharp = (1000 * (m * s2 - s1 * s1)) // (m * m)
    else:
        sharp = 0
    clipped = int(((a == 0) | (a == 255)).any(axis=2).sum())
    return sharp, (1000 * clipped) // (h * w)


_W64 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _ahash(gray: np.ndarray) -> np.int64:
    """8x8 average hash (public aHash algorithm) — the engine's computed
    perceptual hash (the input table's ``phash`` column is the precomputed
    analogue, jimmy's Resource.md5). Bit i set iff cell i beats the mean;
    packing is a uint64 dot against the power weights (LSB-first, the
    same value the r5 per-bit loop produced — distinct powers of two sum
    below 2^64, so no wraparound)."""
    t = _resize_nn(gray, 8, 8)
    bits = (t > t.mean()).ravel()
    val = bits.astype(np.uint64) @ _W64
    return np.int64(np.uint64(val).view(np.int64))


def _resize_nn(
    arr: np.ndarray, w: int, h: int, stacked: bool = False
) -> np.ndarray:
    """Nearest-neighbor resize to (h, w) by integer index math: output
    index i reads source index (i * extent) // size. Resizes the first two
    axes, or axes 1-2 of a stack of images when ``stacked``."""
    sh, sw = arr.shape[int(stacked) : int(stacked) + 2]
    ys = (np.arange(h) * sh) // h
    xs = (np.arange(w) * sw) // w
    if stacked:
        return arr[:, ys][:, :, xs]
    return arr[ys][:, xs]


_LUM_W = np.array([0.299, 0.587, 0.114])


def _features_row(blob, fmt) -> tuple:
    """Blob-determined feature tuple — a pure function of (fmt, bytes),
    hence cacheable per task: (ok, error, mean_r, mean_g, mean_b,
    std_lum, edge_energy, ahash, thumb_crc, sharp_e3, clip_e3). The float
    math is unchanged from r5 (same exact-integer inputs, same op order),
    so values are bit-identical to the uncached kernel."""
    try:
        u8 = decode_image(blob, fmt)
        arr = u8.astype(np.float64)
        lum = arr @ _LUM_W
        gx = np.abs(np.diff(lum, axis=1)).mean() if lum.shape[1] > 1 else 0.0
        gy = np.abs(np.diff(lum, axis=0)).mean() if lum.shape[0] > 1 else 0.0
        sharp, clip = _quality_ints(u8)
        return (
            True, None,
            arr[:, :, 0].mean(), arr[:, :, 1].mean(), arr[:, :, 2].mean(),
            lum.std(), gx + gy,
            _ahash(lum),
            zlib.crc32(_resize_nn(u8, 16, 16).tobytes()),
            sharp, clip,
        )
    except ValueError as e:
        return (False, str(e), 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0, 0, 0)


# --- the column registry ----------------------------------------------------


class _Stack:
    """Same-shape decoded images ``u83`` (k, h, w, 3) plus the integer
    luma that the quality, dHash and pHash kernels share, computed at most
    once per stack."""

    def __init__(self, u83: np.ndarray):
        self.u83 = u83

    @functools.cached_property
    def luma(self) -> np.ndarray:
        """8-bit integer luma (k, h, w), the ``_quality_ints`` definition.
        int32 holds every intermediate (luma <= 255000 < 2^31), so the
        values are exactly the int64 per-row ones."""
        a32 = self.u83.astype(np.int32)
        return (299 * a32[..., 0] + 587 * a32[..., 1] + 114 * a32[..., 2]) // 1000


def _decoded(s: _Stack) -> tuple:
    k, h, w = s.u83.shape[:3]
    # buffer-protocol crc of each C-contiguous stacked image: the value of
    # crc32(tobytes()) without the copy
    return [h] * k, [w] * k, [zlib.crc32(u) for u in s.u83]


def _px_mean_milli(s: _Stack) -> tuple:
    k = len(s.u83)
    return (s.u83.reshape(k, -1).sum(axis=1, dtype=np.int64) * 1000 // s.u83[0].size,)


def _quality_ints_batch(s: _Stack) -> tuple[list[int], list[int]]:
    """``_quality_ints`` over a stack — all integer math, so vectorization
    is exact by construction; the final variance formula stays in
    arbitrary-precision Python ints per image (the same no-IEEE contract)."""
    u83 = s.u83
    k, h, w = u83.shape[:3]
    if h >= 3 and w >= 3:
        # int32 intermediates: |lap| <= 1020 and lap^2 <= 1,040,400, and
        # the sums accumulate in explicit int64, so results are exactly
        # the int64 per-row kernel's at half the memory traffic
        luma3 = s.luma
        lap3 = (
            4 * luma3[:, 1:-1, 1:-1]
            - luma3[:, :-2, 1:-1] - luma3[:, 2:, 1:-1]
            - luma3[:, 1:-1, :-2] - luma3[:, 1:-1, 2:]
        )
        m = int(lap3.shape[1] * lap3.shape[2])
        s1 = lap3.sum(axis=(1, 2), dtype=np.int64)
        s2 = (lap3 * lap3).sum(axis=(1, 2), dtype=np.int64)
        sharp = [
            (1000 * (m * int(s2[j]) - int(s1[j]) * int(s1[j]))) // (m * m)
            for j in range(k)
        ]
    else:
        sharp = [0] * k
    clip3 = ((u83 == 0) | (u83 == 255)).any(axis=3).sum(axis=(1, 2))
    return sharp, [(1000 * int(c)) // (h * w) for c in clip3]


def _thumb_crcs(s: _Stack) -> tuple:
    thumbs = _resize_nn(s.u83, 16, 16, stacked=True)
    return ([zlib.crc32(t.tobytes()) for t in thumbs],)


def _dhashes(s: _Stack) -> tuple:
    from jimmy_spark.operators.fingerprints import _dhash_batch  # imports us

    return (_dhash_batch(s.luma),)


def _phashes(s: _Stack) -> tuple:
    from jimmy_spark.operators.fingerprints import _phash_batch  # imports us

    return (_phash_batch(s.luma),)


def _stats(arr: np.ndarray, lum: np.ndarray) -> tuple:
    h, w = lum.shape
    gx = np.abs(np.diff(lum, axis=1)).mean() if w > 1 else 0.0
    gy = np.abs(np.diff(lum, axis=0)).mean() if h > 1 else 0.0
    return (
        arr[:, :, 0].mean(), arr[:, :, 1].mean(), arr[:, :, 2].mean(),
        lum.std(), gx + gy,
    )


def _md5(blob) -> tuple:
    # matches Spark's F.md5: lowercase hex over the raw bytes
    return (hashlib.md5(blob).hexdigest() if blob is not None else None,)


# Kernel name -> (kernel, ((column, SQL type), ...)). A kernel fills all
# of its columns and runs at most once per stack, and only when a
# requested column needs it.
# - Stack kernels take a _Stack and return one per-image sequence per
#   column: integer math, exact in any evaluation order.
# - Image kernels take ONE image's fresh float64 copy and its float luma
#   and return one value per column. The float reductions stay per image
#   on freshly allocated inputs: batched float stacks put images at odd
#   SIMD alignments and batched matmuls reassociate the 3-term luma dot,
#   both of which drift the last ulp (OPTIMIZATION_r06 §2).
# - Blob kernels read the raw bytes, so error rows carry their columns too.
_STACK_KERNELS = {
    "decoded": (
        _decoded, (("dec_h", "int"), ("dec_w", "int"), ("px_checksum", "long"))
    ),
    "px_mean": (_px_mean_milli, (("px_mean_milli", "long"),)),
    "quality": (_quality_ints_batch, (("sharp_e3", "long"), ("clip_e3", "long"))),
    "thumb": (_thumb_crcs, (("thumb_crc", "long"),)),
    "dhash": (_dhashes, (("dhash", "long"),)),
    "phash": (_phashes, (("phash_dct", "long"),)),
}
_IMAGE_KERNELS = {
    "stats": (
        _stats,
        (("mean_r", "double"), ("mean_g", "double"), ("mean_b", "double"),
         ("std_lum", "double"), ("edge_energy", "double")),
    ),
    "ahash": (lambda _arr, lum: (_ahash(lum),), (("ahash", "long"),)),
}
_BLOB_KERNELS = {"md5": (_md5, (("content_md5", "string"),))}
_ALL_KERNELS = {**_STACK_KERNELS, **_IMAGE_KERNELS, **_BLOB_KERNELS}
_KERNEL_OF = {c: k for k, (_, cs) in _ALL_KERNELS.items() for c, _ in cs}
_TYPE = {  # column -> SQL type
    "ok": "boolean", "error": "string",
    **{c: t for _, cs in _ALL_KERNELS.values() for c, t in cs},
}
_DTYPE = {
    "boolean": bool, "string": object, "int": np.int32, "long": np.int64,
    "double": np.float64,
}


def _run_kernels(u83: np.ndarray, stack_ks: list, image_ks: list) -> dict:
    """column -> per-image values for one stack, from the given kernels."""
    s = _Stack(u83)
    vals: dict = {}
    for fn, cs in stack_ks:
        vals.update(zip((c for c, _ in cs), fn(s)))
    if image_ks:
        for c in (c for _, cs in image_ks for c, _ in cs):
            vals[c] = []
        for u8 in u83:
            arr = u8.astype(np.float64)
            lum = arr @ _LUM_W
            for fn, cs in image_ks:
                for (c, _), v in zip(cs, fn(arr, lum)):
                    vals[c].append(v)
    return vals


def blob_rows(blobs, fmts, cols: Sequence[str], cache: dict | None) -> list[tuple]:
    """Resolve each row to ``(ok, error, *cols)`` — the per-row reference
    kernels' tuple layout. One cache lookup per row and one decode per
    distinct (fmt, blob): repeats within the call wait on the first
    occurrence, and ``cache`` (a per-task dict serving ONE column list;
    None runs uncached) carries results across calls. Decoded images are
    stacked by shape, ``_GROUP`` at a time, and each stack runs only the
    kernels ``cols`` needs: tiny images (the common web-corpus case)
    otherwise pay ~1-3us of NumPy dispatch per op per row, which dominates
    the arithmetic. A blob the codec rejects (ValueError, NULL included)
    resolves to ``(False, message, 0, ...)`` with its blob-kernel columns
    still filled."""
    want = {_KERNEL_OF[c] for c in cols}
    stack_ks = [v for k, v in _STACK_KERNELS.items() if k in want]
    image_ks = [v for k, v in _IMAGE_KERNELS.items() if k in want]
    blob_ks = [v for k, v in _BLOB_KERNELS.items() if k in want]
    out: list = [None] * len(blobs)
    rows_of: dict[tuple, list[int]] = {}  # key -> the rows it resolves
    done: dict[tuple, tuple] = {}
    stacks: dict[tuple, list] = {}  # shape -> [(key, u8, blob values)]
    for i, (blob, fmt) in enumerate(zip(blobs, fmts)):
        key = blob_key(fmt, blob)
        if key in rows_of:
            rows_of[key].append(i)
            continue
        hit = None if cache is None else cache.get(key)
        if hit is not None:
            out[i] = hit
            continue
        rows_of[key] = [i]
        bv = {c: v for fn, cs in blob_ks for (c, _), v in zip(cs, fn(blob))}
        try:
            u8 = decode_image(blob, fmt)
        except ValueError as e:
            done[key] = (False, str(e), *(bv.get(c, 0) for c in cols))
            continue
        stacks.setdefault(u8.shape, []).append((key, u8, bv))
    for items in stacks.values():
        for g0 in range(0, len(items), _GROUP):
            part = items[g0 : g0 + _GROUP]
            u83 = np.stack([u for _, u, _ in part])
            vals = _run_kernels(u83, stack_ks, image_ks)
            for j, (key, _, bv) in enumerate(part):
                done[key] = (
                    True, None, *(bv[c] if c in bv else vals[c][j] for c in cols)
                )
    for key, rows in rows_of.items():
        val = done[key]
        if cache is not None:
            if len(cache) >= _CACHE_CAP:
                cache.clear()
            cache[key] = val
        for i in rows:
            out[i] = val
    return out


def blob_columns(
    pdf: pd.DataFrame, cols: Sequence[str], cache: dict | None = None
) -> dict[str, np.ndarray]:
    """``blob_rows`` over one Arrow batch (``bytes``, ``fmt``) as typed
    columns: ``ok``, ``error``, then ``cols``."""
    names = ("ok", "error", *cols)
    rows = blob_rows(pdf["bytes"].to_numpy(), pdf["fmt"].to_numpy(), cols, cache)
    vals = list(zip(*rows)) or [()] * len(names)
    return {c: np.array(v, dtype=_DTYPE[_TYPE[c]]) for c, v in zip(names, vals)}


def blob_features(
    images: DataFrame, cols: Sequence[str], keep: Sequence[str] = ()
) -> DataFrame:
    """One Arrow crossing over ``images`` (``bytes``, ``fmt``): the
    ``keep`` columns passed through, then ``ok``, ``error`` and the
    registry columns ``cols``. Each distinct blob pays decode+kernels once
    per task; a corrupt row flows out with ok=false and its error instead
    of failing the task (FIXTURES.md §7)."""
    cols, keep = tuple(cols), tuple(keep)
    unknown = [c for c in cols if c not in _KERNEL_OF]
    if unknown:
        raise ValueError(f"unknown blob feature column(s): {unknown}")
    schema = ", ".join(
        [f"{c} {images.schema[c].dataType.simpleString()}" for c in keep]
        + [f"{c} {_TYPE[c]}" for c in ("ok", "error", *cols)]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            kept = {c: pdf[c].to_numpy() for c in keep}
            yield pd.DataFrame({**kept, **blob_columns(pdf, cols, cache)})

    return images.select(*dict.fromkeys((*keep, "bytes", "fmt"))).mapInPandas(
        gen, schema
    )


FEATURE_COLS = (
    "mean_r", "mean_g", "mean_b", "std_lum", "edge_energy",
    "ahash", "thumb_crc", "sharp_e3", "clip_e3",
)


def image_features(images: DataFrame) -> DataFrame:
    """decode -> per-channel means, luminance std, gradient energy, aHash,
    16x16 thumbnail crc and the quality pair, one row per image."""
    return blob_features(images, FEATURE_COLS, keep=("image_id",))




# --- audio / video: real Spark plumbing over deterministic fake codecs ----
# (codecs/qwav.py + qvid.py carry the STUB NOTICE: no libsndfile/ffmpeg in
# this container, so the decode step is a deterministic stand-in; swapping
# a real decoder in changes only the codec module.)

AUDIO_SCHEMA = (
    "media_id string, ok boolean, error string, sample_rate int, "
    "n_samples int, duration_ms long, rms_milli long, peak long, "
    "zero_crossings long"
)


def _audio_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    from jimmy_spark.codecs import qwav

    n = len(pdf)
    cols = {
        "media_id": pdf["media_id"].to_numpy(),
        "ok": np.zeros(n, dtype=bool),
        "error": np.full(n, None, dtype=object),
        "sample_rate": np.zeros(n, dtype=np.int32),
        "n_samples": np.zeros(n, dtype=np.int32),
        "duration_ms": np.zeros(n, dtype=np.int64),
        "rms_milli": np.zeros(n, dtype=np.int64),
        "peak": np.zeros(n, dtype=np.int64),
        "zero_crossings": np.zeros(n, dtype=np.int64),
    }
    blobs = pdf["bytes"].to_numpy()
    for i in range(n):
        try:
            samples, sr = qwav.decode(bytes(blobs[i]))
            x = samples.astype(np.int64)
            cols["sample_rate"][i] = sr
            cols["n_samples"][i] = x.size
            cols["duration_ms"][i] = x.size * 1000 // sr
            # zero-sample streams are legal: all stats degenerate to 0
            # (an unguarded mean() would be NaN and int(NaN) would raise)
            if x.size:
                cols["rms_milli"][i] = int(
                    np.floor(np.sqrt((x * x).mean()) * 1000)
                )
                cols["peak"][i] = int(np.abs(x).max())
                cols["zero_crossings"][i] = int(
                    np.count_nonzero((x[1:] < 0) != (x[:-1] < 0))
                )
            cols["ok"][i] = True
        except Exception as e:  # noqa: BLE001 — zlib/struct errors too
            cols["error"][i] = str(e)
    return pd.DataFrame(cols)


def audio_features(df: DataFrame) -> DataFrame:
    """decode (deterministic fake codec) -> duration / integer-RMS / peak /
    zero-crossing features; error-isolated like image_features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _audio_batch(pdf)

    return df.select("media_id", "bytes").mapInPandas(gen, AUDIO_SCHEMA)


VIDEO_SCHEMA = (
    "media_id string, ok boolean, error string, frame_idx int, "
    "fps int, mean_milli long, frame_crc long"
)


def _video_batch(pdf: pd.DataFrame, every_n: int) -> pd.DataFrame:
    from jimmy_spark.codecs import qvid

    rows: list[tuple] = []
    for media_id, blob in zip(pdf["media_id"], pdf["bytes"]):
        try:
            frames, fps = qvid.decode(bytes(blob))
            for fi in range(0, frames.shape[0], every_n):
                fr = frames[fi]
                rows.append(
                    (
                        media_id, True, None, fi, fps,
                        int(fr.astype(np.int64).sum() * 1000 // fr.size),
                        int(zlib.crc32(fr)),
                    )
                )
        except Exception as e:  # noqa: BLE001 — per-record isolation
            rows.append((media_id, False, str(e), -1, 0, 0, 0))
    return pd.DataFrame(
        rows,
        columns=[
            "media_id", "ok", "error", "frame_idx", "fps",
            "mean_milli", "frame_crc",
        ],
    )


def video_frame_sample(df: DataFrame, every_n: int = 3) -> DataFrame:
    """decode (deterministic fake container) -> one row per every_n-th
    frame with integer mean + crc; error-isolated per record."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _video_batch(pdf, every_n)

    return df.select("media_id", "bytes").mapInPandas(gen, VIDEO_SCHEMA)
