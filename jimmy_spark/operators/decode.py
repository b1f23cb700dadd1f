"""Image decode + validate stage (mapInPandas, per-record error isolation).

The Spark analogue of the reference's converter loop with
``@common.catch_all_exceptions`` per-note isolation
(/root/reference/src/jimmy/common.py:66-82): a corrupt record never kills
the job — it flows to the ``ok=false`` side with an ``error`` string, and
all other rows proceed (FIXTURES.md §7).

Output drops ``bytes`` (images are decoded, verified and reduced to pixel
stats in the same pass), so the wide binary column never crosses a shuffle
— at 10^12-row scale this stage is the only reader of ``bytes`` and runs as
a narrow map over the Iceberg/parquet scan with column pruning. Arrow batch
size is capped in session.py so batches of 64x48 BMP rows stay ~20 MB.

Per-row pixel stats are deterministic (crc32 checksum, integer mean*1000)
so downstream comparisons are exact. PSNR-vs-reference validation happens
in tests (tests/test_codecs.py) with the pinned codecs.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jimmy_spark.codecs import decode_image
from jimmy_spark.operators.multimodal import blob_columns

DECODE_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, phash long, "
    "ok boolean, error string, px_checksum long, px_mean_milli long, "
    "dec_w int, dec_h int"
)
DECODE_COLS = ("px_checksum", "px_mean_milli", "dec_w", "dec_h")
_PASS = ("image_id", "w", "h", "fmt", "caption", "phash")


def _decode_row(blob, fmt) -> tuple:
    """Per-row reference (dec_h, dec_w, crc, mean_milli, err) for the
    registry's decode columns — pure in (fmt, bytes)."""
    try:
        arr = decode_image(blob, fmt)
        return (
            arr.shape[0], arr.shape[1], zlib.crc32(arr),
            int(arr.astype(np.int64).sum() * 1000 // arr.size), None,
        )
    except ValueError as e:
        return (0, 0, 0, 0, str(e))


def sized_columns(
    pdf: pd.DataFrame, cols: Sequence[str], cache: dict | None = None
) -> dict[str, np.ndarray]:
    """``blob_columns`` (``cols`` including dec_w and dec_h) plus the
    check that each row's decoded size equals its declared (w, h). The
    check stays per row, outside the blob cache, so two rows sharing bytes
    but declaring different sizes get their own verdicts. A mismatch keeps
    dec_w/dec_h and zeroes the other columns."""
    c = blob_columns(pdf, cols, cache)
    ws, hs = pdf["w"].to_numpy(), pdf["h"].to_numpy()
    bad = c["ok"] & ((c["dec_w"] != ws) | (c["dec_h"] != hs))
    for i in np.flatnonzero(bad):
        c["error"][i] = (
            f"decoded size {c['dec_w'][i]}x{c['dec_h'][i]} != "
            f"declared {ws[i]}x{hs[i]}"
        )
    c["ok"] &= ~bad
    for name in cols:
        if name not in ("dec_w", "dec_h"):
            c[name][bad] = 0
    return c


def _decode_batch(pdf: pd.DataFrame, cache: dict | None = None) -> pd.DataFrame:
    kept = {k: pdf[k].to_numpy() for k in _PASS}
    return pd.DataFrame({**kept, **sized_columns(pdf, DECODE_COLS, cache)})


def decode_stage(images: DataFrame) -> DataFrame:
    """images (input_hint schema) -> decoded/validated stats rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            yield _decode_batch(pdf, cache)

    return images.select(*_PASS, "bytes").mapInPandas(gen, DECODE_SCHEMA)
