"""Fused stage == composition of the modular (oracle-verified) operators."""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from jimmy_spark.operators import cells, decode, fused, pip, tiling


def test_fused_matches_modular(spark, t1_dir):
    imgs = spark.read.parquet(f"{t1_dir}/images.parquet")
    poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()

    f_out = fused.fused_spatial_stage(imgs, poly_pdf).cache()

    d = decode.decode_stage(imgs)
    pts = cells.with_s2_cells(
        cells.with_hex_cells(cells.with_georef(d), use_arrow_udf=False)
    )
    pts = tiling.with_tiles(pts)
    m = pts.toPandas().set_index("image_id").sort_index()
    g = f_out.toPandas().set_index("image_id").sort_index()

    assert (g["ok"] == m["ok"]).all()
    for c in ("px_checksum", "lat_e7", "lon_e7", "hex_r7", "hex_r8", "hex_r9",
              "s2_l12", "s2_l14", "s2_l16", "tile_z8_x", "tile_z8_y",
              "tile_z12_x", "tile_z12_y", "tile_z16_x", "tile_z16_y"):
        assert (g[c] == m[c]).all(), c
    assert (g["caption"] == m["caption"]).all()

    pairs_modular = {
        (r.image_id, r.polygon_id)
        for r in pip.pip_join_rtree(
            cells.with_georef(imgs.select("image_id", "phash")), poly_pdf
        ).collect()
    }
    pairs_fused = {
        (r.image_id, p)
        for r in f_out.select("image_id", "polygon_ids").collect()
        for p in r.polygon_ids
    }
    assert pairs_fused == pairs_modular and len(pairs_fused) > 0


@pytest.mark.parametrize("stage", ["fused", "decode"])
def test_fused_decode_cache_is_per_row_correct(spark, t1_dir, stage):
    """The content-addressed decode cache memoizes only blob-determined
    values (shape, crc, error); the shape-vs-declared validation that
    fused_spatial_stage and decode_stage share must stay per row. Rows
    sharing identical bytes but declaring different sizes get different
    verdicts, and a repeated corrupt blob reports the same error on every
    row."""
    import numpy as np

    from jimmy_spark.codecs import qjpg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    good = qjpg.encode(img)
    bad = b"QJPGgarbage-not-a-stream"
    rows = [
        ("a", good, 16, 16, "jpeg", "cap", 1),
        ("b", good, 8, 8, "jpeg", "cap", 2),     # same bytes, wrong decl
        ("c", good, 16, 16, "jpeg", "cap", 3),   # cache hit, still ok
        ("d", bad, 16, 16, "jpeg", "cap", 4),
        ("e", bad, 16, 16, "jpeg", "cap", 5),    # cached error replays
        ("f", None, 16, 16, "jpeg", "cap", 6),   # NULL blob: error row,
        ("g", None, 16, 16, "jpeg", "cap", 7),   # not a task TypeError
    ]
    imgs = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    if stage == "fused":
        poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()
        staged = fused.fused_spatial_stage(imgs, poly_pdf)
    else:
        staged = decode.decode_stage(imgs)
    out = {r.image_id: r for r in staged.collect()}
    assert out["a"].ok and out["c"].ok
    assert out["a"].px_checksum == out["c"].px_checksum != 0
    assert not out["b"].ok
    assert out["b"].error == "decoded size 16x16 != declared 8x8"
    assert not out["d"].ok and not out["e"].ok
    assert out["d"].error == out["e"].error and out["d"].error
    assert not out["f"].ok and not out["g"].ok
    assert out["f"].error == out["g"].error and "corrupt" in out["f"].error
