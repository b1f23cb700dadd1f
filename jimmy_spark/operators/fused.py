"""Fused spatial pipeline stage: ONE narrow map over the images table.

decode -> validate -> georef -> hex r7-9 -> S2 l12/14/16 -> XYZ tiles ->
broadcast R-tree PIP, all inside a single ``mapInPandas`` (one Arrow
crossing, zero shuffle, every kernel NumPy-vectorized over the batch).

This is the 100-TB hot path: the modular operators (decode.py, cells.py,
pip.py, tiling.py) define and verify the semantics — each matched to a
DuckDB oracle — and this stage fuses them so a 10^12-row scan pays one
Python round-trip per batch instead of five chained stages. Shuffles only
happen *after* this map, in the aggregations (salted counts etc.).
tests/test_fused.py asserts fused == composition of the modular operators
row for row.

Output: one row per input image; PIP matches as an array<string> column
(explode downstream when the pair-stream shape is needed).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jimmy_spark.functions import georef, hexgrid, s2, tiles
from jimmy_spark.functions.raycast import inside_ring
from jimmy_spark.functions.rtree import STRtree
from jimmy_spark.operators.decode import sized_columns
from jimmy_spark.operators.pip import _polygons_to_arrays

FUSED_SCHEMA = (
    "image_id string, caption string, ok boolean, error string, "
    "px_checksum long, lat_e7 long, lon_e7 long, "
    "hex_r7 long, hex_r8 long, hex_r9 long, "
    "s2_l12 long, s2_l14 long, s2_l16 long, "
    "tile_z8_x long, tile_z8_y long, tile_z12_x long, tile_z12_y long, "
    "tile_z16_x long, tile_z16_y long, polygon_ids array<string>"
)


def fused_spatial_stage(images: DataFrame, polygons: pd.DataFrame) -> DataFrame:
    ids_arr, ring_x, ring_y, min_x, min_y, max_x, max_y = _polygons_to_arrays(
        polygons
    )
    tree = STRtree(min_x, min_y, max_x, max_y)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task content-addressed decode cache (multimodal.blob_rows):
        # the bench corpus repeats each blob ~4.4x, and decode+crc is the
        # kernel's dominant cost
        cache: dict = {}
        for pdf in batches:
            n = len(pdf)
            dec = sized_columns(pdf, ("dec_h", "dec_w", "px_checksum"), cache)

            phash = pdf["phash"].to_numpy(np.int64)
            lat, lon = georef.latlon_e7_np(phash)
            out = {
                "image_id": pdf["image_id"].to_numpy(),
                "caption": pdf["caption"].to_numpy(),
                "ok": dec["ok"],
                "error": dec["error"],
                "px_checksum": dec["px_checksum"],
                "lat_e7": lat,
                "lon_e7": lon,
            }
            for res in hexgrid.RESOLUTIONS:
                out[f"hex_r{res}"] = hexgrid.encode(lat, lon, res)
            for lvl in (12, 14, 16):
                out[f"s2_l{lvl}"] = s2.encode(lat, lon, lvl)
            for z in tiles.ZOOMS:
                x, y = tiles.xy_np(lat, lon, z)
                out[f"tile_z{z}_x"] = x
                out[f"tile_z{z}_y"] = y

            pi, ri = tree.query_points(lon, lat)
            polys: list[list[str]] = [[] for _ in range(n)]
            for r in np.unique(ri):
                m = ri == r
                sel = pi[m]
                inside = inside_ring(lon[sel], lat[sel], ring_x[r], ring_y[r])
                for p in sel[inside]:
                    polys[p].append(str(ids_arr[r]))
            out["polygon_ids"] = [sorted(p) for p in polys]
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return images.select(*cols).mapInPandas(gen, FUSED_SCHEMA)
