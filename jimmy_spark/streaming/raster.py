"""Continuous heat-tile maintenance: the servable XYZ raster stays
current as points stream in, and each micro-batch re-renders ONLY the
tiles it actually touched.

Why this shape at scale: a planet-wide tile set is O(4^zoom) tiles; a
micro-batch of pings touches a tiny, skewed subset. Re-rendering the
world per batch (the naive batch-rerun) is O(world); here every batch
pays O(dirty tiles) — delta pixel counts from the new points, one
semi-join to pull the dirty tiles' previous counts, one sum, one
render. Pixel counts are a MONOID (per-(tile, pixel) sums), so
``old counts + batch delta`` is exact — the streaming analogue of the
identity that makes operators/raster.render_heat_pyramid derive coarse
zooms from the finest frame.

State layout (batch-id-keyed, streaming/state.py ``BatchDirs``):

- ``<out>/counts/b=<id>``: the UPDATED (x, y, px, py, cnt) rows for the
  tiles batch ``id`` dirtied — always a tile's complete pixel set, so
  the current counts of any tile are exactly its rows in the HIGHEST
  batch dir that contains it.
- ``<out>/tiles/b=<id>``: the re-rendered PNG rows for those tiles.

``latest_heat_tiles`` folds latest-per-tile across the batch dirs and
equals the batch ``render_heat_tiles`` over every point seen — the
tests compare tile BYTES. A replayed batch reads state strictly below
its own id and overwrites its two dirs deterministically. Long streams
accumulate one dir per dirty batch; compaction is a single rewrite of
latest-per-tile into one dir (``compact_state``) and changes nothing
observable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from jimmy_spark.codecs import png
from jimmy_spark.functions import tiles
from jimmy_spark.operators.raster import TILE_PX, _TILE_SCHEMA, tone_map
from jimmy_spark.streaming.state import BatchDirs, drain, require_drained


def latest_heat_tiles(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The current rendered tile set (latest row per tile), or None
    before the first batch. Equal to batch ``render_heat_tiles`` over
    every point arrived so far."""
    rendered = BatchDirs(f"{out_dir}/tiles")
    return rendered.fold_latest(spark, ["x", "y"], rendered.ids())


def _delta_counts(pts: DataFrame, zoom: int, lat_col: str, lon_col: str) -> DataFrame:
    fine = zoom + 8
    fx = tiles.x_col(F.col(lon_col), fine)
    fy = tiles.y_col(F.col(lat_col), fine)
    tx = tiles.x_col(F.col(lon_col), zoom)
    ty = tiles.y_col(F.col(lat_col), zoom)
    return (
        pts.select(
            tx.alias("x"),
            ty.alias("y"),
            (fx - tx * TILE_PX).alias("px"),
            (fy - ty * TILE_PX).alias("py"),
        )
        .groupBy("x", "y", "px", "py")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _render_tiles(px_counts: DataFrame, zoom: int) -> DataFrame:
    """The render_heat_tiles tail over an already-built pixel-count
    frame (same per-tile kernel, bit-identical bytes)."""

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        grid = np.zeros((TILE_PX, TILE_PX), dtype=np.int64)
        grid[pdf["py"].to_numpy(np.int64), pdf["px"].to_numpy(np.int64)] = (
            pdf["cnt"].to_numpy(np.int64)
        )
        mx = int(grid.max())
        return pd.DataFrame(
            {
                "z": [zoom], "x": [x], "y": [y],
                "n_points": [int(pdf["cnt"].sum())],
                "max_count": [mx],
                "png": [png.encode(tone_map(grid, mx))],
            }
        )

    return px_counts.groupBy("x", "y").applyInPandas(render, _TILE_SCHEMA)


def run_heat_tile_stream(
    spark: SparkSession,
    points_dir: str,
    source_schema: str,
    out_dir: str,
    checkpoint_dir: str,
    zoom: int,
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain everything currently in ``points_dir``, folding each
    micro-batch's points into the tile state and re-rendering only the
    dirty tiles; exactly-once across restarts (source offsets in
    ``checkpoint_dir``, batch-id-keyed overwrite under ``out_dir``),
    then return. Calling again after more files arrive folds only the
    new files; calling again with nothing new is a no-op."""
    counts = BatchDirs(f"{out_dir}/counts")
    rendered = BatchDirs(f"{out_dir}/tiles")

    def _process(batch_df, batch_id: int) -> None:
        delta = _delta_counts(batch_df, zoom, lat_col, lon_col)
        prev = counts.fold_latest(spark, ["x", "y"], counts.ids(below=batch_id))
        if prev is not None:
            dirty = delta.select("x", "y").distinct()
            carried = prev.join(dirty, ["x", "y"], "left_semi")
            delta = (
                delta.unionByName(carried)
                .groupBy("x", "y", "px", "py")
                .agg(F.sum("cnt").alias("cnt"))
            )
        # two actions share the delta plan (scan + state join); pin it
        delta = delta.persist()
        counts.write(batch_id, delta)
        rendered.write(batch_id, _render_tiles(delta, zoom))
        delta.unpersist()

    drain(
        spark, points_dir, source_schema, checkpoint_dir, _process,
        max_files_per_trigger,
    )


def compact_state(spark: SparkSession, out_dir: str, checkpoint_dir: str) -> None:
    """Fold the accumulated batch dirs into single dirs holding the
    latest row per tile (id = highest existing batch). Observationally a
    no-op for ``latest_heat_tiles``; bounds the per-batch state read for
    long-lived streams. Raises if the stream at ``checkpoint_dir`` has a
    batch to replay (``require_drained``)."""
    require_drained(checkpoint_dir)
    for sub in ("counts", "tiles"):
        BatchDirs(f"{out_dir}/{sub}").compact_latest(spark, ["x", "y"])
