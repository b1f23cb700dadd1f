"""Raster tile rendering: per-tile heatmap PNGs from point density.

The geospatial x image fusion lane: the engine's point table becomes a
servable XYZ raster tile set (the standard web-map pyramid), rendered
with the repo's own real PNG codec (codecs/png.py, RFC-2083 bytes).

Reference scope note: jimmy handles images as per-note attachments; tile
rendering is engine surface (SURVEY §2 engine additions) — the write-side
counterpart of the tile-assignment operator the north_rule names.

Scale shape (10^12-point design):

1. tile + in-tile pixel coordinates as pure JVM expressions: the pixel is
   the tile coordinate at ``zoom + 8`` minus ``256 *`` the tile coordinate
   at ``zoom`` (256 = 2^8 px tiles, exact by the nested-floor identity —
   same maths as the tile-pyramid rollup).
2. ONE shuffled groupBy (tile, pixel) count — map-side combinable; the
   post-shuffle state is bounded by 65,536 pixel rows per tile no matter
   how many points hit the tile (the renderer never sees raw points).
3. applyInPandas per tile: scatter counts into a 256x256 array, apply the
   deterministic integer tone map, PNG-encode. Python touches only
   O(tiles x occupied pixels), never O(points).

Determinism: the tone map is exact integer math on (count, tile max), so
tile bytes are identical at any partitioning — verified byte-for-byte by
re-rendering from an independent pandas aggregation in the tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jimmy_spark.codecs import png
from jimmy_spark.functions import tiles
from jimmy_spark.operators.multimodal import _resize_nn

TILE_PX = 256  # 2^8 — the web-mercator standard

_TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("max_count", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def tone_map(counts: np.ndarray, max_count: int) -> np.ndarray:
    """(256, 256) int64 counts -> (256, 256, 3) uint8, exact integer math:
    v = 0 for empty pixels else 64 + 191 * count // max (floor) — a fixed
    warm ramp (r=v, g=v//2, b=255-v) so empty stays black and density
    reads hot. Deterministic for any partitioning."""
    v = np.zeros(counts.shape, dtype=np.int64)
    nz = counts > 0
    if max_count > 0:
        v[nz] = 64 + (191 * counts[nz]) // max_count
    rgb = np.zeros((*counts.shape, 3), dtype=np.uint8)
    rgb[..., 0] = v
    rgb[..., 1] = v // 2
    rgb[..., 2] = np.where(nz, 255 - v, 0)
    return rgb


def render_heat_tiles(
    points: DataFrame,
    zoom: int,
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
) -> DataFrame:
    """(z, x, y, n_points, max_count, png) — one rendered 256px heat tile
    per XYZ tile that contains at least one point."""
    fine = zoom + 8
    fx = tiles.x_col(F.col(lon_col), fine)
    fy = tiles.y_col(F.col(lat_col), fine)
    tx = tiles.x_col(F.col(lon_col), zoom)
    ty = tiles.y_col(F.col(lat_col), zoom)
    px_counts = (
        points.select(
            tx.alias("x"),
            ty.alias("y"),
            (fx - tx * TILE_PX).alias("px"),
            (fy - ty * TILE_PX).alias("py"),
        )
        .groupBy("x", "y", "px", "py")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        grid = np.zeros((TILE_PX, TILE_PX), dtype=np.int64)
        grid[pdf["py"].to_numpy(np.int64), pdf["px"].to_numpy(np.int64)] = (
            pdf["cnt"].to_numpy(np.int64)
        )
        mx = int(grid.max())
        data = png.encode(tone_map(grid, mx))
        return pd.DataFrame(
            {
                "z": [zoom],
                "x": [x],
                "y": [y],
                "n_points": [int(pdf["cnt"].sum())],
                "max_count": [mx],
                "png": [data],
            }
        )

    return px_counts.groupBy("x", "y").applyInPandas(render, _TILE_SCHEMA)


def render_heat_pyramid(
    points: DataFrame,
    z_max: int,
    z_min: int = 0,
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
) -> DataFrame:
    """Rendered heat tiles for EVERY zoom in [z_min, z_max] from ONE scan
    of the points — the write-side twin of tiling.pyramid_counts.

    The data is aggregated once into the finest pixel-count frame (pixel
    coords at z_max + 8); every zoom's (tile, pixel) counts derive from
    that persisted frame by the exact nested-floor identity (a right
    shift per level — tiles and pixels are both power-of-two grids, and
    the pole clamp commutes with the shift). One union + one shuffled
    (z, tile, pixel) rollup + one applyInPandas render serves the whole
    pyramid; the naive plan re-scans and re-shuffles the full point table
    once per zoom. Bit-identical to per-zoom ``render_heat_tiles`` by
    construction — the tests compare tile BYTES per level.
    """
    from pyspark import StorageLevel

    if not 0 <= z_min <= z_max:
        raise ValueError(f"need 0 <= z_min <= z_max, got [{z_min}, {z_max}]")
    fine = z_max + 8
    finest = (
        points.select(
            tiles.x_col(F.col(lon_col), fine).alias("fx"),
            tiles.y_col(F.col(lat_col), fine).alias("fy"),
        )
        .groupBy("fx", "fy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # every zoom branch reads this frame; without persist each Union
        # branch re-runs the full scan+agg (same finding as pyramid_counts)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    branches = []
    for z in range(z_min, z_max + 1):
        k = z_max - z
        branches.append(
            finest.select(
                F.lit(z).cast("int").alias("z"),
                F.shiftright("fx", k + 8).alias("x"),
                F.shiftright("fy", k + 8).alias("y"),
                (F.shiftright("fx", k) - F.shiftright("fx", k + 8) * TILE_PX).alias("px"),
                (F.shiftright("fy", k) - F.shiftright("fy", k + 8) * TILE_PX).alias("py"),
                "cnt",
            )
        )
    un = branches[0]
    for b in branches[1:]:
        un = un.unionByName(b)
    px_counts = un.groupBy("z", "x", "y", "px", "py").agg(
        F.sum("cnt").alias("cnt")
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        z = int(pdf["z"].iloc[0])
        x, y = int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        grid = np.zeros((TILE_PX, TILE_PX), dtype=np.int64)
        grid[pdf["py"].to_numpy(np.int64), pdf["px"].to_numpy(np.int64)] = (
            pdf["cnt"].to_numpy(np.int64)
        )
        mx = int(grid.max())
        data = png.encode(tone_map(grid, mx))
        return pd.DataFrame(
            {
                "z": [z], "x": [x], "y": [y],
                "n_points": [int(pdf["cnt"].sum())],
                "max_count": [mx],
                "png": [data],
            }
        )

    return px_counts.groupBy("z", "x", "y").applyInPandas(render, _TILE_SCHEMA)


# --- zonal statistics ------------------------------------------------------


def zonal_stats(
    points: DataFrame,
    polygons: "pd.DataFrame",
    res: int = 8,
    value_col: str = "px",
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
) -> DataFrame:
    """Raster zonal statistics: aggregate the res-``res`` hex raster over
    polygon zones — per polygon, the number of occupied raster cells, the
    point/value totals of those cells, and the hottest cell's count.

    Zone membership is RASTER semantics (the standard zonal-stats / H3
    polyfill definition, hexgrid.polyfill): a cell belongs to a zone iff
    its lattice-rounded CENTER is inside the ring — deliberately different
    from the point-in-polygon join over raw points (``pip``), and the
    reason this is its own operator.

    Scale shape (10^12-point design):

    1. cell id as a pure JVM expression + ONE shuffled groupBy(cell) with
       map-side partial aggregation — the only full-data shuffle; the
       post-shuffle state is bounded by occupied-cell count (area / cell
       size), not point count.
    2. cell centers as JVM expressions (hex_center_exprs — the exact
       inverse lattice contract shared with the DuckDB oracle).
    3. centers x broadcast STR-tree polygon PIP (pip_join_rtree): a narrow
       map over the raster frame — the ray-cast runs per CELL, not per
       point, the classic zonal-stats win.
    4. a tiny groupBy(polygon_id) over the matched cells.
    """
    from jimmy_spark.operators import cells as cells_mod
    from jimmy_spark.operators import pip as pip_mod

    cell = cells_mod.hex_cell_expr(F.col(lat_col), F.col(lon_col), res)
    raster = (
        points.select(cell.alias("cell"), F.col(value_col).alias("_v"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_pts"), F.sum("_v").alias("sum_v"))
    )
    clat, clon = cells_mod.hex_center_exprs(F.col("cell"), res)
    centers = raster.select(
        F.col("cell").cast("string").alias("cell_s"),
        clat.alias("lat_e7"),
        clon.alias("lon_e7"),
        "n_pts",
        "sum_v",
    )
    pairs = pip_mod.pip_join_rtree(
        centers, polygons, id_col="cell_s", carry_cols=("n_pts", "sum_v")
    )
    return (
        pairs.groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_pts").alias("n_pts"),
            F.sum("sum_v").alias("sum_v"),
            F.max("n_pts").alias("max_cell_pts"),
        )
    )


def duckdb_zonal_sql(
    points_sql: str,
    polygons_path: str,
    res: int = 8,
    value_col: str = "px",
) -> str:
    """DuckDB oracle for ``zonal_stats``: the same hex encode, the same
    lattice-rounded center inverse, the same integer ray-cast (the shared
    pip oracle), the same aggregate tree. ``points_sql`` must yield
    (lat_e7, lon_e7, ``value_col``)."""
    from jimmy_spark.functions import hexgrid
    from jimmy_spark.operators import pip as pip_mod

    hexed = hexgrid.duckdb_hex_query(
        points_sql, value_col, "lat_e7", "lon_e7", (res,)
    )
    clat, clon = hexgrid.duckdb_center_sql("cell", res)
    pip_sql = pip_mod.duckdb_pip_sql(
        "SELECT cell_s, lat_e7, lon_e7 FROM centers", polygons_path,
        id_col="cell_s",
    )
    return f"""
WITH raster AS (
  SELECT hex_r{res} AS cell, count(*) AS n_pts, sum({value_col}) AS sum_v
  FROM ({hexed}) GROUP BY 1
),
centers AS (
  SELECT cell::VARCHAR AS cell_s, {clat} AS lat_e7, {clon} AS lon_e7,
         n_pts, sum_v
  FROM raster
),
zpairs AS ({pip_sql})
SELECT polygon_id, count(*) AS n_cells, sum(n_pts)::BIGINT AS n_pts,
       sum(sum_v)::BIGINT AS sum_v, max(n_pts) AS max_cell_pts
FROM zpairs JOIN centers USING (cell_s)
GROUP BY polygon_id
"""


# --- image mosaic tiles ------------------------------------------------------

THUMB_PX = 16  # thumbnail edge; 16x16 thumbs on a 256px tile
MOSAIC_CAP = 64  # max thumbnails composited per tile

_MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
        T.StructField("n_imgs", T.LongType()),
        T.StructField("n_drawn", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def thumb_nn(arr: "np.ndarray", s: int = THUMB_PX) -> "np.ndarray":
    """Exact nearest-neighbor downsample to (s, s, 3): source index for
    output index i is (i * src_extent) // s — pure integer math, so thumbs
    are deterministic across partitionings and re-implementable in tests."""
    return _resize_nn(arr, s, s)


def render_mosaic_tiles(
    images: DataFrame,
    zoom: int,
    cap: int = MOSAIC_CAP,
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
) -> DataFrame:
    """The geo x image fusion write lane: each XYZ tile becomes a mosaic
    PNG of the ACTUAL decoded thumbnails of the images georeferenced into
    it — heat tiles show density, mosaic tiles show content.

    ``images`` needs (image_id, bytes, fmt, lat_col, lon_col). Output one
    row per non-empty tile: (z, x, y, n_imgs, n_drawn, png).

    Scale shape: a per-tile row_number caps Python-side state at ``cap``
    decoded images per tile regardless of tile population (the window
    shuffle carries each image's bytes exactly once — the same volume a
    select-then-join plan would move, with one fewer shuffle). Thumbnails
    blit in ascending image_id order (later ids overdraw), centered at the
    image's zoom+8 pixel and clipped at tile edges, onto a black canvas —
    one fixed rule, so tile bytes are partitioning-invariant and the tests
    re-render them byte-for-byte from an independent implementation.
    Decode failures are skipped deterministically (n_drawn < selected).
    """
    from pyspark.sql import Window

    from jimmy_spark.codecs import decode_image

    fine = zoom + 8
    fx = tiles.x_col(F.col(lon_col), fine)
    fy = tiles.y_col(F.col(lat_col), fine)
    tx = tiles.x_col(F.col(lon_col), zoom)
    ty = tiles.y_col(F.col(lat_col), zoom)
    placed = images.select(
        "image_id", "bytes", "fmt",
        tx.alias("x"), ty.alias("y"),
        (fx - tx * TILE_PX).alias("px"),
        (fy - ty * TILE_PX).alias("py"),
    )
    w = Window.partitionBy("x", "y")
    sel = (
        placed.withColumn(
            "_rn", F.row_number().over(w.orderBy("image_id"))
        )
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_rn") <= cap)
    )

    half = THUMB_PX // 2

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id")
        x, y = int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        canvas = np.zeros((TILE_PX, TILE_PX, 3), dtype=np.uint8)
        drawn = 0
        for blob, fmt, px, py in zip(
            pdf["bytes"], pdf["fmt"], pdf["px"], pdf["py"]
        ):
            try:
                arr = decode_image(blob, fmt)
            except ValueError:
                continue
            th = thumb_nn(arr)
            r0, c0 = int(py) - half, int(px) - half
            rs, cs = max(r0, 0), max(c0, 0)
            re_, ce = min(r0 + THUMB_PX, TILE_PX), min(c0 + THUMB_PX, TILE_PX)
            if rs < re_ and cs < ce:
                canvas[rs:re_, cs:ce] = th[rs - r0 : re_ - r0, cs - c0 : ce - c0]
                drawn += 1
        data = png.encode(canvas)
        return pd.DataFrame(
            {
                "z": [zoom],
                "x": [x],
                "y": [y],
                "n_imgs": [int(pdf["_n"].iloc[0])],
                "n_drawn": [drawn],
                "png": [data],
            }
        )

    return sel.groupBy("x", "y").applyInPandas(render, _MOSAIC_SCHEMA)


# --- inverse-distance-weighted interpolation --------------------------------

IDW_W0 = 10**12  # weight numerator
IDW_D0 = 10**8  # softening: w = W0 div (D0 + d2) — max weight 10^4 at d2=0


def idw_raster(
    samples: DataFrame,
    res: int = 8,
    k: int = 2,
    value_col: str = "v",
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
) -> DataFrame:
    """Inverse-distance-weighted interpolation onto the res-``res`` hex
    raster: every cell within ``k`` rings of a sample gets the weighted
    value of the samples around it.

    FULLY INTEGER semantics — the reason this can sit behind the exact
    hash gate: cell centers are the lattice-rounded int64 representative
    points (the polyfill/zonal contract), so sample->center squared
    distance is exact int64, the weight is the integer division
    ``W0 div (D0 + d2)`` (a quantized 1/d^2 kernel: D0 softens the
    singularity at d2 = 0 and sets max weight W0/D0 = 10^4), and the
    interpolated value is ``(1000 * sum(w*v)) div sum(w)`` — every sum
    order-independent exact int64, no IEEE contract required anywhere.

    Scale shape: each sample explodes to its 3k(k+1)+1 packed-delta disk
    (compile-time literals, codegen'd Generate) and ONE shuffled groupBy
    per target cell aggregates (count, sum w, sum w*v) — map-side
    combinable, output bounded by occupied-dilated cells. No Python.

    Output: (cell long, n_samples long, sum_w long, val_e3 long) where
    val_e3 is the interpolated value scaled by 1000.

    int64 bound: values must be non-negative (both engines' integer
    divisions then agree; a negative v would split floor-vs-truncate)
    and (W0/D0) * SUM(v over any disk) * 1000 must stay under 2^63 —
    ANSI mode errors rather than wrapping if violated.
    """
    from jimmy_spark.functions import hexgrid
    from jimmy_spark.operators.cells import hex_cell_expr, hex_center_exprs

    deltas = [
        int((int(dq) << 30) + int(dr)) for dq, dr in hexgrid.disk_offsets(k)
    ]
    home = hex_cell_expr(F.col(lat_col), F.col(lon_col), res)
    contrib = samples.select(
        F.col(value_col).alias("_v"),
        F.col(lat_col).alias("_py"),
        F.col(lon_col).alias("_px"),
        home.alias("_home"),
        F.explode(F.array(*[F.lit(x) for x in deltas])).alias("_delta"),
    ).select(
        "_v", "_py", "_px", (F.col("_home") + F.col("_delta")).alias("cell")
    )
    clat, clon = hex_center_exprs(F.col("cell"), res)
    d2 = (F.col("_px") - clon) * (F.col("_px") - clon) + (
        F.col("_py") - clat
    ) * (F.col("_py") - clat)
    weighted = contrib.withColumn("_d2", d2).withColumn(
        "_w", F.expr(f"{IDW_W0} div ({IDW_D0} + _d2)")
    )
    agg = weighted.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("_w").alias("sum_w"),
        F.sum(F.col("_w") * F.col("_v")).alias("_swv"),
    )
    return agg.select(
        "cell", "n_samples", "sum_w",
        F.when(
            F.col("sum_w") > 0, F.expr("(1000 * _swv) div sum_w")
        ).otherwise(F.lit(None).cast("long")).alias("val_e3"),
    )


def duckdb_idw_sql(
    samples_sql: str,
    res: int = 8,
    k: int = 2,
    value_col: str = "v",
) -> str:
    """DuckDB twin: same hex encode, same packed deltas, same lattice
    centers, same integer divisions. ``samples_sql`` must yield
    (lat_e7, lon_e7, ``value_col``)."""
    from jimmy_spark.functions import hexgrid

    deltas = ", ".join(
        f"({int((int(dq) << 30) + int(dr))})"
        for dq, dr in hexgrid.disk_offsets(k)
    )
    hexed = hexgrid.duckdb_hex_query(
        samples_sql, f"{value_col}, lat_e7, lon_e7", "lat_e7", "lon_e7", (res,)
    )
    clat, clon = hexgrid.duckdb_center_sql("cell", res)
    return f"""
WITH s AS ({hexed}),
contrib AS (
  SELECT s.{value_col} AS v, s.lat_e7 AS py, s.lon_e7 AS px,
         s.hex_r{res} + d.delta AS cell
  FROM s CROSS JOIN (VALUES {deltas}) d(delta)
),
wtd AS (
  SELECT cell, v,
         {IDW_W0} // ({IDW_D0} + (px - {clon}) * (px - {clon})
                      + (py - {clat}) * (py - {clat})) AS w
  FROM contrib
),
agg AS (
  SELECT cell, COUNT(*)::BIGINT AS n_samples, SUM(w)::BIGINT AS sum_w,
         SUM(w * v)::BIGINT AS swv
  FROM wtd GROUP BY cell
)
SELECT cell, n_samples, sum_w,
       CASE WHEN sum_w > 0 THEN (1000 * swv) // sum_w
            ELSE NULL END AS val_e3
FROM agg
"""
