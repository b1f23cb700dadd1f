"""Output checks, run after the measuring window and never timed.

Expected values come from the repo's DuckDB twins over the generated
inputs (and, for the curation lanes downstream of decoding, over the
decoded features the job's first stage wrote, since DuckDB cannot decode
images). A program output is never compared with another program output.
Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from jimmy_spark.functions.georef import duckdb_lat_lon_sql
from jimmy_spark.functions.hexgrid import duckdb_hex_query
from jimmy_spark.functions.tiles import duckdb_xy_sql
from jimmy_spark.operators.distjoin import duckdb_dist_sql
from jimmy_spark.operators.imagedup import duckdb_keep_best_sql, duckdb_scene_sql
from jimmy_spark.operators.knn import duckdb_knn_sql
from jimmy_spark.operators.pip import duckdb_pip_sql


def connect(threads: int, tmp: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _glob(d: Path) -> str:
    return f"read_parquet('{d}/**/*.parquet', hive_partitioning = false)"


def images_points_sql(images: Path) -> str:
    """(image_id, lat_e7, lon_e7) of an image input, georef in DuckDB."""
    lat, lon = duckdb_lat_lon_sql("phash")
    return f"SELECT image_id, {lat} AS lat_e7, {lon} AS lon_e7 FROM {_glob(images)}"


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(map(tuple, df[cols].astype(str).itertuples(index=False)))


def _diff(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Compare as multisets of rows over the expected columns."""
    cols = sorted(exp.columns)
    g, e = _rows(got, cols), _rows(exp, cols)
    if g == e:
        return []
    missing = sum((e - g).values())
    extra = sum((g - e).values())
    return [f"{name}: {missing} of {len(exp)} expected rows missing, {extra} unexpected"]


def _read(path: Path, columns: list[str]) -> pd.DataFrame:
    """Columns of a Spark output dir, partition dirs included."""
    return duckdb.sql(f"SELECT {', '.join(columns)} FROM {_glob(path)}").df()


# --- batch_geotile -------------------------------------------------------------


class GeotileExpected:
    """DuckDB answers for one geotile input: hex r8 and z12 tile counts and
    the point-in-polygon id lists."""

    def __init__(self, con, images: Path, polygons: Path):
        pts = images_points_sql(images)
        hexq = duckdb_hex_query(pts, "image_id", "lat_e7", "lon_e7", resolutions=(8,))
        self.cells = con.sql(
            f"SELECT hex_r8, count(*) AS cnt FROM ({hexq}) GROUP BY hex_r8"
        ).df()
        x, y = duckdb_xy_sql("lat_e7", "lon_e7", 12)
        self.tiles = con.sql(
            f"SELECT {x} AS tile_z12_x, {y} AS tile_z12_y, count(*) AS cnt "
            f"FROM ({pts}) GROUP BY 1, 2"
        ).df()
        self.pip = con.sql(
            f"SELECT p.image_id, coalesce(list_sort(list(m.polygon_id) "
            f"FILTER (WHERE m.polygon_id IS NOT NULL)), []) AS polygon_ids "
            f"FROM ({pts}) p LEFT JOIN ({duckdb_pip_sql(pts, str(polygons))}) m "
            f"USING (image_id) GROUP BY p.image_id"
        ).df()
        self.rows = len(self.pip)

    def tile_count(self, x: int, y: int) -> int:
        hit = self.tiles[(self.tiles.tile_z12_x == x) & (self.tiles.tile_z12_y == y)]
        return int(hit.cnt.sum())


def check_geotile(exp: GeotileExpected, out: Path, summary: dict) -> list[str]:
    problems = []
    if (summary.get("rows_in"), summary.get("rows_out"), summary.get("rows_err")) != (
        exp.rows, exp.rows, 0,
    ):
        problems.append(f"checkpoint summary {summary}, expected {exp.rows} rows, 0 errors")
    enriched = _read(out / "enriched", ["image_id", "ok", "polygon_ids"])
    if not enriched.ok.all():
        problems.append(f"enriched: {int((~enriched.ok).sum())} rows not ok")
    enriched["polygon_ids"] = enriched.polygon_ids.map(lambda v: list(v))
    exp_pip = exp.pip.assign(polygon_ids=exp.pip.polygon_ids.map(lambda v: list(v)))
    problems += _diff("polygon_ids", enriched[["image_id", "polygon_ids"]], exp_pip)
    problems += _diff("cell_counts", _read(out / "cell_counts", ["hex_r8", "cnt"]), exp.cells)
    problems += _diff(
        "tile_counts",
        _read(out / "tile_counts", ["tile_z12_x", "tile_z12_y", "cnt"]),
        exp.tiles,
    )
    return problems


# --- batch_curate --------------------------------------------------------------

NUM_ID_SQL = "substring(image_id, 5, 12)::BIGINT"


class CurateExpected:
    """What DuckDB needs from the input itself: every id, the md5 of every
    blob (hashlib over the raw bytes), and the georef of every row."""

    def __init__(self, con, images: Path, plan: dict):
        t = pq.read_table(images, columns=["image_id", "bytes"])
        md5 = pd.DataFrame(
            {
                "image_id": t["image_id"].to_pylist(),
                "md5": [hashlib.md5(b).hexdigest() for b in t["bytes"].to_pylist()],
            }
        )
        con.register("in_md5", md5)
        con.execute(
            f"CREATE OR REPLACE TABLE in_pts AS {images_points_sql(images)}"
        )
        self.ids = set(md5.image_id)
        self.plan = plan


def check_curate(
    con, exp: CurateExpected, out: Path, d: int, hamming: int, min_sharp: int,
    max_clip: int,
) -> tuple[list[str], set[str]]:
    """Every rejection lane and the final partition of one curate run;
    also returns the ids DuckDB's lanes keep."""
    problems = []
    con.execute(
        f"CREATE OR REPLACE TABLE feats AS SELECT image_id, ok, sharp_e3, clip_e3, "
        f"ahash FROM {_glob(out / 'features')}"
    )
    rejected = _read(out / "rejected", ["image_id", "reason", "kept_id"])
    curated = _read(out / "curated", ["image_id"])

    # partition: curated and rejected are disjoint and cover the input
    ids = list(curated.image_id) + list(rejected.image_id)
    if len(ids) != len(set(ids)) or set(ids) != exp.ids:
        problems.append(
            f"partition: {len(ids)} output ids ({len(set(ids))} distinct) "
            f"for {len(exp.ids)} input ids"
        )

    def lane(reason: str) -> pd.DataFrame:
        return rejected[rejected.reason == reason][["image_id", "kept_id"]]

    decode = set(con.sql("SELECT image_id FROM feats WHERE NOT ok").df().image_id)
    if decode != exp.plan["corrupt"]:
        problems.append(f"decode lane: {len(decode)} rows, {len(exp.plan['corrupt'])} planted")
    problems += _diff(
        "decode lane",
        lane("decode")[["image_id"]],
        pd.DataFrame({"image_id": sorted(exp.plan["corrupt"])}),
    )
    gate = f"(sharp_e3 < {int(min_sharp)} OR clip_e3 > {int(max_clip)})"
    quality = con.sql(f"SELECT image_id FROM feats WHERE ok AND {gate}").df()
    if not exp.plan["blurry"] <= set(quality.image_id):
        problems.append("quality lane: a planted blurry row passed the gate")
    problems += _diff("quality lane", lane("quality")[["image_id"]], quality)

    con.execute(
        f"CREATE OR REPLACE TABLE survivors AS SELECT f.image_id, m.md5 FROM feats f "
        f"JOIN in_md5 m USING (image_id) WHERE f.ok AND NOT {gate}"
    )
    exact = con.sql(
        "SELECT image_id, min(image_id) OVER (PARTITION BY md5) AS kept_id "
        "FROM survivors QUALIFY image_id <> kept_id"
    ).df()
    problems += _diff("exact_dup lane", lane("exact_dup"), exact)

    uniq_sql = (
        "SELECT s.image_id, p.lat_e7, p.lon_e7, f.ahash, f.sharp_e3, f.clip_e3 "
        "FROM survivors s JOIN in_pts p USING (image_id) JOIN feats f USING (image_id) "
        "WHERE s.image_id NOT IN (SELECT image_id FROM "
        "(SELECT image_id, min(image_id) OVER (PARTITION BY md5) AS k FROM survivors) "
        "WHERE image_id <> k)"
    )
    labels = con.sql(
        duckdb_keep_best_sql(uniq_sql, d, hamming, num_id_sql=NUM_ID_SQL)
    ).df()
    problems += _diff(
        "keep_best labels",
        _read(out / "keep_best", ["image_id", "cluster_id", "keep"]),
        labels,
    )
    kept = labels[labels.keep][["cluster_id", "image_id"]].rename(
        columns={"image_id": "kept_id"}
    )
    scene = labels[~labels.keep].merge(kept, on="cluster_id")[["image_id", "kept_id"]]
    problems += _diff("scene_dup lane", lane("scene_dup"), scene)
    keep = labels[labels.keep][["image_id"]]
    problems += _diff("curated", curated, keep)
    return problems, set(keep.image_id)


def scene_pairs(con, out: Path, d: int, hamming: int) -> int:
    """Scene near-duplicate pairs among one run's unique rows (needs the
    ``in_pts`` table a ``CurateExpected`` made on ``con``)."""
    pts = (
        f"SELECT u.image_id, p.lat_e7, p.lon_e7, u.ahash FROM {_glob(out / 'unique')} u "
        f"JOIN in_pts p USING (image_id)"
    )
    return int(con.sql(f"SELECT count(*) FROM ({duckdb_scene_sql(pts, d, hamming)})").fetchone()[0])


# --- online_tiles --------------------------------------------------------------


def _files_sql(files: list[Path]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def check_ingest(
    con, arrivals: list[Path], batch: int, heat_out: Path, pairs_out: Path,
    zoom: int, d: int,
) -> list[str]:
    """Arrival ``batch`` (its files are ``arrivals[batch]``): the tiles it
    dirtied carry the point count of every arrival so far, and its pair
    output holds exactly the new within-``d`` pairs, each once."""
    problems = []
    upto = _files_sql(arrivals[: batch + 1])
    new = _files_sql(arrivals[batch : batch + 1])
    x, y = duckdb_xy_sql("lat_e7", "lon_e7", zoom)
    exp_tiles = con.sql(
        f"WITH all_pts AS (SELECT {x} AS x, {y} AS y FROM {upto}), "
        f"dirty AS (SELECT DISTINCT {x} AS x, {y} AS y FROM {new}) "
        f"SELECT x, y, count(*) AS n_points FROM all_pts JOIN dirty USING (x, y) "
        f"GROUP BY x, y"
    ).df()
    got_tiles = _read(heat_out / "tiles" / f"b={batch}", ["x", "y", "n_points"])
    problems += _diff(f"heat batch {batch}", got_tiles, exp_tiles)

    pts = f"SELECT image_id, lat_e7, lon_e7 FROM {upto}"
    exp_pairs = con.sql(
        f"SELECT a_id, b_id, dist2 FROM ({duckdb_dist_sql(pts, d)}) "
        f"WHERE a_id IN (SELECT image_id FROM {new}) OR b_id IN (SELECT image_id FROM {new})"
    ).df()
    got = _read(pairs_out / f"b={batch}", ["a_id", "b_id", "dist2"])
    # each pair once, in either orientation
    got_sorted = pd.DataFrame(
        {
            "a_id": got[["a_id", "b_id"]].min(axis=1),
            "b_id": got[["a_id", "b_id"]].max(axis=1),
            "dist2": got.dist2,
        }
    )
    problems += _diff(f"proximity batch {batch}", got_sorted, exp_pairs)
    return problems


def check_knn(con, arrivals: list[Path], queries: Path, got: pd.DataFrame) -> list[str]:
    pts = f"SELECT image_id, lat_e7, lon_e7 FROM {_files_sql(arrivals)}"
    exp = con.sql(duckdb_knn_sql(pts, str(queries))).df()
    return _diff(f"knn {queries.name}", got, exp)
