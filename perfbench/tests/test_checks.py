"""The output checks must pass on right outputs and catch planted wrong
ones. Right outputs are written from the DuckDB answers themselves, in the
layout the jobs and streams write."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen


def _write(df, path):
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path / "part-0.parquet")


@pytest.fixture()
def con(tmp_path):
    c = checks.connect(2, tmp_path / "duck")
    yield c
    c.close()


def test_geotile_check_catches_a_wrong_count(con, tmp_path):
    images, polys = tmp_path / "images", tmp_path / "polygons.parquet"
    gen.geotile_images(images, 300, 1, procs=1)
    gen.polygons(polys, 1)
    exp = checks.GeotileExpected(con, images, polys)
    out = tmp_path / "out"
    enriched = exp.pip.assign(ok=True)
    enriched["polygon_ids"] = enriched.polygon_ids.map(list)
    _write(enriched, out / "enriched" / "_bucket=0")
    _write(exp.cells, out / "cell_counts")
    _write(exp.tiles, out / "tile_counts")
    summary = {"rows_in": 300, "rows_out": 300, "rows_err": 0}
    assert checks.check_geotile(exp, out, summary) == []

    wrong = exp.tiles.copy()
    wrong.loc[0, "cnt"] += 1
    _write(wrong, out / "tile_counts")
    problems = checks.check_geotile(exp, out, summary)
    assert problems and problems[0].startswith("tile_counts")
    assert checks.check_geotile(exp, out, {**summary, "rows_err": 1})[0].startswith(
        "checkpoint summary"
    )


def _arrivals(tmp_path, n):
    paths = []
    for k in range(n):
        p = tmp_path / "points" / f"a-{k:05d}.parquet"
        p.parent.mkdir(exist_ok=True)
        pq.write_table(gen.points(k * 80, 80, 3), p)
        paths.append(p)
    return paths


def test_ingest_check_catches_a_missing_pair_and_a_wrong_tile(con, tmp_path):
    arrivals = _arrivals(tmp_path, 2)
    zoom, d = 8, 20_000
    upto, new = checks._files_sql(arrivals), checks._files_sql(arrivals[1:])
    x, y = checks.duckdb_xy_sql("lat_e7", "lon_e7", zoom)
    tiles = con.sql(
        f"WITH a AS (SELECT {x} AS x, {y} AS y FROM {upto}), "
        f"n AS (SELECT DISTINCT {x} AS x, {y} AS y FROM {new}) "
        f"SELECT x, y, count(*) AS n_points FROM a JOIN n USING (x, y) GROUP BY x, y"
    ).df()
    pairs = con.sql(
        f"SELECT * FROM ({checks.duckdb_dist_sql(f'SELECT * FROM {upto}', d)}) "
        f"WHERE a_id IN (SELECT image_id FROM {new}) OR b_id IN (SELECT image_id FROM {new})"
    ).df()
    assert len(pairs) > 1
    heat, prox = tmp_path / "heat", tmp_path / "prox"
    _write(tiles, heat / "tiles" / "b=1")
    # the stream may emit a pair in either orientation
    swapped = pairs.rename(columns={"a_id": "b_id", "b_id": "a_id"})
    _write(swapped, prox / "b=1")
    assert checks.check_ingest(con, arrivals, 1, heat, prox, zoom, d) == []

    _write(pairs.iloc[1:], prox / "b=1")
    problems = checks.check_ingest(con, arrivals, 1, heat, prox, zoom, d)
    assert [p for p in problems if p.startswith("proximity batch 1")]

    _write(pairs, prox / "b=1")
    wrong = tiles.copy()
    wrong.loc[0, "n_points"] -= 1
    _write(wrong, heat / "tiles" / "b=1")
    problems = checks.check_ingest(con, arrivals, 1, heat, prox, zoom, d)
    assert problems == [f"heat batch 1: 1 of {len(tiles)} expected rows missing, 1 unexpected"]


def test_knn_check_catches_a_wrong_neighbour(con, tmp_path):
    arrivals = _arrivals(tmp_path, 2)
    q = tmp_path / "q.parquet"
    pq.write_table(gen.knn_queries(0, 4, 3), q)
    pts = f"SELECT image_id, lat_e7, lon_e7 FROM {checks._files_sql(arrivals)}"
    right = con.sql(checks.duckdb_knn_sql(pts, str(q))).df()
    assert checks.check_knn(con, arrivals, q, right) == []
    wrong = right.copy()
    wrong.loc[0, "image_id"] = "pt_9999999999"
    assert checks.check_knn(con, arrivals, q, wrong) != []
