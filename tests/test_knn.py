"""kNN ring-expansion vs brute-force DuckDB oracle: exact equality.

This is the strongest correctness check in the suite — the engine only
looks at ring candidates, the oracle at every point; equality proves the
ring-expansion completeness bound.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

from jimmy_spark.operators import cells, knn


@pytest.fixture(scope="module")
def points(spark, t1_dir):
    imgs = spark.read.parquet(f"{t1_dir}/images.parquet")
    return cells.with_georef(imgs.select("image_id", "phash")).cache()


def test_knn_matches_bruteforce_oracle(spark, points, t1_dir):
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    got = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join(points, queries_pdf).collect()
    }
    pts = points.toPandas()
    duckdb.register("knn_pts", pts)
    sql = knn.duckdb_knn_sql(
        "SELECT image_id, lat_e7, lon_e7 FROM knn_pts",
        f"{t1_dir}/knn_queries.parquet",
    )
    expected = {(r[0], r[1], r[2]) for r in duckdb.sql(sql).fetchall()}
    assert len(expected) > 0
    assert got == expected


def test_knn_deterministic_across_partitioning(spark, points, t1_dir):
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas().head(9)
    a = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join(points, queries_pdf).collect()
    }
    b = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join(points.repartition(13), queries_pdf).collect()
    }
    assert a == b


def test_knn_exact_on_coarse_grid(spark, points, t1_dir, monkeypatch):
    """Force the driver-cell cap so the blocking grid auto-coarsens to
    res 5 — results must stay exactly equal to the brute-force oracle
    (the d_bound math only depends on the grid's cell radius)."""
    monkeypatch.setattr(knn, "MAX_DRIVER_CELLS", 10)
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    got = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join(points, queries_pdf).collect()
    }
    pts = points.toPandas()
    duckdb.register("knn_pts_coarse", pts)
    sql = knn.duckdb_knn_sql(
        "SELECT image_id, lat_e7, lon_e7 FROM knn_pts_coarse",
        f"{t1_dir}/knn_queries.parquet",
    )
    expected = {(r[0], r[1], r[2]) for r in duckdb.sql(sql).fetchall()}
    assert got == expected


def test_knn_big_matches_driver_path_and_oracle(spark, points, t1_dir):
    """knn_join_big (distributed query planning, shuffled candidate join)
    must equal both the driver-planned knn_join and the brute-force oracle
    exactly — same ranks, same ids."""
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    queries_df = spark.createDataFrame(
        queries_pdf[["query_id", "lat_e7", "lon_e7", "k"]]
    )
    got_big = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join_big(points, queries_df).collect()
    }
    got_drv = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join(points, queries_pdf).collect()
    }
    assert got_big == got_drv
    pts = points.toPandas()
    duckdb.register("knn_pts_big", pts)
    sql = knn.duckdb_knn_sql(
        "SELECT image_id, lat_e7, lon_e7 FROM knn_pts_big",
        f"{t1_dir}/knn_queries.parquet",
    )
    expected = {(r[0], r[1], r[2]) for r in duckdb.sql(sql).fetchall()}
    assert got_big == expected


def test_knn_big_no_auto_broadcast(spark, points, t1_dir):
    """The big path must not depend on Catalyst auto-broadcast: with the
    threshold off (simulating a query set too large to broadcast) results
    are unchanged. (knn_join's explicit F.broadcast hints are absent from
    this path by design — this executes the fully shuffled plan.)"""
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas().head(7)
    qdf = spark.createDataFrame(
        queries_pdf[["query_id", "lat_e7", "lon_e7", "k"]]
    )
    expected = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join(points, queries_pdf).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = {
            (r.query_id, r.rank, r.image_id)
            for r in knn.knn_join_big(points, qdf).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == expected


def test_knn_big_partitioned_queries(spark, points, t1_dir):
    """Planning runs per query-partition; result must be invariant to the
    query-side partitioning (each query plans independently)."""
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    qdf = spark.createDataFrame(
        queries_pdf[["query_id", "lat_e7", "lon_e7", "k"]]
    )
    a = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join_big(points, qdf).collect()
    }
    b = {
        (r.query_id, r.rank, r.image_id)
        for r in knn.knn_join_big(points, qdf.repartition(11)).collect()
    }
    assert a == b


def _oracle(points, t1_dir, view):
    duckdb.register(view, points.toPandas())
    sql = knn.duckdb_knn_sql(
        f"SELECT image_id, lat_e7, lon_e7 FROM {view}",
        f"{t1_dir}/knn_queries.parquet",
    )
    return {(r[0], r[1], r[2]) for r in duckdb.sql(sql).fetchall()}


def _rows(df):
    return {(r.query_id, r.rank, r.image_id) for r in df.collect()}


def _spy_brute_force(monkeypatch):
    """Record the query ids each ``_brute_force`` call receives."""
    routed: list[str] = []
    real = knn._brute_force

    def spy(pts, qmeta, qids, id_col):
        routed.extend(qids)
        return real(pts, qmeta, qids, id_col)

    monkeypatch.setattr(knn, "_brute_force", spy)
    return routed


def test_knn_brute_force_path_exact(spark, points, t1_dir, monkeypatch):
    """With the int64 envelope shrunk to nothing every query overflows,
    so the whole answer comes from the DECIMAL brute-force pass."""
    monkeypatch.setattr(knn, "_INT64_SAFE_DELTA", 0.0)
    routed = _spy_brute_force(monkeypatch)
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    got = _rows(knn.knn_join(points, queries_pdf))
    assert sorted(routed) == sorted(queries_pdf["query_id"])
    assert got == _oracle(points, t1_dir, "knn_pts_brute")


def test_knn_short_candidate_set_is_rerouted(spark, points, t1_dir, monkeypatch):
    """A query whose candidate cells hold fewer than k points (here: its
    nearest chosen cell dropped from the plan) is rerouted to the
    brute-force pass on the driver, and the output stays oracle-exact."""
    from jimmy_spark.functions import hexgrid

    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    victim = queries_pdf[queries_pdf["k"] > 1].iloc[0]
    real = knn._candidate_cells
    left = {}

    def drop_nearest(q_pdf, counts_pdf, res):
        cand, overflow = real(q_pdf, counts_pdf, res)
        mine = cand[cand["query_id"] == victim.query_id]
        cy, cx = hexgrid.center(mine["cell"].to_numpy())
        d = np.hypot(cy - victim.lat_e7, cx - victim.lon_e7)
        cand = cand.drop(index=mine.index[int(np.argmin(d))])
        kept = cand[cand["query_id"] == victim.query_id].merge(counts_pdf, on="cell")
        left["n"] = int(kept["cnt"].sum())
        return cand, overflow

    monkeypatch.setattr(knn, "_candidate_cells", drop_nearest)
    routed = _spy_brute_force(monkeypatch)
    got = _rows(knn.knn_join(points, queries_pdf))
    assert left["n"] < victim.k  # the dropped cell made the query short
    assert routed == [victim.query_id]
    assert got == _oracle(points, t1_dir, "knn_pts_reroute")


def test_knn_sampled_bound_exact(spark, points, t1_dir, monkeypatch, capsys):
    """A 1/2 sample makes every query with n_cand >= 2k run the sampled
    bound pass; it prunes rows but never a true top-k row."""
    monkeypatch.setattr(knn, "_SAMPLE_MOD", 2)
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    out = knn.knn_join(points, queries_pdf)
    out.explain(True)
    assert "bound" in capsys.readouterr().out
    assert _rows(out) == _oracle(points, t1_dir, "knn_pts_sampled")


def test_knn_request_job_count_and_no_cache_entry(spark, points, t1_dir):
    """One request on a cached frame: the grid aggregation (a bounded
    collect) plus one candidate join, and no cache entry left behind.
    Jobs are counted from the status tracker under a job group."""
    queries_pdf = pq.read_table(f"{t1_dir}/knn_queries.parquet").to_pandas()
    sc = spark.sparkContext
    points.count()
    cached = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("knn-request", "one knn_join request")
    try:
        knn.knn_join(points, queries_pdf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("knn-request")) == 5
    assert sc._jsc.getPersistentRDDs().size() == cached
