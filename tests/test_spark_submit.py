"""Deployment-shape test: the real `spark-submit --py-files` path
(north_rule: "run via spark-submit --py-files"), end to end, twice —
the second run must be a resume no-op with identical outputs."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_pyfiles_job(t1_dir, tmp_path):
    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build

    zip_path = build(tmp_path / "jimmy_spark.zip")

    def run():
        cmd = [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "spatial_job.py"),
            "--images", f"{t1_dir}/images.parquet",
            "--polygons", f"{t1_dir}/polygons.parquet",
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"),
            "--run-id", "submit1",
            "--buckets", "8",
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    s1 = run()
    assert s1["rows_in"] == 500 and s1["rows_out"] == 500 and s1["rows_err"] == 0
    counts1 = duckdb.sql(
        f"SELECT * FROM '{tmp_path}/out/cell_counts/*.parquet' ORDER BY hex_r8"
    ).fetchall()
    assert sum(c for _, c in counts1) == 500

    # resume no-op: all buckets committed -> no new lineage rows, same output
    s2 = run()
    assert s2 == s1
    counts2 = duckdb.sql(
        f"SELECT * FROM '{tmp_path}/out/cell_counts/*.parquet' ORDER BY hex_r8"
    ).fetchall()
    assert counts2 == counts1

    # --pip-strategy cells (unbroadcastable-polygon path) through the same
    # deployment shape: enriched output must be identical row for row
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "spatial_job.py"),
        "--images", f"{t1_dir}/images.parquet",
        "--polygons", f"{t1_dir}/polygons.parquet",
        "--out", str(tmp_path / "out_cells"),
        "--checkpoint", str(tmp_path / "cp_cells"),
        "--run-id", "submit-cells",
        "--buckets", "8",
        "--pip-strategy", "cells",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    s3 = json.loads(p.stdout.strip().splitlines()[-1])
    assert s3["rows_in"] == 500 and s3["rows_out"] == 500
    q = (
        "SELECT image_id, ok, px_checksum, hex_r8, s2_l12, tile_z12_x, "
        "tile_z12_y, list_sort(polygon_ids) AS pids FROM '{d}/enriched/*/*.parquet' "
        "ORDER BY image_id"
    )
    a = duckdb.sql(q.format(d=f"{tmp_path}/out")).fetchall()
    b = duckdb.sql(q.format(d=f"{tmp_path}/out_cells")).fetchall()
    assert a == b

    # optional analytics stages through the same deployment shape:
    # within-distance pairs + DBSCAN labels, both checked against
    # brute-force / recursive-CTE DuckDB on the job's own enriched output
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "spatial_job.py"),
        "--images", f"{t1_dir}/images.parquet",
        "--polygons", f"{t1_dir}/polygons.parquet",
        "--out", str(tmp_path / "out_an"),
        "--checkpoint", str(tmp_path / "cp_an"),
        "--run-id", "submit-analytics",
        "--buckets", "8",
        "--dist-join-d", "200000",
        "--dbscan-eps", "200000",
        "--dbscan-min-pts", "4",
        "--render-zoom", "6",
        "--zonal-res", "8",
        "--mosaic-zoom", "4",
        "--s2-compact",
        "--region-cover", "--region-min-level", "11",
        "--region-max-level", "15",
    ]
    from jimmy_spark.datagen import ensure_roads, ensure_tracks

    tracks_path = f"{ensure_tracks('t2')}/tracks.parquet"
    roads_path = f"{ensure_roads('t2')}/roads.parquet"
    cmd += ["--tracks", tracks_path, "--roads", roads_path]
    from jimmy_spark.datagen import ensure_contacts

    contacts_path = f"{ensure_contacts('t2')}/contacts.parquet"
    cmd += [
        "--contacts", contacts_path,
        "--contact-d", "40000", "--contact-tau", "120",
        "--convoy-kmin", "5",
    ]
    from jimmy_spark.datagen import ensure_zones

    zones_path = f"{ensure_zones('t2')}/zones.parquet"
    cmd += ["--zones", zones_path]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    s4 = json.loads(p.stdout.strip().splitlines()[-1])
    from jimmy_spark.operators import distjoin, geocluster

    pts_sql = (
        "SELECT image_id, lat_e7, lon_e7 "
        f"FROM '{tmp_path}/out_an/enriched/*/*.parquet' WHERE ok"
    )
    exp_pairs = duckdb.sql(
        distjoin.duckdb_dist_sql(pts_sql, 200000)
        + " ORDER BY a_id, b_id"
    ).fetchall()
    got_pairs = duckdb.sql(
        f"SELECT a_id, b_id, dist2 FROM '{tmp_path}/out_an/near_pairs/*.parquet' "
        "ORDER BY a_id, b_id"
    ).fetchall()
    assert got_pairs == exp_pairs and len(got_pairs) > 0
    exp_cl = duckdb.sql(
        geocluster.duckdb_dbscan_sql(
            pts_sql, eps=200000, min_pts=4,
            num_id_sql="CAST(substring(image_id, 5, 12) AS BIGINT)",
        )
        + " ORDER BY image_id"
    ).fetchall()
    got_cl = duckdb.sql(
        f"SELECT image_id, role, cluster_id FROM '{tmp_path}/out_an/clusters/*.parquet' "
        "ORDER BY image_id"
    ).fetchall()
    assert got_cl == exp_cl
    assert any(r[1] == "core" for r in got_cl)
    # zonal statistics: the job's raster zonal output against the DuckDB
    # twin over the job's own enriched rows
    from jimmy_spark.operators import raster as _raster

    zonal_pts_sql = (
        "SELECT px_checksum, lat_e7, lon_e7 "
        f"FROM '{tmp_path}/out_an/enriched/*/*.parquet' WHERE ok"
    )
    exp_z = duckdb.sql(
        _raster.duckdb_zonal_sql(
            zonal_pts_sql, f"{t1_dir}/polygons.parquet",
            res=8, value_col="px_checksum",
        )
        + " ORDER BY polygon_id"
    ).fetchall()
    got_z = duckdb.sql(
        "SELECT polygon_id, n_cells, n_pts, sum_v, max_cell_pts "
        f"FROM '{tmp_path}/out_an/zonal/*.parquet' ORDER BY polygon_id"
    ).fetchall()
    assert got_z == exp_z and len(got_z) > 0
    # region covering + selection through the same deployment shape:
    # pairs re-derived by a session-free pure-NumPy twin over the job's
    # own enriched points and the raw polygon rings
    import numpy as _np

    from jimmy_spark.functions import s2 as _s2
    from jimmy_spark.operators.s2region import _project_ring

    cover_rows = duckdb.sql(
        f'SELECT polygon_id, cell, lvl, "full" FROM '
        f"'{tmp_path}/out_an/region_cover/*.parquet'"
    ).fetchall()
    assert cover_rows and any(r[3] for r in cover_rows) and any(
        not r[3] for r in cover_rows
    )
    pts_rows = duckdb.sql(
        "SELECT image_id, lat_e7, lon_e7 "
        f"FROM '{tmp_path}/out_an/enriched/*/*.parquet' WHERE ok"
    ).fetchall()
    plat = _np.array([r[1] for r in pts_rows], dtype=_np.int64)
    plon = _np.array([r[2] for r in pts_rows], dtype=_np.int64)
    _x, _y, _z = _s2.xyz_from_latlon_e7(plat, plon)
    pface, pu, pv = _s2.face_uv_from_xyz(_x, _y, _z)
    pi = _s2.ij_from_st(_s2.st_from_uv(pu))
    pj = _s2.ij_from_st(_s2.st_from_uv(pv))
    poly_rows = duckdb.sql(
        f"SELECT polygon_id, ring FROM '{t1_dir}/polygons.parquet'"
    ).fetchall()

    def _pt_in(px, py, ri, rj):
        n, inside = len(ri), False
        for k in range(n):
            x1, y1 = ri[k], rj[k]
            x2, y2 = ri[(k + 1) % n], rj[(k + 1) % n]
            cr = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
            if (cr == 0 and min(x1, x2) <= px <= max(x1, x2)
                    and min(y1, y2) <= py <= max(y1, y2)):
                return True
            if (y1 > py) != (y2 > py) and (cr > 0) == (y2 > y1):
                inside = not inside
        return inside

    exp_rp = set()
    for pid, ring in poly_rows:
        proj = _project_ring(
            [{"lat_e7": v["lat_e7"], "lon_e7": v["lon_e7"]} for v in ring]
        )
        if proj is None:
            continue
        rface, ri, rj = proj
        li, lj = [int(w) for w in ri], [int(w) for w in rj]
        for idx, (name, _a, _b) in enumerate(pts_rows):
            if int(pface[idx]) == rface and _pt_in(
                int(pi[idx]), int(pj[idx]), li, lj
            ):
                exp_rp.add((name, pid))
    got_rp = set(
        duckdb.sql(
            "SELECT image_id, polygon_id "
            f"FROM '{tmp_path}/out_an/region_pairs/*.parquet'"
        ).fetchall()
    )
    assert got_rp == exp_rp and len(got_rp) > 0
    # rendered tiles: valid PNGs through the repo decoder, points conserved
    from jimmy_spark.codecs import png as _png

    tiles_rows = duckdb.sql(
        f"SELECT z, x, y, n_points, png FROM '{tmp_path}/out_an/tiles_png/*.parquet'"
    ).fetchall()
    assert tiles_rows and all(z == 6 for z, *_ in tiles_rows)
    assert sum(r[3] for r in tiles_rows) == s4["rows_out"]
    arr = _png.decode(bytes(tiles_rows[0][4]))
    assert arr.shape == (256, 256, 3)
    # trajectory family through the same deployment shape, vs DuckDB twins
    from jimmy_spark.operators import trajectory as _tj

    exp_seg = duckdb.sql(
        _tj.duckdb_segment_stats_sql(f"'{tracks_path}'")
        + " ORDER BY entity_id, seg_seq"
    ).fetchall()
    got_seg = duckdb.sql(
        "SELECT entity_id, seg_seq, n_pings, t_start, t_end, path_len, "
        f"o_cell, d_cell FROM '{tmp_path}/out_an/trajectory/segments/*.parquet' "
        "ORDER BY entity_id, seg_seq"
    ).fetchall()
    assert got_seg == exp_seg and len(got_seg) > 0
    exp_stay = duckdb.sql(
        _tj.duckdb_stay_points_sql(f"'{tracks_path}'")
        + " ORDER BY entity_id, stay_seq"
    ).fetchall()
    got_stay = duckdb.sql(
        "SELECT entity_id, stay_seq, n_pings, t_start, t_end, c_lat, c_lon "
        f"FROM '{tmp_path}/out_an/trajectory/stays/*.parquet' "
        "ORDER BY entity_id, stay_seq"
    ).fetchall()
    assert got_stay == exp_stay and len(got_stay) > 0
    n_od = duckdb.sql(
        f"SELECT sum(n_trips) FROM '{tmp_path}/out_an/trajectory/od/*.parquet'"
    ).fetchone()[0]
    assert n_od == len(got_seg)  # trips conserved through the OD rollup
    n_simp, n_raw = duckdb.sql(
        f"SELECT (SELECT count(*) FROM '{tmp_path}/out_an/trajectory/simplified/*.parquet'), "
        f"(SELECT count(*) FROM '{tracks_path}')"
    ).fetchone()
    assert 0 < n_simp < n_raw
    exp_rs = duckdb.sql(
        _tj.duckdb_resample_sql(f"'{tracks_path}'")
        + " ORDER BY entity_id, seg_seq, e"
    ).fetchall()
    got_rs = duckdb.sql(
        "SELECT entity_id, seg_seq, e, r_lat, r_lon "
        f"FROM '{tmp_path}/out_an/trajectory/resampled/*.parquet' "
        "ORDER BY entity_id, seg_seq, e"
    ).fetchall()
    assert got_rs == exp_rs and len(got_rs) > 0
    # per-cell dwell quantiles: hex the stays twin, then the explicit
    # row_number quantile twin over (cell, dwell)
    from jimmy_spark.functions import hexgrid as _hexgrid
    from jimmy_spark.operators import quantiles as _qt

    stays_sql = _tj.duckdb_stay_points_sql(f"'{tracks_path}'")
    dwell_rel = (
        "SELECT entity_id, stay_seq, c_lat, c_lon, "
        "floor(epoch(t_end))::BIGINT - floor(epoch(t_start))::BIGINT "
        f"AS dwell_s FROM ({stays_sql})"
    )
    hexed = _hexgrid.duckdb_hex_query(
        dwell_rel, "entity_id, stay_seq, dwell_s", "c_lat", "c_lon", (7,)
    )
    exp_dq = set(
        duckdb.sql(
            _qt.duckdb_group_quantiles_sql(
                f"(SELECT hex_r7 AS cell, dwell_s FROM ({hexed}))",
                ["cell"], "dwell_s", qs=(0.5, 0.9),
            )
        ).fetchall()
    )
    got_dq = set(
        duckdb.sql(
            "SELECT cell, q_milli, dwell_s "
            f"FROM '{tmp_path}/out_an/trajectory/dwell_quantiles/*.parquet'"
        ).fetchall()
    )
    assert got_dq == exp_dq and len(got_dq) > 0
    # s2 covering: compaction of the job's own l16 set matches the
    # DuckDB ladder twin and round-trips to the same leaf set
    from jimmy_spark.operators import s2cover as _s2c

    exp_cov = duckdb.sql(
        _s2c.duckdb_compact_sql(
            f"SELECT s2_l16 AS cell FROM '{tmp_path}/out_an/enriched/*/*.parquet' WHERE ok"
        )
        + " ORDER BY cell, lvl"
    ).fetchall()
    got_cov = duckdb.sql(
        f"SELECT cell, lvl FROM '{tmp_path}/out_an/s2_covering/*.parquet' "
        "ORDER BY cell, lvl"
    ).fetchall()
    assert got_cov == exp_cov and len(got_cov) > 0
    # hulls: one row per segment, pings conserved, hull bounded by pings
    n_hull_pings, n_hull_rows = duckdb.sql(
        f"SELECT sum(n_pings), count(*) FROM '{tmp_path}/out_an/trajectory/hulls/*.parquet'"
    ).fetchone()
    assert n_hull_rows == len(got_seg) and n_hull_pings == n_raw
    assert duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/out_an/trajectory/hulls/*.parquet' "
        "WHERE hull_n > n_pings OR area2 < 0"
    ).fetchone()[0] == 0
    # mosaic tiles: valid PNGs, every image placed exactly once
    mos_rows = duckdb.sql(
        f"SELECT z, n_imgs, n_drawn, png FROM '{tmp_path}/out_an/mosaic_png/*.parquet'"
    ).fetchall()
    assert mos_rows and all(z == 4 for z, *_ in mos_rows)
    assert sum(r[1] for r in mos_rows) == s4["rows_in"]
    assert _png.decode(bytes(mos_rows[0][3])).shape == (256, 256, 3)
    # map matching vs the blocking-independent DuckDB twin
    from jimmy_spark.operators import mapmatch as _mm

    exp_mm = duckdb.sql(
        _mm.duckdb_match_sql(f"'{tracks_path}'", f"'{roads_path}'")
        + " ORDER BY entity_id, seq"
    ).fetchall()
    got_mm = duckdb.sql(
        "SELECT entity_id, seq, ts, n_cand, road_id, seg_id, d2_floor, t_e6 "
        f"FROM '{tmp_path}/out_an/trajectory/matched/*.parquet' "
        "ORDER BY entity_id, seq"
    ).fetchall()
    assert got_mm == exp_mm and len(got_mm) > 0
    assert any(r[3] == 0 for r in got_mm)  # off-network lane present
    # contact stage vs the brute-force theta-join twins
    from jimmy_spark.operators import stjoin as _st

    exp_ct = duckdb.sql(
        _st.duckdb_buckets_sql(f"'{contacts_path}'", 40_000, 120)
        + " ORDER BY a_id, b_id, tb"
    ).fetchall()
    got_ct = duckdb.sql(
        "SELECT a_id, b_id, tb, n_contacts, t_start, t_end, min_dist2 "
        f"FROM '{tmp_path}/out_an/trajectory/contacts/*.parquet' "
        "ORDER BY a_id, b_id, tb"
    ).fetchall()
    assert got_ct == exp_ct and len(got_ct) > 0
    exp_cv = duckdb.sql(
        "SELECT a_id, b_id, n_buckets FROM ("
        + _st.duckdb_convoys_sql(f"'{contacts_path}'", 40_000, 120, 5)
        + ") ORDER BY a_id, b_id, n_buckets"
    ).fetchall()
    got_cv = duckdb.sql(
        "SELECT a_id, b_id, n_buckets "
        f"FROM '{tmp_path}/out_an/trajectory/convoys/*.parquet' "
        "ORDER BY a_id, b_id, n_buckets"
    ).fetchall()
    assert got_cv == exp_cv
    assert {(r[0], r[1]) for r in got_cv} >= {(0, 1), (2, 3), (2, 4), (3, 4)}
    # geofence stage vs the integer ray-cast + islands twin
    from jimmy_spark.operators import geofence as _gf

    exp_v = duckdb.sql(
        _gf.duckdb_visits_sql(f"'{contacts_path}'", zones_path)
        + " ORDER BY entity_id, zone_id, visit_seq"
    ).fetchall()
    got_v = duckdb.sql(
        "SELECT entity_id, zone_id, visit_seq, seq_first, seq_last, "
        "n_pings, t_enter, t_exit, dwell_s "
        f"FROM '{tmp_path}/out_an/trajectory/visits/*.parquet' "
        "ORDER BY entity_id, zone_id, visit_seq"
    ).fetchall()
    assert got_v == exp_v and len(got_v) > 0


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_dedup_job(spark, tmp_path):
    """The dedup ladder through the real deployment path: spark-submit
    --py-files, run twice (second = resume no-op), clusters identical to
    the in-process computation."""
    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build

    from jimmy_spark.operators import dedup

    zip_path = build(tmp_path / "jimmy_spark.zip")
    docs_path = "/root/testdata/sf0.001/documents.parquet"

    def run():
        cmd = [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "dedup_job.py"),
            "--docs", docs_path,
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"),
            "--run-id", "submit-dedup",
            "--tau", "30",
            "--buckets", "8",
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    s1 = run()
    s2 = run()
    assert s2 == s1  # resume no-op: no new lineage rows, same metrics

    got = duckdb.sql(
        f"SELECT doc_id, cluster_id FROM '{tmp_path}/out/clusters/*.parquet' "
        "ORDER BY doc_id"
    ).fetchall()
    docs = spark.read.parquet(docs_path)
    pairs = dedup.minhash_lsh_pairs(docs, tau_pct=30)
    want = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(docs, pairs).collect()
    )
    assert got == want


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_convert_job(tmp_path):
    """The conversion lifecycle through the real deployment path:
    spark-submit --py-files, stats line + exit code, rerun byte-stable."""
    import hashlib

    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build

    from jimmy_spark.datagen import ensure_exports

    zip_path = build(tmp_path / "jimmy_spark.zip")
    eml_dir = f"{ensure_exports('t2')}/eml"

    def run(out: str):
        cmd = [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "convert_job.py"),
            "--format", "eml",
            "--input", eml_dir,
            "--output", str(tmp_path / out),
            "--include-like", "note img_0000000000%",
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    s1, s2 = run("o1"), run("o2")
    assert s1 == s2
    assert s1["errors"] == 0 and s1["lossless"] and 0 < s1["written"] < 2000

    def digest(d):
        return {
            p.name: hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted((tmp_path / d).glob("*.md"))
        }

    assert digest("o1") == digest("o2")


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_dup_and_hull_stages(t1_dir, tmp_path):
    """The round-5 fusion stages through the real deployment path: decoded
    content near-dups, scene near-dups (geo x image), and per-DBSCAN-cluster
    footprint hulls, each checked against an independent twin over the
    job's own outputs. The fixture plants CO-LOCATED content dups
    (dup_colocate: base row's phash -> identical georef location), so the
    scene lane has guaranteed positives."""
    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build
    from jimmy_spark.datagen.images import write_images

    zip_path = build(tmp_path / "jimmy_spark.zip")
    imgs = tmp_path / "images.parquet"
    # skew_frac: hot-city density so DBSCAN actually forms clusters for
    # the --cluster-hulls stage; dup_colocate composes with it (a plant
    # copies its base row's post-skew phash)
    write_images(str(imgs), 240, 11, skew_frac=0.3, dup_every=4, dup_colocate=True)

    out = tmp_path / "out"
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "spatial_job.py"),
        "--images", str(imgs),
        "--polygons", f"{t1_dir}/polygons.parquet",
        "--out", str(out),
        "--checkpoint", str(tmp_path / "cp"),
        "--run-id", "submit-dups",
        "--buckets", "4",
        "--dbscan-eps", "200000", "--dbscan-min-pts", "4",
        "--cluster-hulls",
        "--content-dups",
        "--scene-dup-d", "50000", "--dup-hamming", "6",
        "--keep-best",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]

    from jimmy_spark.operators import imagedup
    from jimmy_spark.operators.dedup import DEFAULT_MAX_BUCKET

    # features: one ok row per image (fixture has no corrupt rows)
    n_ok = duckdb.sql(
        f"SELECT count(*) FROM '{out}/features/*.parquet' WHERE ok"
    ).fetchone()[0]
    assert n_ok == 240

    # content lane vs the SQL twin over the job's own features output
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW feats AS SELECT image_id, ahash "
        f"FROM '{out}/features/*.parquet' WHERE ok"
    )
    want_c = con.execute(
        imagedup.duckdb_ahash_sql(6, bands=8, max_bucket=DEFAULT_MAX_BUCKET)
    ).fetchall()
    got_c = duckdb.sql(
        f"SELECT a, b, hamming FROM '{out}/content_dups/*.parquet' "
        "ORDER BY a, b"
    ).fetchall()
    assert got_c == want_c and len(got_c) > 0
    planted = {
        (f"img_{g - 1:012d}", f"img_{g:012d}") for g in range(1, 240, 4)
    }
    assert planted <= {(a, b) for a, b, _ in got_c}

    # scene lane vs the brute-force both-gates twin (enriched x features)
    pts_sql = (
        "SELECT e.image_id, e.lat_e7, e.lon_e7, f.ahash "
        f"FROM '{out}/enriched/*/*.parquet' e "
        f"JOIN '{out}/features/*.parquet' f USING (image_id) "
        "WHERE e.ok AND f.ok"
    )
    want_s = con.execute(
        imagedup.duckdb_scene_sql(pts_sql, d=50_000, threshold=6)
        + " ORDER BY a_id, b_id"
    ).fetchall()
    got_s = duckdb.sql(
        f"SELECT a_id, b_id, dist2, hamming FROM '{out}/scene_dups/*.parquet' "
        "ORDER BY a_id, b_id"
    ).fetchall()
    assert got_s == want_s
    # co-located plants: dist2 = 0, hamming <= 3, always emitted (no cap)
    got_s_pairs = {(a, b) for a, b, _, _ in got_s}
    assert planted <= got_s_pairs
    assert all(
        d2 == 0 and h <= 3 for a, b, d2, h in got_s if (a, b) in planted
    )

    # keep-best curation labels vs the independent DuckDB twin (recursive-
    # CTE components + row_number argmax) over the same enriched x features
    # frame the job consumed
    kb_pts_sql = (
        "SELECT e.image_id, e.lat_e7, e.lon_e7, "
        "f.ahash, f.sharp_e3, f.clip_e3 "
        f"FROM '{out}/enriched/*/*.parquet' e "
        f"JOIN '{out}/features/*.parquet' f USING (image_id) "
        "WHERE e.ok AND f.ok"
    )
    want_k = set(
        con.execute(
            imagedup.duckdb_keep_best_sql(
                kb_pts_sql, d=50_000, threshold=6,
                num_id_sql="CAST(substring(image_id, 5, 12) AS BIGINT)",
            )
        ).fetchall()
    )
    got_k = set(
        duckdb.sql(
            f"SELECT image_id, cluster_id, keep FROM '{out}/keep_best/*.parquet'"
        ).fetchall()
    )
    assert got_k == want_k and len(got_k) == 240
    # each planted co-located near-dup pair collapsed into one cluster,
    # so keeps are strictly fewer than images
    assert sum(1 for _, _, k in got_k if k) < 240
    con.close()

    # cluster hulls vs a sequential twin over the job's own cluster labels:
    # the kernel (monotone_chain/ring_stats) is differential-tested against
    # gift wrapping in test_hull.py; here the DISTRIBUTED two-stage plumbing
    # must reproduce the sequential per-cluster result exactly. n_points is
    # the partial-hull row count (partitioning-dependent by contract) and is
    # excluded.
    from jimmy_spark.operators.hull import monotone_chain, ring_stats

    label_rows = duckdb.sql(
        "SELECT c.cluster_id, e.lon_e7, e.lat_e7 "
        f"FROM '{out}/clusters/*.parquet' c "
        f"JOIN '{out}/enriched/*/*.parquet' e USING (image_id) "
        "WHERE c.cluster_id IS NOT NULL AND e.ok"
    ).fetchall()
    by_cluster: dict[int, list[tuple[int, int]]] = {}
    for cid, lon, lat in label_rows:
        by_cluster.setdefault(cid, []).append((lon, lat))
    assert by_cluster
    want_h = {}
    for cid, pts in by_cluster.items():
        ring = monotone_chain(pts)
        a2, per = ring_stats(ring)
        want_h[cid] = (
            len(ring), a2, per,
            tuple(p[0] for p in ring), tuple(p[1] for p in ring),
        )
    got_h = {
        r[0]: (r[1], int(r[2]), r[3], tuple(r[4]), tuple(r[5]))
        for r in duckdb.sql(
            "SELECT cluster_id, hull_n, area2, perim_len, hull_lon, hull_lat "
            f"FROM '{out}/cluster_hulls/*.parquet'"
        ).fetchall()
    }
    assert got_h == want_h


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_curate_job(spark, tmp_path):
    """The full curation ladder (quality gate -> exact md5 dedup -> scene
    keep-best) through real spark-submit, run twice (second = feature-
    stage resume no-op), outputs equal to the in-process recomputation,
    with every rejection lane live and curated ∪ rejected an exact
    partition of the input."""
    import hashlib

    import pandas as pd

    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build

    from jimmy_spark.datagen.images import write_images
    from jimmy_spark.operators import imagedup, multimodal

    zip_path = build(tmp_path / "jimmy_spark.zip")
    base = tmp_path / "base.parquet"
    # near-dup plants (scene lane) + corrupt rows (decode lane)
    write_images(
        str(base), 240, 11,
        skew_frac=0.3, dup_every=4, dup_colocate=True, corrupt_every=24,
    )
    pdf = pd.read_parquet(base)
    # plant byte-IDENTICAL copies under fresh ids at unrelated locations:
    # the exact-md5 lane must catch them regardless of georef
    copies = pdf.iloc[5:10].copy().reset_index(drop=True)
    copies["image_id"] = [f"img_{900 + i:012d}" for i in range(len(copies))]
    copies["phash"] = pdf["phash"].iloc[100:105].to_numpy()  # elsewhere
    copies["caption"] = "exact byte copy"
    full = pd.concat([pdf, copies], ignore_index=True)
    imgs = tmp_path / "images.parquet"
    full.to_parquet(imgs)

    MIN_SHARP, MAX_CLIP, SCENE_D, HAM = 5, 900, 50_000, 6

    def run():
        cmd = [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "curate_job.py"),
            "--images", str(imgs),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"),
            "--run-id", "submit-curate",
            "--buckets", "8",
            "--scene-d", str(SCENE_D), "--hamming", str(HAM),
            "--min-sharp", str(MIN_SHARP), "--max-clip", str(MAX_CLIP),
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    s1 = run()
    s2 = run()
    assert s2 == s1  # feature-stage resume no-op, deterministic tail

    # ---- expected, recomputed in-process with the audited operators ----
    from pyspark.sql import functions as F

    from jimmy_spark.operators import cells
    from jimmy_spark.sources.images import read_images

    images = read_images(spark, str(imgs))
    feats = (
        multimodal.image_features(images)
        .select("image_id", "ok", "ahash", "sharp_e3", "clip_e3")
        .toPandas()
    )
    md5s = {
        r.image_id: hashlib.md5(bytes(r.bytes)).hexdigest()
        for r in full.itertuples()
    }
    feats["content_md5"] = feats["image_id"].map(md5s)
    feats["reason"] = None
    feats.loc[~feats["ok"], "reason"] = "decode"
    bad_q = feats["ok"] & (
        (feats["sharp_e3"] < MIN_SHARP) | (feats["clip_e3"] > MAX_CLIP)
    )
    feats.loc[bad_q, "reason"] = "quality"
    surv = feats[feats["reason"].isnull()].copy()
    kept_first = surv.groupby("content_md5")["image_id"].min()
    surv["kept_id"] = surv["content_md5"].map(kept_first)
    exact_rej = surv[surv["image_id"] != surv["kept_id"]]
    uniq_ids = set(surv[surv["image_id"] == surv["kept_id"]]["image_id"])

    geo = (
        cells.with_georef(images.select("image_id", "phash"))
        .toPandas()
        .set_index("image_id")
    )
    uniq_pdf = surv[surv["image_id"].isin(uniq_ids)][
        ["image_id", "ahash", "sharp_e3", "clip_e3"]
    ].copy()
    uniq_pdf["lat_e7"] = uniq_pdf["image_id"].map(geo["lat_e7"])
    uniq_pdf["lon_e7"] = uniq_pdf["image_id"].map(geo["lon_e7"])
    labels = {
        r.image_id: (r.cluster_id, r.keep)
        for r in imagedup.scene_dedup_keep_best(
            spark.createDataFrame(uniq_pdf), d=SCENE_D, threshold=HAM,
            num_id=F.substring("image_id", 5, 12).cast("long"),
        ).collect()
    }
    exp_curated = {i for i, (c, k) in labels.items() if k}
    kept_of = {c: i for i, (c, k) in labels.items() if k}
    exp_rej = (
        {(r.image_id, r.reason, None) for r in feats.itertuples()
         if r.reason in ("decode", "quality")}
        | {(r.image_id, "exact_dup", r.kept_id) for r in exact_rej.itertuples()}
        | {(i, "scene_dup", kept_of[c]) for i, (c, k) in labels.items() if not k}
    )

    got_curated = {
        r[0] for r in duckdb.sql(
            f"SELECT image_id FROM '{tmp_path}/out/curated/*.parquet'"
        ).fetchall()
    }
    got_rej = set(
        duckdb.sql(
            "SELECT image_id, reason, kept_id "
            f"FROM '{tmp_path}/out/rejected/*.parquet'"
        ).fetchall()
    )
    assert got_curated == exp_curated
    assert got_rej == exp_rej
    # every lane live, and curated ∪ rejected partitions the input exactly
    reasons = {r for _, r, _ in got_rej}
    assert reasons == {"decode", "quality", "exact_dup", "scene_dup"}
    rej_ids = {i for i, _, _ in got_rej}
    assert got_curated | rej_ids == set(full["image_id"])
    assert not (got_curated & rej_ids)
    # stats line is the truth
    assert s1["rows_in"] == len(full)
    assert s1["n_curated"] == len(exp_curated)
    assert s1["rejected"] == {
        r: sum(1 for _, rr, _ in exp_rej if rr == r) for r in reasons
    }


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_traj_sim_stage(spark, t1_dir, tmp_path):
    """--traj-sim-d through the real deployment path, on a planted
    carpool fixture (the dispersed random-walk tables have no similar
    pairs): job output == in-process frechet_join set-exactly, and the
    lane is live (>= 3 pairs)."""
    import random

    import pandas as pd

    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build

    from jimmy_spark.operators import trajectory as tj
    from jimmy_spark.operators import trajsim

    rng = random.Random(17)
    rows = []
    ent = 0
    for base in range(2):
        ox0, oy0 = 10_000_000 + base * 50_000_000, -4_000_000
        route = [
            (ox0 + i * 8000 + rng.randint(-300, 300),
             oy0 + i * 5000 + rng.randint(-300, 300))
            for i in range(16)
        ]
        for _ in range(3):
            sx, sy = rng.randint(-2500, 2500), rng.randint(-2500, 2500)
            t = 1_700_000_000 + ent * 50_000
            for i, (lon, lat) in enumerate(route):
                rows.append(
                    (ent, i, t + i * 60,
                     lat + sy + rng.randint(-200, 200),
                     lon + sx + rng.randint(-200, 200))
                )
            ent += 1
    pdf = pd.DataFrame(
        rows, columns=["entity_id", "seq", "epoch", "lat_e7", "lon_e7"]
    )
    tracks_path = tmp_path / "carpool.parquet"
    tdf = spark.createDataFrame(pdf).selectExpr(
        "entity_id", "seq", "timestamp_seconds(epoch) AS ts",
        "lat_e7", "lon_e7",
    )
    tdf.write.mode("overwrite").parquet(str(tracks_path))

    D = 50_000
    zip_path = build(tmp_path / "jimmy_spark.zip")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "spatial_job.py"),
        "--images", f"{t1_dir}/images.parquet",
        "--polygons", f"{t1_dir}/polygons.parquet",
        "--out", str(tmp_path / "out_ts"),
        "--checkpoint", str(tmp_path / "cp_ts"),
        "--run-id", "submit-trajsim",
        "--buckets", "8",
        "--tracks", str(tracks_path),
        "--traj-sim-d", str(D),
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    got = set(
        duckdb.sql(
            "SELECT a_track, b_track, frechet2, haus2 "
            f"FROM '{tmp_path}/out_ts/trajectory/similar_pairs/*.parquet'"
        ).fetchall()
    )
    want = {
        (r["a_track"], r["b_track"], r["frechet2"], r["haus2"])
        for r in trajsim.frechet_join(
            tj.segment_tracks(spark.read.parquet(str(tracks_path))), D
        ).collect()
    }
    assert got == want
    assert len(got) >= 3  # each base: C(3,2) variant pairs


def test_spark_submit_curate_adaptive_gate(spark, tmp_path):
    """--min-sharp-pct: the quality gate's threshold is the corpus's own
    exact sharpness percentile (quantile operator over the feature
    stage), verified against a pure-Python rank computation — the
    rejected set is exactly the rows strictly below that value."""
    sys.path.insert(0, str(REPO))
    from scripts.make_pyfiles_zip import build

    from jimmy_spark.datagen.images import write_images
    from jimmy_spark.operators import fingerprints
    from jimmy_spark.sources.images import read_images

    zip_path = build(tmp_path / "jimmy_spark.zip")
    imgs = tmp_path / "images.parquet"
    write_images(str(imgs), 120, 17, corrupt_every=24)

    PCT = 20
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "curate_job.py"),
        "--images", str(imgs),
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "cp"),
        "--run-id", "submit-adaptive",
        "--buckets", "4",
        "--scene-d", "1",       # neutralize the scene lane
        "--hamming", "0",
        "--max-clip", "1000",
        "--min-sharp-pct", str(PCT),
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    stats = json.loads(p.stdout.strip().splitlines()[-1])

    feats = (
        fingerprints.curation_features_full(read_images(spark, str(imgs)))
        .filter("ok")
        .select("image_id", "sharp_e3")
        .toPandas()
    )
    vs = sorted(int(v) for v in feats["sharp_e3"])
    r = (PCT * 10 * len(vs) + 999) // 1000  # ceil(q*n), milli form
    thr = vs[r - 1]
    assert stats["min_sharp_used"] == thr
    exp_rej = {
        i for i, s in zip(feats["image_id"], feats["sharp_e3"]) if s < thr
    }
    got_rej = {
        r[0]
        for r in duckdb.sql(
            "SELECT image_id FROM "
            f"'{tmp_path}/out/rejected/*.parquet' WHERE reason = 'quality'"
        ).fetchall()
    }
    assert got_rej == exp_rej
    # the gate is live but bounded: nonempty, and at most ~PCT%
    assert 0 < len(exp_rej) <= r - 1
