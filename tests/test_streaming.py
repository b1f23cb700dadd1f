"""Streaming window aggregation: stream == batch == DuckDB oracle;
sessionization vs oracle."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from jimmy_spark.streaming import windows
from jimmy_spark.streaming.state import BatchDirs

SF_DIR = "/root/testdata/sf0.001"
EVENTS = f"{SF_DIR}/events.parquet"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(EVENTS)


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    out = pdf[cols].copy()
    for c in cols:
        if str(out[c].dtype).startswith("datetime"):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
    return out.sort_values(cols).reset_index(drop=True)


def test_windowed_counts_batch_vs_oracle(events):
    got = _norm(windows.windowed_counts_batch(events).toPandas())
    exp = _norm(duckdb.sql(windows.duckdb_windows_sql(f"'{EVENTS}'")).df())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_stream_equals_batch(spark, events, tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    events.write.mode("overwrite").parquet(str(d))
    got = _norm(windows.windowed_counts_stream(spark, str(d)).toPandas())
    exp = _norm(windows.windowed_counts_batch(events).toPandas())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sessionize_vs_oracle(events):
    got = _norm(windows.sessionize_batch(events).toPandas())
    exp = _norm(duckdb.sql(windows.duckdb_sessionize_sql(f"'{EVENTS}'")).df())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_hourly_rollup_cascade_invariant(spark, events):
    """The continuous-aggregate invariant: the hour level computed FROM
    the 5-minute partials equals the hour level computed from raw events
    — exactly for counts, to float tolerance for the rounded totals."""
    fine = windows.windowed_counts_batch(events)
    from_fine = {
        (r._h, r.event_type): (r.n_hour, r.total_hour)
        for r in windows.hourly_rollup(fine).collect()
    }
    from_raw = {
        (r._h, r.event_type): (r.n_hour, float(r.total_hour))
        for r in windows.hourly_rollup(
            windows.windowed_counts_batch(events, minutes=60)
            .withColumnRenamed("n", "n0")
            .selectExpr("w_start", "w_end", "event_type", "n0 as n", "total")
        ).collect()
    }
    assert set(from_fine) == set(from_raw)
    for k, (n, tot) in from_fine.items():
        assert n == from_raw[k][0]
        assert abs(tot - from_raw[k][1]) < 1e-4


class TestSpatialIngest:
    """Continuous-arrival twin of the spatial hot path (streaming/spatial.py):
    drain -> idempotent no-op -> drain new arrivals; final sink must equal
    the one-shot batch fused stage over everything, row for row."""

    @staticmethod
    def _norm_fused(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        for c in out.columns:
            if len(out) and isinstance(out[c].iloc[0], (list, tuple)):
                out[c] = out[c].map(lambda v: tuple(v) if v is not None else None)
            elif str(out[c].dtype) == "object":
                out[c] = out[c].map(
                    lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
                )
        cols = sorted(out.columns)
        return out[cols].sort_values("image_id").reset_index(drop=True)

    def test_ingest_two_arrivals_equals_batch(self, spark, t1_dir, tmp_path):
        import pyarrow.parquet as pq
        import shutil

        from jimmy_spark.operators import fused
        from jimmy_spark.streaming import spatial

        src = tmp_path / "arrivals"
        src.mkdir()
        out = str(tmp_path / "enriched")
        cp = str(tmp_path / "cp")
        tbl = pq.read_table(f"{t1_dir}/images.parquet")
        poly_pdf = pd.read_parquet(f"{t1_dir}/polygons.parquet")

        # arrival 1: first 300 rows
        pq.write_table(tbl.slice(0, 300), src / "part-0.parquet")
        spatial.run_spatial_ingest(spark, str(src), poly_pdf, out, cp)
        n1 = spark.read.parquet(out).count()
        assert n1 == 300

        # no new files: draining again is a no-op (no duplicate rows)
        spatial.run_spatial_ingest(spark, str(src), poly_pdf, out, cp)
        assert spark.read.parquet(out).count() == 300

        # arrival 2: the rest — only the new file is processed
        pq.write_table(tbl.slice(300), src / "part-1.parquet")
        spatial.run_spatial_ingest(spark, str(src), poly_pdf, out, cp)

        got = self._norm_fused(spark.read.parquet(out).toPandas())
        exp = self._norm_fused(
            fused.fused_spatial_stage(
                spark.read.parquet(str(src)), poly_pdf
            ).toPandas()
        )
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    def test_ingest_restart_after_sink_loss_is_consistent(
        self, spark, t1_dir, tmp_path
    ):
        """Blowing away the sink but keeping the source checkpoint must NOT
        silently skip data on a fresh run id — and a fresh checkpoint over
        the same source reproduces the sink byte-identically (determinism
        of the fused kernel across replays)."""
        import pyarrow.parquet as pq

        from jimmy_spark.streaming import spatial

        src = tmp_path / "arrivals"
        src.mkdir()
        poly_pdf = pd.read_parquet(f"{t1_dir}/polygons.parquet")
        tbl = pq.read_table(f"{t1_dir}/images.parquet")
        pq.write_table(tbl.slice(0, 200), src / "part-0.parquet")

        out_a, cp_a = str(tmp_path / "out_a"), str(tmp_path / "cp_a")
        out_b, cp_b = str(tmp_path / "out_b"), str(tmp_path / "cp_b")
        spatial.run_spatial_ingest(spark, str(src), poly_pdf, out_a, cp_a)
        spatial.run_spatial_ingest(spark, str(src), poly_pdf, out_b, cp_b)
        a = self._norm_fused(spark.read.parquet(out_a).toPandas())
        b = self._norm_fused(spark.read.parquet(out_b).toPandas())
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


class TestProximityStream:
    """Incremental within-distance pair maintenance
    (streaming/spatial.py run_proximity_stream)."""

    D = 20_000

    @staticmethod
    def _pts_table(spark, t2_dir):
        from jimmy_spark.operators import cells

        imgs = spark.read.parquet(f"{t2_dir}/images.parquet")
        return cells.with_georef(imgs.select("image_id", "phash")).select(
            "image_id", "lat_e7", "lon_e7"
        )

    @staticmethod
    def _pairs(spark, out):
        return {
            (r.a_id, r.b_id, r.dist2)
            for r in spark.read.parquet(f"{out}/b=*").collect()
        }

    def test_incremental_kernel_is_exact_delta(self, spark, t2_dir):
        """incremental(new, old) == pairs(all) - pairs(old), exactly."""
        from jimmy_spark.operators import distjoin

        pts = self._pts_table(spark, t2_dir)
        old = pts.filter("image_id < 'img_000000001300'")
        new = pts.subtract(old)
        inc = {
            (r.a_id, r.b_id, r.dist2)
            for r in distjoin.distance_join_grid_incremental(new, old, d=self.D).collect()
        }
        all_p = {
            (r.a_id, r.b_id, r.dist2)
            for r in distjoin.distance_join_grid(pts, d=self.D).collect()
        }
        old_p = {
            (r.a_id, r.b_id, r.dist2)
            for r in distjoin.distance_join_grid(old, d=self.D).collect()
        }
        assert inc == all_p - old_p
        assert inc and old_p  # both waves carry real pair mass

    def test_stream_two_waves_equals_batch(self, spark, t2_dir, tmp_path):
        from jimmy_spark.operators import distjoin
        from jimmy_spark.streaming import spatial

        pts = self._pts_table(spark, t2_dir).toPandas()
        src = tmp_path / "pts"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("pairs", "state", "cp"))

        pts.iloc[:1200].to_parquet(src / "w0.parquet")
        spatial.run_proximity_stream(spark, str(src), self.D, out, st, cp)
        first = self._pairs(spark, out)

        # drain again with nothing new: no-op (exactly-once across runs)
        spatial.run_proximity_stream(spark, str(src), self.D, out, st, cp)
        assert self._pairs(spark, out) == first

        pts.iloc[1200:].to_parquet(src / "w1.parquet")
        spatial.run_proximity_stream(spark, str(src), self.D, out, st, cp)

        got = self._pairs(spark, out)
        full = spark.createDataFrame(pts)
        exp = {
            (r.a_id, r.b_id, r.dist2)
            for r in distjoin.distance_join_grid(full, d=self.D).collect()
        }
        assert got == exp
        # and exactly once: row count equals set size
        n_rows = spark.read.parquet(f"{out}/b=*").count()
        assert n_rows == len(exp)

    def test_compaction_is_noop_and_next_wave_exact(self, spark, t2_dir, tmp_path):
        """compact_pair_stream_state folds the pair log and point state
        to one dir each: pair multiset unchanged, and the next drain's
        delta against the compacted OLD side still reproduces the batch
        join exactly (each pair exactly once)."""
        import os

        from jimmy_spark.operators import distjoin
        from jimmy_spark.streaming import spatial

        pts = self._pts_table(spark, t2_dir).toPandas()
        src = tmp_path / "pts_c"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("pairs_c", "state_c", "cp_c"))
        pts.iloc[:800].to_parquet(src / "w0.parquet")
        pts.iloc[800:1400].to_parquet(src / "w1.parquet")
        spatial.run_proximity_stream(
            spark, str(src), self.D, out, st, cp, max_files_per_trigger=1
        )
        before = self._pairs(spark, out)

        spatial.compact_pair_stream_state(spark, out, st, cp)
        for d in (out, st):
            assert sum(1 for e in os.listdir(d) if e.startswith("b=")) == 1
        assert self._pairs(spark, out) == before
        # exactly-once survives compaction in MULTISET terms too
        assert spark.read.parquet(f"{out}/b=*").count() == len(before)

        pts.iloc[1400:].to_parquet(src / "w2.parquet")
        spatial.run_proximity_stream(spark, str(src), self.D, out, st, cp)
        got = self._pairs(spark, out)
        full = spark.createDataFrame(pts)
        exp = {
            (r.a_id, r.b_id, r.dist2)
            for r in distjoin.distance_join_grid(full, d=self.D).collect()
        }
        assert got == exp
        assert spark.read.parquet(f"{out}/b=*").count() == len(exp)


class TestSceneDupStream:
    """Incremental scene near-dup maintenance (streaming/spatial.py
    run_scene_dup_stream): the proximity stream's delta/idempotence
    discipline with the content-hash gate fused in. Hashes here are a
    deterministic low-entropy stand-in (index % 8) — the stream test is
    about the delta identity and exactly-once plumbing; real decoded-hash
    semantics are covered end-to-end in tests/test_imagedup.py."""

    D = 20_000
    T = 2

    @staticmethod
    def _pts(spark, t2_dir):
        import numpy as np

        from jimmy_spark.operators import cells

        imgs = spark.read.parquet(f"{t2_dir}/images.parquet")
        pdf = (
            cells.with_georef(imgs.select("image_id", "phash"))
            .select("image_id", "lat_e7", "lon_e7")
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
        pdf["ahash"] = np.arange(len(pdf), dtype=np.int64) % 8
        return pdf

    @staticmethod
    def _pairs(spark, out):
        return {
            (r.a_id, r.b_id, r.dist2, r.hamming)
            for r in spark.read.parquet(f"{out}/b=*").collect()
        }

    def test_stream_two_waves_equals_batch(self, spark, t2_dir, tmp_path):
        from jimmy_spark.operators import distjoin, imagedup
        from jimmy_spark.streaming import spatial

        pdf = self._pts(spark, t2_dir)
        src = tmp_path / "pts"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("pairs", "state", "cp"))

        pdf.iloc[:1200].to_parquet(src / "w0.parquet")
        spatial.run_scene_dup_stream(spark, str(src), self.D, self.T, out, st, cp)
        first = self._pairs(spark, out)

        # drain again with nothing new: no-op (exactly-once across runs)
        spatial.run_scene_dup_stream(spark, str(src), self.D, self.T, out, st, cp)
        assert self._pairs(spark, out) == first

        pdf.iloc[1200:].to_parquet(src / "w1.parquet")
        spatial.run_scene_dup_stream(spark, str(src), self.D, self.T, out, st, cp)

        got = self._pairs(spark, out)
        full = spark.createDataFrame(pdf)
        exp = {
            (r.a_id, r.b_id, r.dist2, r.hamming)
            for r in imagedup.scene_dup_pairs(full, d=self.D, threshold=self.T).collect()
        }
        assert got == exp and len(exp) > 0
        # exactly once: row count equals set size
        assert spark.read.parquet(f"{out}/b=*").count() == len(exp)
        # the hamming gate is live: strictly fewer pairs than distance alone
        n_dist = distjoin.distance_join_grid(full, d=self.D).count()
        assert len(exp) < n_dist


class TestHullStream:
    """Continuous per-group footprint maintenance (streaming/hulls.py):
    the hull-merge identity as a monoid fold — state is the footprint
    table itself (vertices only), and after any number of micro-batches
    the latest table equals the batch group_hulls over all points."""

    SRC_SCHEMA = (
        "image_id string, lat_e7 long, lon_e7 long, zone_x long, zone_y long"
    )

    @staticmethod
    def _pts(spark, t2_dir):
        from jimmy_spark.operators import cells

        imgs = spark.read.parquet(f"{t2_dir}/images.parquet")
        pdf = (
            cells.with_georef(imgs.select("image_id", "phash"))
            .select("image_id", "lat_e7", "lon_e7")
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
        pdf["zone_x"] = pdf["lon_e7"] // 600_000_000
        pdf["zone_y"] = pdf["lat_e7"] // 600_000_000
        return pdf

    @staticmethod
    def _footprints(spark, out):
        from jimmy_spark.streaming import hulls

        df = hulls.latest_footprints(spark, out)
        assert df is not None
        return {
            (r.zone_x, r.zone_y): (
                r.hull_n, int(r.area2), r.perim_len,
                tuple(r.hull_lon), tuple(r.hull_lat),
            )
            for r in df.collect()
        }

    def test_multi_batch_fold_equals_batch(self, spark, t2_dir, tmp_path):
        from jimmy_spark.operators import hull
        from jimmy_spark.streaming import hulls

        pdf = self._pts(spark, t2_dir)
        src = tmp_path / "pts"
        src.mkdir()
        out, cp = str(tmp_path / "foot"), str(tmp_path / "cp")

        # three files, one micro-batch each: the fold runs twice within
        # one drain (vertex state read back across batches)
        for i, sl in enumerate((slice(0, 700), slice(700, 1400), slice(1400, None))):
            pdf.iloc[sl].to_parquet(src / f"w{i}.parquet")
        hulls.run_hull_stream(
            spark, str(src), ["zone_x", "zone_y"], self.SRC_SCHEMA, out, cp,
            max_files_per_trigger=1,
        )
        got = self._footprints(spark, out)

        full = spark.createDataFrame(pdf)
        exp = {
            (r.zone_x, r.zone_y): (
                r.hull_n, int(r.area2), r.perim_len,
                tuple(r.hull_lon), tuple(r.hull_lat),
            )
            for r in hull.group_hulls(full, ["zone_x", "zone_y"]).collect()
        }
        assert got == exp and len(exp) > 1

        # nothing new: no-op (no new batch dirs)
        n_dirs = len(BatchDirs(out).ids())
        hulls.run_hull_stream(
            spark, str(src), ["zone_x", "zone_y"], self.SRC_SCHEMA, out, cp,
            max_files_per_trigger=1,
        )
        assert len(BatchDirs(out).ids()) == n_dirs
        assert self._footprints(spark, out) == exp

        # late arrivals fold in: a new file shifts exactly the zones it
        # touches and the result still equals the from-scratch batch hull
        extra = pdf.iloc[:200].copy()
        extra["image_id"] = "late_" + extra["image_id"]
        extra["lat_e7"] = extra["lat_e7"] + 90_000_000
        extra["zone_y"] = extra["lat_e7"] // 600_000_000
        extra.to_parquet(src / "w3.parquet")
        hulls.run_hull_stream(
            spark, str(src), ["zone_x", "zone_y"], self.SRC_SCHEMA, out, cp,
            max_files_per_trigger=1,
        )
        import pandas as pd

        full2 = spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True))
        exp2 = {
            (r.zone_x, r.zone_y): (
                r.hull_n, int(r.area2), r.perim_len,
                tuple(r.hull_lon), tuple(r.hull_lat),
            )
            for r in hull.group_hulls(full2, ["zone_x", "zone_y"]).collect()
        }
        assert self._footprints(spark, out) == exp2


class TestKeepBestStream:
    """Continuous keep-best curation (streaming/spatial.py
    run_keep_best_stream): after every drain the latest table equals the
    batch scene_dedup_keep_best over all points seen so far — including
    keep-flag takeovers when a sharper shot of an existing scene arrives
    late."""

    D = 400_000_000
    T = 40
    NUM_ID = "CAST(substring(image_id, 5, 12) AS BIGINT)"

    @staticmethod
    def _pts(spark, t2_dir):
        import numpy as np

        from jimmy_spark.operators import cells

        imgs = spark.read.parquet(f"{t2_dir}/images.parquet")
        pdf = (
            cells.with_georef(imgs.select("image_id", "phash"))
            .select("image_id", "lat_e7", "lon_e7")
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
        idx = np.arange(len(pdf), dtype=np.int64)
        pdf["ahash"] = idx % 8
        pdf["sharp_e3"] = (idx * 37) % 1000
        pdf["clip_e3"] = (idx * 13) % 100
        return pdf

    @classmethod
    def _batch(cls, spark, pdf):
        from pyspark.sql import functions as F

        from jimmy_spark.operators import imagedup

        return {
            (r.image_id, r.cluster_id, r.keep)
            for r in imagedup.scene_dedup_keep_best(
                spark.createDataFrame(pdf), d=cls.D, threshold=cls.T,
                num_id=F.expr(cls.NUM_ID),
            ).collect()
        }

    @staticmethod
    def _latest(spark, out):
        from jimmy_spark.streaming import spatial

        df = spatial.latest_curation(spark, out)
        assert df is not None
        return {(r.image_id, r.cluster_id, r.keep) for r in df.collect()}

    def test_stream_equals_batch_with_takeover(self, spark, t2_dir, tmp_path):
        import pandas as pd

        from jimmy_spark.streaming import spatial

        pdf = self._pts(spark, t2_dir)
        src = tmp_path / "pts"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("curation", "state", "cp"))

        def drain():
            spatial.run_keep_best_stream(
                spark, str(src), self.D, self.T, out, st, cp,
                num_id_sql=self.NUM_ID, max_files_per_trigger=1,
            )

        # two waves, interleaved ids (cross-wave pairs on both carry sides)
        w0 = pdf[pdf["image_id"].str.slice(-1).astype(int) % 2 == 0]
        w1 = pdf.drop(w0.index)
        w0.to_parquet(src / "w0.parquet")
        w1.to_parquet(src / "w1.parquet")
        drain()
        assert self._latest(spark, out) == self._batch(spark, pdf)

        # nothing new: no-op
        import os

        n_out = len(os.listdir(out))
        drain()
        assert len(os.listdir(out)) == n_out

        # late takeover: a strictly sharper, cleaner copy of a currently
        # KEPT image (same location + hash => same cluster) must take the
        # keep flag from it
        cur = self._latest(spark, out)
        kept_multi = sorted(
            iid for iid, cid, k in cur if k
            and sum(1 for _, c, _ in cur if c == cid) > 1
        )
        victim = kept_multi[0]
        vrow = pdf[pdf["image_id"] == victim].iloc[0]
        late = pd.DataFrame([{
            "image_id": "img_999000000001",
            "lat_e7": vrow["lat_e7"], "lon_e7": vrow["lon_e7"],
            "ahash": vrow["ahash"],
            "sharp_e3": 2000, "clip_e3": 0,
        }])
        late.to_parquet(src / "w2.parquet")
        drain()
        got = self._latest(spark, out)
        all_pdf = pd.concat([pdf, late], ignore_index=True)
        assert got == self._batch(spark, all_pdf)
        by_id = {iid: (cid, k) for iid, cid, k in got}
        assert by_id["img_999000000001"][1]
        assert not by_id[victim][1]
        assert by_id[victim][0] == by_id["img_999000000001"][0]

        # r6 dirty-component discipline: the late wave touched ONLY the
        # victim's cluster — the newest batch dir must contain exactly
        # that cluster's rows plus the new image, leaving every other
        # cluster's committed labels unwritten (per-batch cost tracks
        # the delta, not stream lifetime)
        import os as _os

        last = max(
            int(e.split("=", 1)[1])
            for e in _os.listdir(out)
            if e.startswith("b=")
        )
        written = {
            r.image_id
            for r in spark.read.parquet(f"{out}/b={last}").collect()
        }
        dirty_cluster = by_id["img_999000000001"][0]
        expected_dirty = {
            iid for iid, (cid, _k) in by_id.items() if cid == dirty_cluster
        }
        assert written == expected_dirty

    def test_untouched_cluster_rows_stay_unwritten(self, spark, tmp_path):
        """r6 (VERDICT #3): a wave touching only cluster A must leave
        cluster B's rows unwritten in the new batch dir — and the folded
        table still equals the batch operator exactly."""
        import os

        import pandas as pd

        from jimmy_spark.streaming import spatial

        src = tmp_path / "pts2"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("cur2", "st2", "cp2"))

        def row(i, lat, lon, sharp):
            return {
                "image_id": f"img_{i:012d}", "lat_e7": lat, "lon_e7": lon,
                "ahash": 0, "sharp_e3": sharp, "clip_e3": 0,
            }

        # cluster A near (0, 0); cluster B ~9 degrees east — far outside
        # the 50k pair distance
        w0 = pd.DataFrame([
            row(1, 0, 0, 10), row(2, 10, 10, 20),
            row(5, 0, 90_000_000, 30), row(6, 10, 90_000_010, 40),
        ])
        w0.to_parquet(src / "w0.parquet")

        def drain():
            spatial.run_keep_best_stream(
                spark, str(src), 50_000, 64, out, st, cp,
                num_id_sql=self.NUM_ID, max_files_per_trigger=1,
            )

        drain()
        # wave 2: one sharper shot next to cluster A only
        pd.DataFrame([row(3, 5, 5, 99)]).to_parquet(src / "w1.parquet")
        drain()
        last = max(
            int(e.split("=", 1)[1])
            for e in os.listdir(out) if e.startswith("b=")
        )
        written = {
            r.image_id for r in spark.read.parquet(f"{out}/b={last}").collect()
        }
        assert written == {"img_000000000001", "img_000000000002",
                           "img_000000000003"}
        all_pdf = pd.concat(
            [w0, pd.DataFrame([row(3, 5, 5, 99)])], ignore_index=True
        )
        assert self._latest(spark, out) == self._batch_d(
            spark, all_pdf, 50_000
        )

    @classmethod
    def _batch_d(cls, spark, pdf, d):
        from pyspark.sql import functions as F

        from jimmy_spark.operators import imagedup

        return {
            (r.image_id, r.cluster_id, r.keep)
            for r in imagedup.scene_dedup_keep_best(
                spark.createDataFrame(pdf), d=d, threshold=64,
                num_id=F.expr(cls.NUM_ID),
            ).collect()
        }


class TestKeepBestCompaction:
    """compact_keep_best_state folds the labels/points/edges batch dirs
    into one dir each: observationally a no-op for latest_curation, the
    next drain folds new waves against the compacted state exactly
    (including cross-compaction pairs: a new point must still pair with
    old compacted points), and an interrupted swap is repaired on the
    next read — the crash-safe swap is SHARED with the heat-tile lane
    (streaming/state.py BatchDirs), whose crash-window suite covers
    every interleaving."""

    NUM_ID = "CAST(substring(image_id, 5, 12) AS BIGINT)"
    D = 50_000

    @staticmethod
    def _row(i, lat, lon, sharp):
        return {
            "image_id": f"img_{i:012d}", "lat_e7": lat, "lon_e7": lon,
            "ahash": 0, "sharp_e3": sharp, "clip_e3": 0,
        }

    def _drain(self, spark, src, out, st, cp):
        from jimmy_spark.streaming import spatial

        spatial.run_keep_best_stream(
            spark, str(src), self.D, 64, out, st, cp,
            num_id_sql=self.NUM_ID, max_files_per_trigger=1,
        )

    def _batch(self, spark, pdf):
        from pyspark.sql import functions as F

        from jimmy_spark.operators import imagedup

        return {
            (r.image_id, r.cluster_id, r.keep)
            for r in imagedup.scene_dedup_keep_best(
                spark.createDataFrame(pdf), d=self.D, threshold=64,
                num_id=F.expr(self.NUM_ID),
            ).collect()
        }

    @staticmethod
    def _latest(spark, out):
        from jimmy_spark.streaming import spatial

        df = spatial.latest_curation(spark, out)
        assert df is not None
        return {(r.image_id, r.cluster_id, r.keep) for r in df.collect()}

    def test_compact_noop_continue_and_crash_repair(self, spark, tmp_path):
        import os

        import pandas as pd

        from jimmy_spark.streaming import spatial

        src = tmp_path / "pts"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("cur", "st", "cp"))

        # cluster A near (0, 0); cluster B ~9 degrees east, far outside
        # the 50k pair distance; two waves -> two batch dirs everywhere
        w0 = pd.DataFrame([
            self._row(1, 0, 0, 10), self._row(2, 10, 10, 20),
            self._row(5, 0, 90_000_000, 30),
            self._row(6, 10, 90_000_010, 40),
        ])
        w1 = pd.DataFrame([self._row(3, 5, 5, 99)])
        w0.to_parquet(src / "w0.parquet")
        w1.to_parquet(src / "w1.parquet")
        self._drain(spark, src, out, st, cp)

        def n_dirs(d):
            return sum(1 for e in os.listdir(d) if e.startswith("b="))

        assert n_dirs(out) > 1  # compaction has something to fold
        before = self._latest(spark, out)
        n_pts = spark.read.parquet(f"{st}/points").count()
        n_edges = spark.read.parquet(f"{st}/edges").count()

        spatial.compact_keep_best_state(spark, out, st, cp)

        for d in (out, f"{st}/points", f"{st}/edges"):
            assert n_dirs(d) == 1, d
        # observationally a no-op: fold, point multiset, edge multiset
        assert self._latest(spark, out) == before
        assert spark.read.parquet(f"{st}/points").count() == n_pts
        assert spark.read.parquet(f"{st}/edges").count() == n_edges

        # next drain pairs a NEW point with OLD compacted cluster-B
        # points (takeover), proving the folded state feeds the
        # incremental join exactly
        w2 = pd.DataFrame([self._row(7, 5, 90_000_005, 999)])
        w2.to_parquet(src / "w2.parquet")
        self._drain(spark, src, out, st, cp)
        all_pdf = pd.concat([w0, w1, w2], ignore_index=True)
        got = self._latest(spark, out)
        assert got == self._batch(spark, all_pdf)
        by_id = {iid: (cid, k) for iid, cid, k in got}
        assert by_id["img_000000000007"][1]  # sharper late shot keeps
        assert not by_id["img_000000000006"][1]

        # crash window: interrupt a points-dir swap AFTER the tombstone
        # rename (the _compact copy is complete) — the next drain's
        # state listing must repair it and fold the late wave exactly
        pdir = f"{st}/points"
        ids = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(pdir) if e.startswith("b=")
        )
        cur = spark.read.parquet(*[f"{pdir}/b={i}" for i in ids])
        cur.write.mode("overwrite").parquet(f"{pdir}/_compact")
        os.rename(f"{pdir}/b={ids[-1]}", f"{pdir}/_tombstone_b={ids[-1]}")
        w3 = pd.DataFrame([self._row(4, 15, 15, 500)])
        w3.to_parquet(src / "w3.parquet")
        self._drain(spark, src, out, st, cp)
        assert not os.path.isdir(f"{pdir}/_compact")
        assert self._latest(spark, out) == self._batch(
            spark, pd.concat([all_pdf, w3], ignore_index=True)
        )


class TestHeatTileStream:
    """Continuous heat-tile maintenance (streaming/raster.py): pixel
    counts are a monoid, so per-batch deltas fold exactly — after any
    number of micro-batches the latest tile set equals the batch
    render_heat_tiles over all points, BYTE-for-byte — and each batch
    writes only the tiles its own points dirtied."""

    SRC_SCHEMA = "image_id string, lat_e7 long, lon_e7 long"
    ZOOM = 5

    @staticmethod
    def _pts(spark, t2_dir):
        from jimmy_spark.operators import cells

        imgs = spark.read.parquet(f"{t2_dir}/images.parquet")
        return (
            cells.with_georef(imgs.select("image_id", "phash"))
            .select("image_id", "lat_e7", "lon_e7")
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )

    @staticmethod
    def _tile_bytes(df):
        return {
            (r.z, r.x, r.y): (r.n_points, r.max_count, bytes(r.png))
            for r in df.collect()
        }

    def _wave_tiles(self, spark, pdf):
        from jimmy_spark.streaming.raster import _delta_counts

        return {
            (r.x, r.y)
            for r in _delta_counts(
                spark.createDataFrame(pdf), self.ZOOM, "lat_e7", "lon_e7"
            )
            .select("x", "y")
            .distinct()
            .collect()
        }

    def test_stream_equals_batch_and_touches_only_dirty(
        self, spark, t2_dir, tmp_path
    ):
        from jimmy_spark.operators import raster
        from jimmy_spark.streaming import raster as sraster

        pdf = self._pts(spark, t2_dir)
        west = pdf[pdf["lon_e7"] < 0].reset_index(drop=True)
        east = pdf[pdf["lon_e7"] >= 0].reset_index(drop=True)
        redo = west.iloc[:100].reset_index(drop=True)  # re-dirties west tiles
        waves = [west, east, redo]
        src = tmp_path / "pts"
        src.mkdir()
        for i, w in enumerate(waves):
            w.to_parquet(src / f"w{i}.parquet")
        out, cp = str(tmp_path / "heat"), str(tmp_path / "cp")
        sraster.run_heat_tile_stream(
            spark, str(src), self.SRC_SCHEMA, out, cp, zoom=self.ZOOM,
            max_files_per_trigger=1,
        )

        # exactness: latest-per-tile == batch render over ALL points seen
        # (redo points counted twice — they arrived twice), tile BYTES equal
        all_pdf = pd.concat([west, east, redo], ignore_index=True)
        got = self._tile_bytes(sraster.latest_heat_tiles(spark, out))
        exp = self._tile_bytes(
            raster.render_heat_tiles(spark.createDataFrame(all_pdf), self.ZOOM)
        )
        assert got == exp and len(exp) > 4

        # dirty-only writes: each batch dir's tile set is exactly the tile
        # set of ONE wave's own points (order-independent bijection) — no
        # batch ever rewrites the world
        ids = BatchDirs(f"{out}/counts").ids()
        assert len(ids) == 3
        dir_sets = []
        for i in ids:
            cdf = spark.read.parquet(f"{out}/counts/b={i}")
            dir_sets.append({(r.x, r.y) for r in cdf.select("x", "y").distinct().collect()})
        wave_sets = [self._wave_tiles(spark, w) for w in waves]
        unmatched = list(range(3))
        for ds in dir_sets:
            hit = next(j for j in unmatched if wave_sets[j] == ds)
            unmatched.remove(hit)
        assert not unmatched
        # the redo wave strictly re-rendered a subset, not everything
        assert min(len(s) for s in dir_sets) < len(exp)

        # nothing new: no-op (no new batch dirs)
        sraster.run_heat_tile_stream(
            spark, str(src), self.SRC_SCHEMA, out, cp, zoom=self.ZOOM,
            max_files_per_trigger=1,
        )
        assert BatchDirs(f"{out}/counts").ids() == ids

        # compaction: observationally a no-op, state folded to one dir
        sraster.compact_state(spark, out, cp)
        assert len(BatchDirs(f"{out}/counts").ids()) == 1
        assert len(BatchDirs(f"{out}/tiles").ids()) == 1
        assert self._tile_bytes(sraster.latest_heat_tiles(spark, out)) == exp


class TestQuantileStream:
    """Continuous exact-quantile maintenance (streaming/stats.py):
    per-(group, value) counts are a monoid, so folded histogram state is
    exactly the histogram of every row seen — after any number of
    micro-batches the latest quantile table equals the batch operator,
    and each batch writes only the groups its own rows touched."""

    SRC_SCHEMA = "g string, v long"
    QS = (0.5, 0.9)

    def test_stream_equals_batch_and_touches_only_dirty(self, spark, tmp_path):
        import numpy as np

        from jimmy_spark.operators import quantiles as qt
        from jimmy_spark.streaming import stats as sstats

        rng = np.random.default_rng(41)
        pdf = pd.DataFrame(
            {
                "g": rng.choice(["a", "b", "c", "d"], 6000),
                "v": rng.integers(-(10 ** 6), 10 ** 6, 6000),
            }
        )
        # wave 2 touches only groups a/b; c/d histograms must survive
        # untouched through the latest-per-group fold
        waves = [
            pdf.iloc[:2500],
            pdf.iloc[2500:5000],
            pdf.iloc[5000:][pdf.iloc[5000:]["g"].isin(["a", "b"])],
        ]
        src = tmp_path / "rows"
        src.mkdir()
        for i, w in enumerate(waves):
            w.reset_index(drop=True).to_parquet(src / f"w{i}.parquet")
        out, cp = str(tmp_path / "qs"), str(tmp_path / "cp")
        sstats.run_quantile_stream(
            spark, str(src), self.SRC_SCHEMA, ["g"], "v", out, cp,
            qs=self.QS, max_files_per_trigger=1,
        )

        all_pdf = pd.concat(waves, ignore_index=True)
        exp = {
            (r.g, r.q_milli, r.v)
            for r in qt.group_quantiles(
                spark.createDataFrame(all_pdf), ["g"], "v", qs=self.QS
            ).collect()
        }
        got = {
            (r.g, r.q_milli, r.v)
            for r in sstats.latest_quantiles(spark, out, ["g"]).collect()
        }
        assert got == exp and len(exp) == 4 * len(self.QS)

        # dirty-only writes: each batch dir's group set equals exactly
        # one wave's own group set (order-independent bijection)
        ids = BatchDirs(f"{out}/hist").ids()
        assert len(ids) == 3
        dir_sets = [
            {
                r.g
                for r in spark.read.parquet(f"{out}/hist/b={i}")
                .select("g").distinct().collect()
            }
            for i in ids
        ]
        wave_sets = [set(w["g"].unique()) for w in waves]
        unmatched = list(range(3))
        for ds in dir_sets:
            hit = next(j for j in unmatched if wave_sets[j] == ds)
            unmatched.remove(hit)
        assert not unmatched
        assert min(len(s) for s in dir_sets) == 2  # the a/b-only wave

        # histogram state is exact: folded latest == pandas histogram
        hist = {
            (r.g, r.v): r.n
            for r in BatchDirs(f"{out}/hist").fold_latest(
                spark, ["g"], ids
            ).collect()
        }
        exp_hist = {
            (g, v): n
            for (g, v), n in all_pdf.groupby(["g", "v"]).size().items()
        }
        assert hist == exp_hist

        # nothing new: no-op
        sstats.run_quantile_stream(
            spark, str(src), self.SRC_SCHEMA, ["g"], "v", out, cp,
            qs=self.QS, max_files_per_trigger=1,
        )
        assert BatchDirs(f"{out}/hist").ids() == ids


class TestCompactSwapRecovery:
    """compact_state's swap must never expose an empty or partial state
    (r6 fix: the r5 order deleted b=<max> before renaming _compact into
    place — a crash in the gap silently dropped ALL accumulated tile
    counts). Each crash window is simulated at the directory level and
    must repair through BatchDirs on the next listing."""

    def _write_state(self, spark, dir_, ids):
        import os

        os.makedirs(dir_, exist_ok=True)
        for i in ids:
            spark.createDataFrame(
                [(i, i, 0, 0, 10 + i)], "x int, y int, px int, py int, cnt long"
            ).write.mode("overwrite").parquet(f"{dir_}/b={i}")

    def _tiles(self, spark, dir_):
        state = BatchDirs(dir_)
        df = state.fold_latest(spark, ["x", "y"], state.ids())
        return {(r.x, r.y): r.cnt for r in df.collect()} if df is not None else {}

    def test_crash_windows_repair_to_full_state(self, spark, tmp_path):
        import os
        import shutil

        # crash AFTER tombstone rename, BEFORE promote: _compact complete
        d = str(tmp_path / "w1")
        self._write_state(spark, d, [0, 1, 2])
        full = self._tiles(spark, d)
        cur = BatchDirs(d).fold_latest(spark, ["x", "y"], [0, 1, 2])
        cur.write.mode("overwrite").parquet(f"{d}/_compact")
        os.rename(f"{d}/b=2", f"{d}/_tombstone_b=2")
        assert self._tiles(spark, d) == full          # read-side repair
        # repair also completes the interrupted cleanup (r6: the fold
        # covers every older id; union-folded lanes would double-count
        # a surviving older dir)
        assert BatchDirs(d).ids() == [2]
        assert not os.path.isdir(f"{d}/_compact")

        # crash AFTER promote, BEFORE older-dir/tombstone cleanup
        d = str(tmp_path / "w2")
        self._write_state(spark, d, [0, 1])
        full = self._tiles(spark, d)
        cur = BatchDirs(d).fold_latest(spark, ["x", "y"], [0, 1])
        cur.write.mode("overwrite").parquet(f"{d}/_compact")
        os.rename(f"{d}/b=1", f"{d}/_tombstone_b=1")
        os.rename(f"{d}/_compact", f"{d}/b=1")
        assert self._tiles(spark, d) == full
        assert BatchDirs(d).ids() == [1]
        assert not any(
            e.startswith("_tombstone") for e in os.listdir(d)
        )

        # crash MID-_compact-write (no _SUCCESS): tombstone restored
        d = str(tmp_path / "w3")
        self._write_state(spark, d, [0, 1])
        full = self._tiles(spark, d)
        cur = BatchDirs(d).fold_latest(spark, ["x", "y"], [0, 1])
        cur.write.mode("overwrite").parquet(f"{d}/_compact")
        os.remove(f"{d}/_compact/_SUCCESS")
        os.rename(f"{d}/b=1", f"{d}/_tombstone_b=1")
        assert self._tiles(spark, d) == full
        assert BatchDirs(d).ids() == [0, 1]

        # the happy path still folds to one dir with identical state
        d = str(tmp_path / "w4")
        self._write_state(spark, f"{d}/counts", [0, 1, 2])
        self._write_state(spark, f"{d}/tiles", [0, 1, 2])
        full = self._tiles(spark, f"{d}/counts")
        for sub in ("counts", "tiles"):
            BatchDirs(f"{d}/{sub}").compact_latest(spark, ["x", "y"])
        assert BatchDirs(f"{d}/counts").ids() == [2]
        assert self._tiles(spark, f"{d}/counts") == full
        leftovers = [
            e for e in os.listdir(f"{d}/counts") if e.startswith("_")
        ]
        assert leftovers == []
        shutil.rmtree(d)



def _box_points(k: int, n: int = 100, box: int = 200_000) -> pd.DataFrame:
    """Arrival ``k``: ``n`` seeded points in a ``box``-wide e7 square,
    dense enough that a 20k-e7 distance join finds pairs in every wave."""
    import numpy as np

    rng = np.random.default_rng(100 + k)
    return pd.DataFrame({
        "image_id": [f"p{k:03d}_{i:03d}" for i in range(n)],
        "lat_e7": rng.integers(0, box, n),
        "lon_e7": rng.integers(0, box, n),
    })


def _tree_bytes(*dirs) -> dict:
    """Relative path -> file bytes for every file under ``dirs``."""
    import os

    got = {}
    for top in dirs:
        for root, _, files in os.walk(top):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    got[os.path.relpath(p, os.path.dirname(top))] = fh.read()
    return got


class TestBatchDirsGuards:
    """The three ways a drain or a compaction could corrupt batch-keyed
    state, each refused or repaired by BatchDirs (streaming/state.py)."""

    D = 20_000

    @staticmethod
    def _pairs(spark, out):
        rows = spark.read.parquet(f"{out}/b=*").collect()
        return [(r.a_id, r.b_id, r.dist2) for r in rows]

    def test_drain_repairs_pair_log_crash_window(self, spark, tmp_path):
        """A compaction of the pair log that crashed after promoting the
        fold into b=<max> but before deleting the older dirs leaves every
        older pair twice under the b=* glob. The next drain repairs the
        log before it writes, so each pair is there exactly once."""
        import os

        from jimmy_spark.operators import distjoin
        from jimmy_spark.streaming import spatial

        src = tmp_path / "pts"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("pairs", "state", "cp"))
        for k in range(2):
            _box_points(k).to_parquet(src / f"a{k}.parquet")
        spatial.run_proximity_stream(
            spark, str(src), self.D, out, st, cp, max_files_per_trigger=1
        )
        assert BatchDirs(out).ids() == [0, 1]
        assert spark.read.parquet(f"{out}/b=0").count() > 0

        # the crash window: fold written and promoted, older dir and
        # tombstone not yet deleted
        spark.read.parquet(f"{out}/b=0", f"{out}/b=1").write.parquet(
            f"{out}/_compact"
        )
        os.rename(f"{out}/b=1", f"{out}/_tombstone_b=1")
        os.rename(f"{out}/_compact", f"{out}/b=1")

        _box_points(2).to_parquet(src / "a2.parquet")
        spatial.run_proximity_stream(spark, str(src), self.D, out, st, cp)

        got = self._pairs(spark, out)
        full = spark.createDataFrame(
            pd.concat([_box_points(k) for k in range(3)], ignore_index=True)
        )
        exp = {
            (r.a_id, r.b_id, r.dist2)
            for r in distjoin.distance_join_grid(full, d=self.D).collect()
        }
        assert len(got) == len(set(got)) and set(got) == exp
        assert not any(e.startswith("_") for e in os.listdir(out))

    def test_compaction_refuses_uncommitted_batch(self, spark, tmp_path):
        """A planned batch without a commit is replayed on restart; the
        three compactions raise before touching any state dir."""
        import os

        import pytest

        from jimmy_spark.streaming import raster as sraster, spatial

        src = tmp_path / "pts"
        src.mkdir()
        out, st, cp = (str(tmp_path / n) for n in ("pairs", "state", "cp"))
        for k in range(2):
            _box_points(k, n=40).to_parquet(src / f"a{k}.parquet")
        spatial.run_proximity_stream(
            spark, str(src), self.D, out, st, cp, max_files_per_trigger=1
        )
        os.remove(f"{cp}/commits/1")
        before = _tree_bytes(out, st)

        with pytest.raises(RuntimeError, match="not committed"):
            spatial.compact_pair_stream_state(spark, out, st, cp)
        with pytest.raises(RuntimeError, match="not committed"):
            spatial.compact_keep_best_state(spark, out, st, cp)
        with pytest.raises(RuntimeError, match="not committed"):
            sraster.compact_state(spark, out, cp)
        assert _tree_bytes(out, st) == before
        assert BatchDirs(out).ids() == [0, 1]

    def test_swap_refuses_partial_fold(self, tmp_path):
        """A fold of a subset of the ids would let a later repair delete
        unfolded dirs; the swap raises before any write or rename. The
        folded frame is never touched, so no Spark job starts."""
        import os

        import pytest

        d = tmp_path / "state"
        for i in range(3):
            (d / f"b={i}").mkdir(parents=True)
            (d / f"b={i}" / "part-0.parquet").write_bytes(b"%d" % i)
        before = _tree_bytes(str(d))
        state = BatchDirs(str(d))
        for subset in ([0, 1], [1, 2], [0, 2], [2]):
            with pytest.raises(ValueError, match="not the full id set"):
                state._swap(subset, None)
        assert _tree_bytes(str(d)) == before
        assert sorted(os.listdir(d)) == ["b=0", "b=1", "b=2"]


class TestDrainJobCount:
    """Spark jobs per drain, pinned for the two lanes the online loop
    runs: one heat-tile drain and one proximity drain of a second
    arrival over prior state. Jobs are counted from the status tracker
    under each query's job group (its run id), so a refactor that adds a
    count, a collect or a second read to a micro-batch fails here."""

    HEAT_JOBS = 10
    PROX_JOBS = 4

    def test_second_arrival_job_counts(self, spark, tmp_path):
        from pyspark.sql.streaming import StreamingQueryListener

        from jimmy_spark.streaming import raster as sraster, spatial

        class RunIds(StreamingQueryListener):
            def __init__(self):
                self.ids = []

            def onQueryStarted(self, event):
                self.ids.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        src = tmp_path / "pts"
        src.mkdir()
        heat, prox, st, cp = (
            str(tmp_path / n) for n in ("heat", "prox", "prox_state", "cp")
        )

        def drains():
            sraster.run_heat_tile_stream(
                spark, str(src), spatial.POINTS_SCHEMA, heat, f"{cp}/heat",
                zoom=8,
            )
            spatial.run_proximity_stream(
                spark, str(src), 20_000, prox, st, f"{cp}/prox"
            )

        _box_points(0, box=1_000_000).to_parquet(src / "a0.parquet")
        drains()
        _box_points(1, box=1_000_000).to_parquet(src / "a1.parquet")
        runs = RunIds()
        spark.streams.addListener(runs)
        try:
            drains()
        finally:
            spark.streams.removeListener(runs)
        tracker = spark.sparkContext.statusTracker()
        counts = [len(tracker.getJobIdsForGroup(r)) for r in runs.ids]
        assert counts == [self.HEAT_JOBS, self.PROX_JOBS]
        # the second arrival really met prior state on both lanes
        assert spark.read.parquet(f"{prox}/b=1").count() > 0
        assert spark.read.parquet(f"{heat}/counts/b=1").count() > 0
