"""The three workloads: inputs, warm-up, the measured loop and the checks.

Every workload is a closed loop with one client: the next operation starts
when the previous one returns, until the window's seconds are up (the
operation running at the deadline completes). An operation is either an
*ingest* (a batch job run over the input files, or one point arrival
drained through the two streams) or a *query* (a read a user of those
outputs makes: a tile or image lookup on a job's output, or a kNN
request over every point ingested so far).

The batch jobs run once per window, cold: they are deployed with
spark-submit, one JVM per run, so the first run of a session is the one
users get. The session's JVM start and Python worker warm-up are measured
apart, as set-up.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import checks
import gen

from stats import Clock, median


@dataclass
class Op:
    kind: str  # "ingest" or "query"
    seconds: float
    rows: int = 0
    error: str | None = None
    check: dict = field(default_factory=dict)  # what the check needs
    problems: list[str] = field(default_factory=list)

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


def _timed(kind: str, fn, rows: int = 0) -> tuple[Op, object]:
    t0 = time.perf_counter()
    try:
        result = fn()
        error = None
    except Exception as e:  # an operation that raises counts as failed
        result, error = None, f"{type(e).__name__}: {e}"
    return Op(kind, time.perf_counter() - t0, rows=rows, error=error), result


@contextlib.contextmanager
def _job_call(spark, argv: list[str]):
    """Run a job's ``main()`` in-process on the warm session: the jobs
    end with ``spark.stop()``, which must not stop the shared session, and
    print one JSON summary line, captured here."""
    saved_argv = sys.argv
    sys.argv = ["job", *argv]
    spark.stop = lambda: None
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            yield buf
    finally:
        del spark.stop
        sys.argv = saved_argv


def _last_json(text: str) -> dict:
    lines = [ln for ln in text.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


class Workload:
    name = ""
    headline = "rows_per_s"  # the end-to-end metric the overhead pass compares

    def __init__(self, work: Path, seed: int, procs: int):
        self.work = work
        self.seed = seed
        self.procs = procs  # generator processes
        self.inputs = work / "inputs"
        self.props: dict = {}

    def run_dir(self, tag: str) -> Path:
        d = self.work / tag
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d


# --- batch workloads -------------------------------------------------------------


class BatchWorkload(Workload):
    """A batch job over a fixed input, then lookups on what it published."""

    QUERIES = 20  # enough for a tail percentile (stats.tail) at the median
    module = ""
    rows = 0

    def job_argv(self, out: Path) -> list[str]:
        raise NotImplementedError

    def query(self, spark, out: Path, i: int):
        raise NotImplementedError

    def warm_up(self, spark, rec) -> None:
        """Nothing: the job run is measured cold."""

    def measure(self, spark, rec, seconds: float, tag: str) -> list[Op]:
        """One job run, then lookups on its output until the window's
        seconds are up, at least ``QUERIES`` of them."""
        import importlib

        job = importlib.import_module(self.module)
        out = self.run_dir(tag)
        clock = Clock(seconds)
        with rec.span("op.ingest"):
            with _job_call(spark, self.job_argv(out)) as buf:
                op, _ = _timed("ingest", job.main, rows=self.rows)
        op.check = {"out": out, "summary": _last_json(buf.getvalue())}
        ops = [op]
        i = 0
        while i < self.QUERIES or clock.running():
            with rec.span("op.query", i=i):
                op, got = _timed("query", lambda: self.query(spark, out, i))
            op.check = {"out": out, "i": i, "got": got}
            ops.append(op)
            i += 1
        return ops

    def rows_per_s(self, ops: list[Op], window_s: float) -> float:
        return median([op.rows / op.seconds for op in ops if op.kind == "ingest" and not op.error])


class BatchGeotile(BatchWorkload):
    """jobs/spatial_job.py on a duplicate-heavy input: fused stage (decode
    cache mostly hits), checkpoint commits, tile and hex rollups."""

    name = "batch_geotile"
    module = "spatial_job"
    rows = 40_000

    def generate(self) -> None:
        gen.geotile_images(self.inputs / "images", self.rows, self.seed, self.procs)
        gen.polygons(self.inputs / "polygons.parquet", self.seed)
        self.props = gen.image_properties(self.inputs / "images")
        # lookup keys: the z12 tile of each hot centre, and of the first row
        from jimmy_spark.functions.georef import latlon_e7_np
        from jimmy_spark.functions.tiles import xy_np
        import numpy as np

        first = pq.read_table(self.inputs / "images", columns=["phash"])["phash"][0].as_py()
        lat, lon = latlon_e7_np(np.array([first], dtype=np.int64))
        lats = np.array([c[0] for c in gen.HOT_CENTERS] + [int(lat[0])])
        lons = np.array([c[1] for c in gen.HOT_CENTERS] + [int(lon[0])])
        xs, ys = xy_np(lats, lons, 12)
        self.keys = [(int(a), int(b)) for a, b in zip(xs, ys)]

    def job_argv(self, out: Path) -> list[str]:
        return [
            "--images", str(self.inputs / "images"),
            "--polygons", str(self.inputs / "polygons.parquet"),
            "--out", str(out / "o"),
            "--checkpoint", str(out / "cp"),
            "--run-id", "bench",
        ]

    def query(self, spark, out: Path, i: int):
        from pyspark.sql import functions as F

        x, y = self.keys[i % len(self.keys)]
        rows = (
            spark.read.parquet(str(out / "o" / "tile_counts"))
            .filter((F.col("tile_z12_x") == x) & (F.col("tile_z12_y") == y))
            .collect()
        )
        return sum(r["cnt"] for r in rows)

    def check(self, con, ops: list[Op]) -> None:
        exp = checks.GeotileExpected(
            con, self.inputs / "images", self.inputs / "polygons.parquet"
        )
        for op in ops:
            if op.error:
                continue
            if op.kind == "ingest":
                op.problems = checks.check_geotile(
                    exp, op.check["out"] / "o", op.check["summary"]
                )
            else:
                want = exp.tile_count(*self.keys[op.check["i"] % len(self.keys)])
                if op.check["got"] != want:
                    op.problems = [f"tile lookup {op.check['got']}, expected {want}"]


class BatchCurate(BatchWorkload):
    """jobs/curate_job.py on a low-duplication input: nearly every row
    misses the decode cache; decode, hashing and scene keep-best work."""

    name = "batch_curate"
    module = "curate_job"
    rows = 8_000
    SCENE_D = 50_000
    HAMMING = 6
    MIN_SHARP = 100_000  # e3: planted blurry rows score ~0, noisy rows >10^6
    MAX_CLIP = 1000

    def generate(self) -> None:
        gen.curate_images(self.inputs / "images", self.rows, self.seed, self.procs)
        self.plan = gen.curate_plan(self.rows, self.seed)
        self.props = gen.image_properties(
            self.inputs / "images",
            corrupt_rows=len(self.plan["corrupt"]),
            near_dup_plants=self.plan["near_dup_plants"],
        )
        n = self.rows
        self.lookup_ids = [
            f"img_{(i * 7919 + self.seed) % n:012d}" for i in range(self.QUERIES)
        ]

    def job_argv(self, out: Path) -> list[str]:
        return [
            "--images", str(self.inputs / "images"),
            "--out", str(out / "o"),
            "--checkpoint", str(out / "cp"),
            "--run-id", "bench",
            "--scene-d", str(self.SCENE_D),
            "--hamming", str(self.HAMMING),
            "--min-sharp", str(self.MIN_SHARP),
            "--max-clip", str(self.MAX_CLIP),
        ]

    def query(self, spark, out: Path, i: int):
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(str(out / "o" / "curated"))
            .filter(F.col("image_id") == self.lookup_ids[i % self.QUERIES])
            .count()
        )

    def check(self, con, ops: list[Op]) -> None:
        exp = checks.CurateExpected(con, self.inputs / "images", self.plan)
        kept: set[str] = set()
        for op in ops:  # the ingest op comes first
            if op.error:
                continue
            if op.kind == "ingest":
                op.problems, kept = checks.check_curate(
                    con, exp, op.check["out"] / "o", self.SCENE_D, self.HAMMING,
                    self.MIN_SHARP, self.MAX_CLIP,
                )
                if op.check["summary"].get("rows_in") != self.rows:
                    op.problems.append(f"summary {op.check['summary']}")
            else:
                want = int(self.lookup_ids[op.check["i"] % self.QUERIES] in kept)
                if op.check["got"] != want:
                    op.problems = [f"image lookup {op.check['got']}, expected {want}"]


# --- online_tiles ------------------------------------------------------------------


class OnlineTiles(Workload):
    """One closed-loop client alternating a point arrival (drained through
    the heat-tile and proximity streams; batch-keyed state grows, nothing
    compacts) and a kNN request over every point ingested so far."""

    name = "online_tiles"
    headline = "ingest_p50_ms"
    ARRIVAL = 100  # points per arrival
    ZOOM = 8
    PAIR_D = 2_000
    QUERIES = 4  # queries per kNN request

    def generate(self) -> None:
        sample = gen.points(0, 100 * self.ARRIVAL, self.seed)  # first 100 arrivals
        self.props = {
            "points_per_arrival": self.ARRIVAL,
            "hot_cell_share": gen.hot_share(
                sample["lat_e7"].to_numpy(), sample["lon_e7"].to_numpy()
            ),
            "zoom": self.ZOOM,
            "pair_d_e7": self.PAIR_D,
            "queries_per_request": self.QUERIES,
        }

    def _dirs(self, base: Path) -> dict[str, Path]:
        d = {k: base / k for k in ("points", "queries", "heat", "prox", "prox_state", "cp")}
        for k in ("points", "queries"):
            d[k].mkdir(parents=True, exist_ok=True)
        return d

    def _ingest(self, spark, rec, d: dict, k: int) -> Op:
        from jimmy_spark.streaming.raster import run_heat_tile_stream
        from jimmy_spark.streaming.spatial import POINTS_SCHEMA, run_proximity_stream

        path = d["points"] / f"a-{k:05d}.parquet"
        pq.write_table(gen.points(k * self.ARRIVAL, self.ARRIVAL, self.seed), path)

        def drain():
            with rec.span("heat.drain", state_dirs=_state_dirs(d["heat"] / "counts")):
                run_heat_tile_stream(
                    spark, str(d["points"]), POINTS_SCHEMA, str(d["heat"]),
                    str(d["cp"] / "heat"), zoom=self.ZOOM,
                )
            with rec.span("proximity.drain", state_dirs=_state_dirs(d["prox_state"])):
                run_proximity_stream(
                    spark, str(d["points"]), self.PAIR_D, str(d["prox"]),
                    str(d["prox_state"]), str(d["cp"] / "prox"),
                )

        op, _ = _timed("ingest", drain, rows=self.ARRIVAL)
        op.check = {"batch": k, "arrivals": sorted(d["points"].glob("a-*.parquet"))}
        return op

    def _query(self, spark, rec, d: dict, r: int) -> Op:
        from jimmy_spark.operators.knn import knn_join

        qt = gen.knn_queries(r, self.QUERIES, self.seed)
        qpath = d["queries"] / f"r-{r:05d}.parquet"
        pq.write_table(qt, qpath)
        qpdf = qt.to_pandas()
        arrivals = sorted(d["points"].glob("a-*.parquet"))

        def request():
            with rec.span("knn.request"):
                pts = spark.read.parquet(str(d["points"]))
                return knn_join(pts, qpdf).toPandas()

        op, got = _timed("query", request)
        op.check = {"queries": qpath, "arrivals": arrivals, "got": got}
        return op

    def warm_up(self, spark, rec) -> None:
        """One untimed arrival and request on a throwaway state."""
        d = self._dirs(self.run_dir("warmup"))
        self._ingest(spark, rec, d, 0)
        self._query(spark, rec, d, 0)
        shutil.rmtree(self.work / "warmup")

    def measure(self, spark, rec, seconds: float, tag: str) -> list[Op]:
        d = self._dirs(self.run_dir(tag))
        self.state = d
        ops: list[Op] = []
        clock = Clock(seconds)
        k = 0
        while clock.running():
            with rec.span("op.ingest", k=k):
                ops.append(self._ingest(spark, rec, d, k))
            with rec.span("op.query", k=k):
                ops.append(self._query(spark, rec, d, k))
            k += 1
        return ops

    def rows_per_s(self, ops: list[Op], window_s: float) -> float:
        """Points ingested per second of the closed loop, reads included."""
        return sum(op.rows for op in ops if op.kind == "ingest" and not op.error) / window_s

    def check(self, con, ops: list[Op]) -> None:
        d = self.state
        for op in ops:
            if op.error:
                continue
            if op.kind == "ingest":
                op.problems = checks.check_ingest(
                    con, op.check["arrivals"], op.check["batch"], d["heat"],
                    d["prox"], self.ZOOM, self.PAIR_D,
                )
            else:
                op.problems = checks.check_knn(
                    con, op.check["arrivals"], op.check["queries"], op.check["got"]
                )


def _state_dirs(d: Path) -> int:
    return len(list(d.glob("b=*"))) if d.is_dir() else 0


WORKLOADS = {w.name: w for w in (BatchGeotile, BatchCurate, OnlineTiles)}
