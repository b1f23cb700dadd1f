"""Benchmark of jimmy_spark: three workloads on one local Spark session.

    python3 perfbench/run.py --workload batch_geotile --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see workloads.py):

- ``batch_geotile``: jobs/spatial_job.py main() on a duplicate-heavy image
  table (the decode cache mostly hits).
- ``batch_curate``: jobs/curate_job.py main() on a low-duplication table
  with planted exact copies, near-duplicate shots, blurry and corrupt rows
  (nearly every row misses the decode cache).
- ``online_tiles``: a closed loop of point arrivals drained through the
  heat-tile and proximity streams, alternating with kNN requests.

The session runs at ``local[N]`` with N the usable cores (at least 2),
N shuffle partitions and 2g of driver memory, with the package shipped to
the Python workers as the ``scripts/make_pyfiles_zip.py`` zip. Inputs are
generated from ``--seed`` before anything is timed. Outputs are checked
against the repo's DuckDB twins after the window. Everything the run
writes lives under ``perfbench/.work/`` (removed at exit) and, for traced
runs, the spans file under ``perfbench/.results/``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and the span recorder and prints the per-layer metrics;
it then runs the same workload untraced in a child process to report the
tracing overhead, and on ``batch_geotile`` once more at ``local[1]`` for
the single-core baseline and the N-core efficiency.

``--cores N`` runs at ``local[N]`` instead of every usable core.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "1g"
WORKLOAD_NAMES = ("batch_geotile", "batch_curate", "online_tiles")
REQUIRED = (
    "jimmy_spark/__init__.py",
    "jobs/spatial_job.py",
    "jobs/curate_job.py",
    "scripts/make_pyfiles_zip.py",
)

# A traced run starts an untraced child run only while the whole run is
# likely to end within this many seconds: a child takes about as long as
# the traced part did, half as long again at local[1].
RUN_BUDGET_S = 170
STARTED = time.monotonic()

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "ingest_p50_ms": "ms",
    "ingest_tail_ms": "ms",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "fraction",
}


def _boot(it):
    for pdf in it:
        time.sleep(0.2)  # hold the slot so every task gets its own worker
        yield pdf


def _init(it):
    import jimmy_spark.operators.fingerprints  # noqa: F401
    import jimmy_spark.operators.fused  # noqa: F401
    import jimmy_spark.operators.knn  # noqa: F401
    import jimmy_spark.streaming.raster  # noqa: F401

    for pdf in it:
        time.sleep(0.2)
        yield pdf


def spark_conf(work: Path, pyfiles: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.submit.pyFiles": str(pyfiles),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # keep per-task SQL metrics (Python crossing, scan, write) in
                # the task-end events the log records
                "spark.scheduler.dropTaskInfoAccumulablesOnTaskCompletion.enabled": "false",
                # whole table paths in the plan strings, to tag scan facts
                "spark.sql.maxMetadataStringLength": "4096",
            }
        )
    return conf


def start_session(cores: int, conf: dict[str, str], rec):
    """Session start plus warm-up of every Python worker slot; returns
    (spark, seconds)."""
    from jimmy_spark.session import get_spark

    t0 = time.perf_counter()
    with rec.span("setup.session"):
        spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
    for name, fn in (("setup.python_boot", _boot), ("setup.python_init", _init)):
        with rec.span(name):
            spark.range(0, cores, 1, cores).mapInPandas(fn, "id long").collect()
    return spark, time.perf_counter() - t0


def end_to_end(wl, ops, window_s: float, setup_s: float, peak_mb: float) -> dict[str, float]:
    from stats import median, tail

    ingest = [op.seconds * 1000 for op in ops if op.kind == "ingest" and not op.error]
    query = [op.seconds * 1000 for op in ops if op.kind == "query" and not op.error]
    m = {"setup_s": setup_s, "peak_rss_mb": peak_mb}
    m["rows_per_s"] = wl.rows_per_s(ops, window_s)
    m["ingest_p50_ms"] = median(ingest)
    m["ingest_tail_ms"], m["ingest_tail_pct"] = tail(ingest)
    m["query_p50_ms"] = median(query)
    m["query_tail_ms"], m["query_tail_pct"] = tail(query)
    m["ingest_samples"], m["query_samples"] = len(ingest), len(query)
    m["ops_ok_frac"] = 1.0 - sum(op.failed for op in ops) / len(ops)
    return m


def untraced_run(args, cores: int, traced_s: float) -> dict[str, float] | None:
    """End-to-end metrics of the same workload, seed and window in a fresh
    untraced process (so a fresh JVM, as the traced run had), or None when
    the child would likely not end within the run's time budget."""
    elapsed = time.monotonic() - STARTED
    if elapsed + traced_s * (1.5 if cores == 1 else 1.0) > RUN_BUDGET_S:
        print(f"skipped the untraced local[{cores}] run: {elapsed:.0f} s used", flush=True)
        return None
    cmd = [
        sys.executable, str(Path(__file__)), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", "0", "--cores", str(cores),
    ]
    done = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=RUN_BUDGET_S
    )
    if done.returncode != 0:
        raise RuntimeError(f"untraced run failed: {done.stderr[-2000:]}")
    result = json.loads(done.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def _patch_program(rec) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from jimmy_spark.operators import imagedup
    from jimmy_spark.streaming.checkpoint import StageRunner

    def path_of(_writer, path=None, *a, **k):
        return {"path": str(path)}

    rec.patch(StageRunner, "run_stage", "checkpoint.run_stage",
              lambda _self, stage, *a, **k: {"stage": stage})
    rec.patch(DataFrameWriter, "parquet", "sink.save", path_of)
    rec.patch(DataFrameWriter, "save", "sink.save", path_of)
    rec.patch(imagedup, "scene_dedup_keep_best", "imagedup.keep_best")


def _extra_layers(wl, con, ops) -> dict:
    """Layer counts read from a batch job's outputs after the run."""
    import pyarrow.parquet as pq

    import checks

    if wl.name == "online_tiles" or ops[0].error:
        return {}
    out = ops[0].check["out"]
    metrics = pq.read_table(out / "cp" / "bench" / "metrics", columns=["rows_err"])
    extra = {"rows_err": sum(metrics["rows_err"].to_pylist())}
    if wl.name == "batch_curate":
        extra["pairs"] = checks.scene_pairs(con, out / "o", wl.SCENE_D, wl.HAMMING)
    return extra


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(args) -> dict:
    import checks
    import layers
    import spans as sp
    from stats import RssSampler
    from workloads import WORKLOADS

    sys.path.insert(0, str(ROOT / "scripts"))
    import make_pyfiles_zip

    cores = args.cores or len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "duckdb"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # temp files of this process, of the JVMs spark-submit starts (the
    # launcher's and the driver's) and of the Python workers stay in work/
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    pyfiles = make_pyfiles_zip.build(work / "jimmy_spark.zip")

    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 2)
        mark[0] = now

    wl = WORKLOADS[args.workload](work, args.seed, len(os.sched_getaffinity(0)))
    wl.generate()
    phase("generate")
    print(f"input {json.dumps(wl.props)}", flush=True)

    rec = sp.SpanRecorder() if args.trace else sp.NullRecorder()
    event_log = work / "eventlog" if args.trace else None
    conf = spark_conf(work, pyfiles, event_log)
    print(f"conf master=local[{cores}] shuffle_partitions={cores} "
          f"driver_memory={DRIVER_MEMORY} pyfiles={pyfiles.name}", flush=True)
    with RssSampler() as rss:
        spark, setup_s = start_session(cores, conf, rec)
        try:
            phase("setup")
            wl.warm_up(spark, sp.NullRecorder())
            phase("warm_up")
            if args.trace:
                _patch_program(rec)
            t0 = time.perf_counter()
            try:
                ops = wl.measure(spark, rec, args.seconds, "measure")
            finally:
                if args.trace:
                    rec.unpatch()
            window_s = time.perf_counter() - t0
        finally:
            stop(spark)  # also closes the event log
    phase("window")
    con = checks.connect(cores, work / "duckdb")
    wl.check(con, ops)
    phase("check")
    for op in ops:
        if op.failed:
            print(f"FAILED {op.kind}: {op.error or '; '.join(op.problems)}", flush=True)
    e2e = end_to_end(wl, ops, window_s, setup_s, rss.peak_mb)
    print(f"ops {len(ops)} window_s {window_s:.2f} "
          f"ingest tail p{e2e['ingest_tail_pct']:.1f} of {e2e['ingest_samples']}, "
          f"query tail p{e2e['query_tail_pct']:.1f} of {e2e['query_samples']}", flush=True)
    print("op_ms " + " ".join(f"{op.kind[0]}{op.seconds * 1000:.0f}" for op in ops), flush=True)

    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        facts = sp.parse_event_log(sp.event_log_file(event_log))
        att = sp.Attribution(rec.spans, facts)
        input_dir = wl.inputs / "images" if wl.name != "online_tiles" else wl.state["points"]
        per = layers.per_layer(att, str(input_dir), cores, window_s, _extra_layers(wl, con, ops))
        phase("parse")
        traced_s = time.monotonic() - STARTED
        plain = untraced_run(args, cores, traced_s)
        if plain is not None:
            key = wl.headline
            # positive: the traced run was slower
            per["trace.overhead_frac"] = (
                plain[key] / e2e[key] - 1 if key == "rows_per_s" else e2e[key] / plain[key] - 1
            )
        one = untraced_run(args, 1, traced_s) if plain and wl.name == "batch_geotile" else None
        if one is not None:
            per["baseline.rows_per_s_1core"] = one["rows_per_s"]
            per["baseline.efficiency"] = plain["rows_per_s"] / (cores * one["rows_per_s"])
        phase("untraced")
        out = HERE / ".results"
        out.mkdir(exist_ok=True)
        spans_file = out / f"{args.workload}-s{args.seed}.spans.jsonl"
        rec.write(spans_file, {sid: att.summary(sid) for sid in att.spans})
        print(f"spans {spans_file.relative_to(ROOT)} ({len(rec.spans)} spans, "
              f"{len(facts)} event-log facts)", flush=True)
        metrics = {k: {"value": per[k], "unit": u} for k, u in layers.PER_LAYER.items()}

    print(f"phases_s {json.dumps(phases)}", flush=True)
    failed = sum(op.failed for op in ops)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=0,
        help="local[N] cores (default: every usable core; the traced run "
        "uses 1 for the single-core baseline)",
    )
    args = ap.parse_args(argv)
    if args.cores == 0 and len(os.sched_getaffinity(0)) < 2:
        print("the benchmark needs at least 2 usable cores", file=sys.stderr)
        return 2
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"not a jimmy_spark checkout: missing {missing}", file=sys.stderr)
        return 2
    for p in (HERE, ROOT / "jobs", ROOT):
        sys.path.insert(0, str(p))
    try:
        result = run(args)
    finally:
        shutil.rmtree(HERE / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}",
                      ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
