"""Per-layer metrics of a traced run, named after the repo's modules.

Each layer metric is computed from the facts Spark's event log attributes
to the spans of that layer (``spans.Attribution``), per operation of the
layer: per job run for the batch stages, per chunk for the checkpointed
stage, per drain for the streams, per request for kNN. Window-wide
counters (sink, shuffle, jvm, spark) are divided by the number of ingest
operations. A layer a workload does not run reports 0.

The comments in ``PER_LAYER`` name the end-to-end metric (and workload)
each layer metric should move.
"""

from __future__ import annotations

import statistics

from spans import Attribution, total, values

# name -> unit
PER_LAYER = {
    # setup -> setup_s
    "session.start_s": "s",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    # input scan -> rows_per_s (batch_geotile)
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.scan_task_ms": "ms",
    # Arrow crossing of the workload's main Python stage: fused (geotile),
    # fingerprints (curate), heat render (online)
    "python.crossings": "count",
    "python.total_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    # StageRunner -> rows_per_s (batch), no change (online)
    "checkpoint.jobs_per_chunk": "count",
    "checkpoint.write_ms": "ms",
    "checkpoint.other_ms": "ms",
    "checkpoint.files_written": "count",
    "checkpoint.rows_err": "count",
    # tile and hex rollups -> rows_per_s (batch_geotile)
    "tiling.ms": "ms",
    "tiling.shuffle_bytes": "bytes",
    "tiling.reduce_skew": "ratio",
    # scene keep-best -> rows_per_s (batch_curate)
    "imagedup.ms": "ms",
    "imagedup.jobs": "count",
    "imagedup.shuffle_bytes": "bytes",
    "imagedup.pairs": "count",
    # kNN -> query_p50_ms, query_tail_ms (online)
    "knn.ms": "ms",
    "knn.jobs_per_request": "count",
    "knn.tasks_per_request": "count",
    "knn.rows_scanned_per_request": "count",
    # streams -> ingest_p50_ms; state dirs -> ingest_tail_ms (online)
    "heat.drain_ms": "ms",
    "heat.dirty_tiles": "count",
    "heat.state_dirs_read": "count",
    "heat.python_ms": "ms",
    "proximity.drain_ms": "ms",
    "proximity.new_pairs": "count",
    "proximity.state_dirs_read": "count",
    # window-wide -> rows_per_s, peak_rss_mb
    "sink.bytes": "bytes",
    "sink.files": "count",
    "sink.ms": "ms",
    "shuffle.spill_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.cpu_util": "ratio",
    # the traced run itself
    "trace.overhead_frac": "ratio",
    "baseline.rows_per_s_1core": "1/s",
    "baseline.efficiency": "ratio",
}


def _dur(spans: list[dict]) -> float:
    return sum(s["end_ms"] - s["start_ms"] for s in spans)


def _facts(att: Attribution, spans: list[dict]) -> list:
    return [f for s in spans for f in att.facts(s["id"])]


def _inside(att: Attribution, outer: list[dict], name: str) -> list[dict]:
    ids = {i for s in outer for i in att.subtree(s["id"])}
    return [s for s in att.named(name) if s["id"] in ids]


def _per(x: float, n: int) -> float:
    return x / n if n else 0.0


def _saves(att: Attribution, *suffixes: str) -> list[dict]:
    return [
        s for s in att.named("sink.save")
        if str(s["attrs"].get("path", "")).rstrip("/").endswith(suffixes)
    ]


def per_layer(
    att: Attribution, input_dir: str, cores: int, window_s: float, extra: dict
) -> dict[str, float]:
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    setup = att.named("setup.session")
    m["session.start_s"] = _dur(setup) / 1000.0
    warm = _facts(att, att.named("setup.python_boot") + att.named("setup.python_init"))
    m["python.boot_ms"] = total(warm, "python.boot_ms")
    m["python.init_ms"] = total(warm, "python.init_ms")

    ops = att.named("op.ingest") + att.named("op.query")
    n_ingest = len(att.named("op.ingest"))
    window = _facts(att, ops)

    def in_input(tag: str) -> bool:
        return input_dir in tag

    m["sources.input_bytes"] = _per(total(window, "scan.bytes", in_input), n_ingest)
    m["sources.input_rows"] = _per(total(window, "scan.rows", in_input), n_ingest)
    m["sources.scan_task_ms"] = _per(total(window, "scan.ms", in_input), n_ingest)

    stages = att.named("checkpoint.run_stage")
    drains = att.named("heat.drain")
    main = stages or drains
    main_facts = _facts(att, main)
    for name in ("crossings", "total_ms", "bytes_sent", "bytes_received", "rows_received"):
        m[f"python.{name}"] = _per(total(main_facts, f"python.{name}"), len(main))

    writes = _inside(att, stages, "sink.save")
    chunks = len(writes)
    stage_facts = _facts(att, stages)
    m["checkpoint.jobs_per_chunk"] = _per(total(stage_facts, "spark.jobs"), chunks)
    m["checkpoint.write_ms"] = _per(_dur(writes), chunks)
    m["checkpoint.other_ms"] = _per(_dur(stages) - _dur(writes), chunks)
    m["checkpoint.files_written"] = _per(
        total(_facts(att, writes), "write.files"), chunks
    )
    m["checkpoint.rows_err"] = float(extra.get("rows_err", 0))

    rollups = _saves(att, "/cell_counts", "/tile_counts")
    roll_facts = _facts(att, rollups)
    m["tiling.ms"] = _per(_dur(rollups), n_ingest)
    m["tiling.shuffle_bytes"] = _per(total(roll_facts, "shuffle.write_bytes"), n_ingest)
    reads = [v for v in values(roll_facts, "shuffle.read_bytes") if v > 0]
    if reads:
        m["tiling.reduce_skew"] = max(reads) / statistics.median(reads)

    dup = att.named("imagedup.keep_best") + _saves(att, "/keep_best")
    dup_facts = _facts(att, dup)
    m["imagedup.ms"] = _per(_dur(dup), n_ingest)
    m["imagedup.jobs"] = _per(total(dup_facts, "spark.jobs"), n_ingest)
    m["imagedup.shuffle_bytes"] = _per(total(dup_facts, "shuffle.write_bytes"), n_ingest)
    m["imagedup.pairs"] = float(extra.get("pairs", 0))

    knn = att.named("knn.request")
    knn_facts = _facts(att, knn)
    m["knn.ms"] = _per(_dur(knn), len(knn))
    m["knn.jobs_per_request"] = _per(total(knn_facts, "spark.jobs"), len(knn))
    m["knn.tasks_per_request"] = _per(total(knn_facts, "spark.tasks"), len(knn))
    m["knn.rows_scanned_per_request"] = _per(total(knn_facts, "input.records"), len(knn))

    heat_facts = _facts(att, drains)
    m["heat.drain_ms"] = _per(_dur(drains), len(drains))
    m["heat.dirty_tiles"] = _per(
        total(heat_facts, "write.rows", lambda t: "/tiles/b=" in t), len(drains)
    )
    m["heat.state_dirs_read"] = _per(
        sum(s["attrs"].get("state_dirs", 0) for s in drains), len(drains)
    )
    m["heat.python_ms"] = _per(total(heat_facts, "python.total_ms"), len(drains))

    prox = att.named("proximity.drain")
    prox_facts = _facts(att, prox)
    m["proximity.drain_ms"] = _per(_dur(prox), len(prox))
    m["proximity.new_pairs"] = _per(
        total(prox_facts, "write.rows", lambda t: "/prox/b=" in t), len(prox)
    )
    m["proximity.state_dirs_read"] = _per(
        sum(s["attrs"].get("state_dirs", 0) for s in prox), len(prox)
    )

    m["sink.bytes"] = _per(total(window, "write.bytes"), n_ingest)
    m["sink.files"] = _per(total(window, "write.files"), n_ingest)
    m["sink.ms"] = _per(total(window, "write.commit_ms"), n_ingest)
    m["shuffle.spill_bytes"] = _per(total(window, "shuffle.spill_bytes"), n_ingest)
    m["jvm.gc_ms"] = _per(total(window, "jvm.gc_ms"), n_ingest)
    m["spark.jobs"] = _per(total(window, "spark.jobs"), n_ingest)
    m["spark.tasks"] = _per(total(window, "spark.tasks"), n_ingest)
    m["spark.cpu_util"] = total(window, "task.cpu_ns") / 1e9 / (window_s * cores)
    return m
