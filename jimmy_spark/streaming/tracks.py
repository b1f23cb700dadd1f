"""Streaming trajectory segmentation: the §2.9 incremental twin of
``operators/trajectory.segment_tracks``.

``applyInPandasWithState`` keyed by entity keeps exactly one ping of
state — (last_seq, last_ts_epoch, last_lat, last_lon, current seg_seq) —
so each micro-batch extends the segmentation without recomputing history:
the same break predicate (30-min gap OR >jump step, squared length in
exact int64) evaluated between the state ping and the batch's first row,
then vectorized within the batch.

Contract (documented, test-pinned): per-entity IN-ORDER delivery — the
standard shape of a device feed with per-device FIFO (and of replaying a
seq-sorted log). A row arriving with seq <= the state's last_seq cannot
be segmented incrementally (its true neighbours are already emitted), so
it is DROPPED deterministically rather than corrupting segment numbering;
at production scale an out-of-order lane would divert such rows to a
batch backfill. State is O(1) per entity — this is the smallest possible
state for the operator, far under the seen-set the stateful dedup keeps.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from jimmy_spark.operators.trajectory import GAP_S, JUMP_E7
from jimmy_spark.streaming.state import BatchDirs, drain

OUT_SCHEMA = (
    "entity_id long, seq long, ts timestamp_ntz, lat_e7 long, lon_e7 long, "
    "seg_seq long, step_len long"
)
STATE_SCHEMA = (
    "last_seq long, last_ts long, last_lat long, last_lon long, cur_seg long"
)
PING_SCHEMA = (
    "entity_id long, seq long, ts timestamp_ntz, lat_e7 long, lon_e7 long"
)


def _epoch_s(ts: pd.Series) -> np.ndarray:
    # ns-resolution floor to seconds; epochs here are positive so the
    # integer division floors exactly like the batch op's long cast
    return ts.astype("datetime64[ns]").astype("int64").to_numpy() // 1_000_000_000


def _segment_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        if state.exists:
            state.update(state.get)
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values("seq")
    last_seq, last_ts, last_lat, last_lon, cur_seg = (
        state.get if state.exists else (None, None, None, None, 0)
    )
    if last_seq is not None:
        pdf = pdf[pdf["seq"] > last_seq]
    if not len(pdf):
        if state.exists:
            state.update(state.get)
        return
    lat = pdf["lat_e7"].to_numpy()
    lon = pdf["lon_e7"].to_numpy()
    ts = _epoch_s(pdf["ts"])
    # previous ping per row: batch-internal shift, state ping for row 0
    p_lat = np.roll(lat, 1)
    p_lon = np.roll(lon, 1)
    p_ts = np.roll(ts, 1)
    has_prev = np.ones(len(pdf), dtype=bool)
    if last_seq is None:
        has_prev[0] = False
        p_lat[0] = p_lon[0] = p_ts[0] = 0
    else:
        p_lat[0], p_lon[0], p_ts[0] = last_lat, last_lon, last_ts
    dx = lat - p_lat
    dy = lon - p_lon
    step2 = dx * dx + dy * dy  # int64-exact: |coord| <= 8e8 by contract
    new_seg = (~has_prev) | ((ts - p_ts) > GAP_S) | (step2 > JUMP_E7 * JUMP_E7)
    seg = cur_seg + np.cumsum(new_seg.astype("int64"))
    step_len = np.where(
        new_seg, 0, np.floor(np.sqrt(step2.astype("float64"))).astype("int64")
    )
    out = pdf.copy()
    out["seg_seq"] = seg
    out["step_len"] = step_len
    state.update(
        (
            int(pdf["seq"].iloc[-1]),
            int(ts[-1]),
            int(lat[-1]),
            int(lon[-1]),
            int(seg[-1]),
        )
    )
    yield out[
        ["entity_id", "seq", "ts", "lat_e7", "lon_e7", "seg_seq", "step_len"]
    ]


def segment_stream(pings_stream: DataFrame) -> DataFrame:
    """streaming pings -> per-ping segmented rows (append mode)."""
    return pings_stream.groupBy("entity_id").applyInPandasWithState(
        _segment_fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_segment_stream(
    spark: SparkSession, stream_dir: str, query_name: str = "segged_out"
) -> DataFrame:
    """Drive the stateful segmentation over a file-source directory to
    completion (one micro-batch per file) and return the sink table."""
    stream = (
        spark.readStream.schema(PING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stream_dir)
    )
    q = (
        segment_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_match_stream(
    spark: SparkSession,
    pings_dir: str,
    roads_path: str,
    out_dir: str,
    checkpoint_dir: str,
    d_max: int | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Continuous map matching: ping files arrive as micro-batches and
    each batch runs the SAME batch kernel (operators/mapmatch.map_match)
    against the static road network — matching is per-ping stateless, so
    the stream needs no state store at all and the union of batch outputs
    equals the one-shot batch match over all pings, each ping exactly
    once.

    map_match ends in a groupBy, which append-mode streaming would treat
    as a stateful aggregation — but the aggregation is per input row, so
    it runs inside ``foreachBatch`` instead: at-least-once replays are
    made idempotent by the deterministic batch-id-keyed overwrite
    (``<out_dir>/b=<id>``, streaming/state.py ``BatchDirs``)."""
    from jimmy_spark.operators import mapmatch

    segs = spark.read.parquet(roads_path)
    d = int(d_max if d_max is not None else mapmatch.D_MAX)
    out = BatchDirs(out_dir)

    def _process(batch_df, batch_id: int) -> None:
        out.write(batch_id, mapmatch.map_match(batch_df, segs, d_max=d))

    drain(
        spark, pings_dir, PING_SCHEMA, checkpoint_dir, _process,
        max_files_per_trigger,
    )
