"""Continuous per-group statistics maintenance: exact quantiles stay
current as rows stream in, with per-batch work proportional to the
groups the batch touched.

Exact order statistics need the value distribution, so the minimal
sufficient state IS the value histogram — and per-(group, value) counts
are a MONOID: fold the batch's delta counts into the previous state and
the result is exactly the histogram of every row seen. Quantiles then
read off the folded state through the histogram-input quantile operator
(operators/quantiles.group_quantiles_from_counts — the same two-stage
no-sort plan), so after any number of micro-batches the latest quantile
table equals the batch ``group_quantiles`` over all rows, exactly.

State discipline is streaming/raster.py's, with GROUPS as the dirty
unit instead of tiles:

- ``<out>/hist/b=<id>``: the UPDATED complete histogram rows
  (group..., value, n) for the groups batch ``id`` touched — a group's
  current histogram is its rows in the highest batch dir containing it;
- ``<out>/quantiles/b=<id>``: re-resolved quantile rows for those
  groups.

State is O(distinct values per group) — the information-theoretic
minimum for exactness over unbounded streams; for the integer domains
this engine carries (char counts, dwell seconds, fixed-point scores)
that is the bounded-histogram regime. Idempotence (``BatchDirs``): replays
read state strictly below their own id and overwrite deterministically;
compaction (``BatchDirs.compact_latest``) is observationally a no-op.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from jimmy_spark.operators import quantiles as qt
from jimmy_spark.streaming.state import BatchDirs, drain


def latest_quantiles(
    spark: SparkSession, out_dir: str, group_cols: Sequence[str]
) -> DataFrame | None:
    """The current per-group quantile table (latest rows per group), or
    None before the first batch. Equal to batch ``group_quantiles`` over
    every row arrived so far."""
    q = BatchDirs(f"{out_dir}/quantiles")
    return q.fold_latest(spark, group_cols, q.ids())


def run_quantile_stream(
    spark: SparkSession,
    src_dir: str,
    source_schema: str,
    group_cols: Sequence[str],
    val_col: str,
    out_dir: str,
    checkpoint_dir: str,
    qs: tuple[float, ...] = (0.5, 0.9),
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain everything currently in ``src_dir``, folding each
    micro-batch's value counts into the per-group histogram state and
    re-resolving quantiles for the dirty groups only; exactly-once
    across restarts (source offsets in ``checkpoint_dir``, batch-id-
    keyed overwrite under ``out_dir``), then return. Nothing new is a
    no-op."""
    gcols = list(group_cols)
    hist = BatchDirs(f"{out_dir}/hist")
    q = BatchDirs(f"{out_dir}/quantiles")

    def _process(batch_df, batch_id: int) -> None:
        delta = (
            batch_df.select(*gcols, val_col)
            .where(F.col(val_col).isNotNull())
            .groupBy(*gcols, val_col)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        prev = hist.fold_latest(spark, gcols, hist.ids(below=batch_id))
        if prev is not None:
            dirty = delta.select(*gcols).distinct()
            carried = prev.join(dirty, gcols, "left_semi")
            delta = (
                delta.unionByName(carried)
                .groupBy(*gcols, val_col)
                .agg(F.sum("n").alias("n"))
            )
        delta = delta.persist()
        hist.write(batch_id, delta)
        q.write(
            batch_id, qt.group_quantiles_from_counts(delta, gcols, val_col, "n", qs=qs)
        )
        delta.unpersist()

    drain(
        spark, src_dir, source_schema, checkpoint_dir, _process,
        max_files_per_trigger,
    )
