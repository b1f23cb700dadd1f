"""Batch-keyed state and the one drain loop of the ``foreachBatch`` lanes.

Every incremental lane under ``streaming/`` (heat tiles, quantiles,
hulls, proximity, scene near-dups, keep-best curation, contacts, map
matching) keeps its state and output as families of ``<dir>/b=<id>``
directories, and gets exactly-once output across restarts from one
rule. ``foreachBatch`` is at-least-once, so a batch reads only ids
strictly below its own (its own half-written output never feeds
itself) and overwrites its own id deterministically: a replayed batch
(same source offsets, same rows) rewrites itself byte-identically.
``BatchDirs`` owns that rule for one family and ``drain`` the
readStream -> ``foreachBatch`` -> ``availableNow`` loop.

Long streams accumulate one dir per batch; compaction folds a family
into one dir at its highest id, observationally a no-op. Two folds
exist: latest-per-key for lanes whose batches rewrite a dirty key's
COMPLETE rows (heat counts/tiles, quantile histograms, curation
labels), and the exact row union for lanes that write each row once,
at its arrival batch (pair logs, point and edge state).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None = None,
) -> None:
    """Run ``process(batch_df, batch_id)`` over every parquet file
    currently in ``src_dir``, then return. The source offsets in
    ``checkpoint_dir`` make the next call fold in only files that
    arrived since; a call with nothing new is a no-op."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def require_drained(checkpoint_dir: str) -> None:
    """Refuse to compact between a crash and its restart. A batch id in
    ``offsets/`` without a ``commits/`` entry is replayed on restart;
    compaction folds state INTO the highest id, so replaying that id
    would overwrite the whole fold with one batch's rows."""

    def batch_ids(sub: str) -> set[int]:
        d = f"{checkpoint_dir}/{sub}"
        if not os.path.isdir(d):
            return set()
        return {int(e) for e in os.listdir(d) if e.isdigit()}

    pending = sorted(batch_ids("offsets") - batch_ids("commits"))
    if pending:
        raise RuntimeError(
            f"{checkpoint_dir}: batch {pending} is planned but not committed; "
            "rerun the drain before compacting"
        )


class BatchDirs:
    """One ``<dir>/b=<id>`` family. Every listing (``ids``) and every
    write first completes a compaction swap that a crash interrupted."""

    def __init__(self, dir_: str):
        self.dir = dir_

    def path(self, batch_id: int) -> str:
        return f"{self.dir}/b={batch_id}"

    def _listed(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        return sorted(
            int(e.split("=", 1)[1]) for e in os.listdir(self.dir) if e.startswith("b=")
        )

    def ids(self, below: int | None = None) -> list[int]:
        self._repair()
        return [i for i in self._listed() if below is None or i < below]

    def read(self, spark: SparkSession, ids: Sequence[int]) -> DataFrame:
        """The row union of the given batch dirs, in the given order.
        Explicit dir list (not the parent): a replaying batch never reads
        ids at-or-above its own half-written output."""
        return spark.read.parquet(*[self.path(i) for i in ids])

    def read_below(
        self, spark: SparkSession, batch_id: int, empty_schema: str
    ) -> DataFrame:
        older = self.ids(below=batch_id)
        if not older:
            return spark.createDataFrame([], empty_schema)
        return self.read(spark, older)

    def write(self, batch_id: int, df: DataFrame) -> None:
        self._repair()
        df.write.mode("overwrite").parquet(self.path(batch_id))

    def fold_latest(
        self, spark: SparkSession, keys: Sequence[str], ids: Sequence[int]
    ) -> DataFrame | None:
        """Rows of the highest batch dir per key across ``ids``, or None
        for no ids. Each batch writes a dirty key's COMPLETE row set, so
        the max batch id per key owns all its current rows."""
        if not ids:
            return None
        df = spark.read.option("basePath", self.dir).parquet(
            *[self.path(i) for i in ids]
        )
        w = Window.partitionBy(*keys)
        return (
            df.withColumn("_mb", F.max("b").over(w))
            .filter(F.col("b") == F.col("_mb"))
            .drop("b", "_mb")
        )

    def compact_latest(self, spark: SparkSession, keys: Sequence[str]) -> None:
        ids = self.ids()
        if len(ids) > 1:
            self._swap(ids, self.fold_latest(spark, keys, ids))

    def compact_union(self, spark: SparkSession) -> None:
        ids = self.ids()
        if len(ids) > 1:
            self._swap(ids, self.read(spark, ids))

    def _swap(self, ids: list[int], folded: DataFrame) -> None:
        """Replace batch dirs ``ids`` by ``folded``, crash-safely.
        ``ids`` must be the family's full id set: ``_repair`` deletes
        every dir below a tombstone, which is only correct if the fold
        covered them all. Write ``_compact`` fully, journal the max dir
        as a tombstone carrying its id, promote ``_compact`` (atomic
        rename), then delete the older dirs and the tombstone LAST, so a
        crash at any point is completed or rolled back by ``_repair``.
        (The r5 order rmtree'd b=<max> before renaming ``_compact`` into
        place; a crash in between left no b= dirs and the next batch
        folded into empty state.)"""
        listed = self._listed()
        if ids != listed:
            raise ValueError(
                f"{self.dir}: fold of ids {ids} is not the full id set {listed}"
            )
        folded.write.mode("overwrite").parquet(f"{self.dir}/_compact")
        top, tomb = self.path(ids[-1]), f"{self.dir}/_tombstone_b={ids[-1]}"
        os.rename(top, tomb)
        os.rename(f"{self.dir}/_compact", top)
        for i in ids[:-1]:
            shutil.rmtree(self.path(i))
        shutil.rmtree(tomb)

    def _repair(self) -> None:
        """Complete a ``_swap`` that a crash interrupted. The journal is
        the tombstone name itself: ``_tombstone_b=<i>`` means a fold of
        EVERY existing id was in flight as the new ``b=<i>``. If
        ``_compact`` is fully written (or already promoted), promote it
        and finish deleting the older dirs, which the fold covers and
        union folds would double-count; the tombstone goes last. If
        ``_compact`` is absent or incomplete, restore the tombstone and
        keep every older dir. Either way exactly one coherent state
        remains, never an empty or duplicated one."""
        if not os.path.isdir(self.dir):
            return
        for e in os.listdir(self.dir):
            if not e.startswith("_tombstone_b="):
                continue
            i = int(e.split("=", 1)[1])
            top, compact = self.path(i), f"{self.dir}/_compact"
            # parquet writes drop a _SUCCESS marker; an unmarked _compact is
            # a half-written overwrite: discard it and keep the tombstone
            if os.path.exists(f"{compact}/_SUCCESS") and not os.path.isdir(top):
                os.rename(compact, top)
            if os.path.isdir(top):
                # b=<i> can only exist alongside its tombstone via the
                # promote rename, so the fold is in place: finish the
                # cleanup, tombstone LAST so a crash here re-enters this
                # branch with the journal intact
                for older in self._listed():
                    if older < i:
                        shutil.rmtree(self.path(older))
                shutil.rmtree(f"{self.dir}/{e}")
            else:
                os.rename(f"{self.dir}/{e}", top)
