"""Continuous per-group convex-footprint maintenance.

The hull-merge identity ``hull(A ∪ B) == hull(hull(A) ∪ hull(B))`` —
the same identity that makes operators/hull.py's two-stage batch plan
exact — makes the convex hull a MONOID fold over point sets: a group's
current hull VERTICES are a complete summary of every point ever seen,
and folding the next micro-batch in is ``hull(new points ∪ previous
vertices)``. So the stream's entire state is the footprint table itself
(a ring of O(log n) expected vertices per group), never the point
history: after any number of batches the latest table equals the batch
``group_hulls`` over all points arrived so far, exactly.

Idempotence is streaming/state.py's ``BatchDirs``: a replayed batch
reads only the latest state id strictly below its own and rewrites
byte-identically (the hull is a pure function of the point set). The
output directory IS the state: ``<out_dir>/b=<id>`` holds the complete
per-group footprint table as of batch ``id``; the highest id is the
current one (``latest_footprints``).

``n_points`` in the output counts rows reaching the reduce (new points
+ carried vertices) — a per-batch plumbing detail, NOT a cumulative
point count; hulls are size-oblivious by design (operators/hull.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from jimmy_spark.operators import hull
from jimmy_spark.streaming.state import BatchDirs, drain


def latest_footprints(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The current per-group footprint table (highest committed batch id),
    or None before the first batch."""
    out = BatchDirs(out_dir)
    ids = out.ids()
    return out.read(spark, ids[-1:]) if ids else None


def run_hull_stream(
    spark: SparkSession,
    points_dir: str,
    group_cols: Sequence[str],
    source_schema: str,
    out_dir: str,
    checkpoint_dir: str,
    lat_col: str = "lat_e7",
    lon_col: str = "lon_e7",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain everything currently in ``points_dir``, folding each
    micro-batch into the per-group footprints; exactly-once across
    restarts (source offsets in ``checkpoint_dir``, batch-id-keyed
    overwrite in ``out_dir``), then return. Calling again after more
    files arrive folds ONLY the new files in; calling again with nothing
    new is a no-op."""
    gcols = list(group_cols)
    out = BatchDirs(out_dir)

    def _process(batch_df, batch_id: int) -> None:
        pts = batch_df.select(*gcols, lat_col, lon_col)
        older = out.ids(below=batch_id)
        if older:
            prev = out.read(spark, older[-1:])
            v = F.explode(F.arrays_zip("hull_lat", "hull_lon")).alias("v")
            prev_pts = prev.select(*gcols, v).select(
                *gcols,
                F.col("v.hull_lat").alias(lat_col),
                F.col("v.hull_lon").alias(lon_col),
            )
            pts = pts.unionByName(prev_pts)
        out.write(
            batch_id, hull.group_hulls(pts, gcols, lat_col=lat_col, lon_col=lon_col)
        )

    drain(
        spark, points_dir, source_schema, checkpoint_dir, _process,
        max_files_per_trigger,
    )
