#!/usr/bin/env python
"""Production entry point for the image-curation ladder:
spark-submit --py-files jimmy_spark.zip jobs/curate_job.py ...

The training-data curation pipeline over a geo-referenced image table,
as ONE deployable job with per-stage outputs and a machine-readable
stats line:

  images -> decode + quality ints + ALL THREE perceptual hashes
  (aHash / dHash / DCT pHash, one Arrow crossing) + georef
  (checkpointed, bucket-resumable via StageRunner: a crash mid-decode
  reprocesses only uncommitted buckets; --scene-hash later picks a
  column, never re-decodes)
         -> quality gate    (decode ok, sharpness >= --min-sharp,
                             clipped fraction <= --max-clip; with
                             --min-sharp-pct N the sharpness floor is
                             the corpus's own exact N-th percentile —
                             operators/quantiles.py over the feature
                             stage, no hand-tuned absolute threshold)
         -> exact dedup     (byte-identical files: md5 over the raw
                             bytes, keep-first by id — jimmy's
                             Resource.md5 semantics verbatim,
                             /root/reference/src/jimmy/
                             intermediate_format.py:120-128)
         -> scene keep-best (near-identical shots of the same place:
                             operators/imagedup.scene_dedup_keep_best —
                             grid-join pair graph, star-contraction
                             components, struct-max quality argmax)
         -> <out>/curated   (the kept rows)
            <out>/rejected  (every dropped row with its reason:
                             'decode' | 'quality' | 'exact_dup' |
                             'scene_dup')

Every rejection keeps provenance (the reason, plus the kept exemplar's
id for the two dedup lanes), so the curation is auditable and
reversible. curated ∪ rejected partitions the input exactly — nothing
is silently dropped.

Scale shape: one decode (Arrow-batched, error-isolated) feeds every
stage; md5 dedup is one hash-shuffle; the scene lane is the
output-proportional grid join + O(log^2 n)-round CC; no stage holds a
group's full row set in one task. The final writes are deterministic
pure functions of the feature table, so rerunning after the
checkpointed stage is idempotent.

Example:
    spark-submit --py-files dist/jimmy_spark.zip jobs/curate_job.py \
        --images data/images.parquet --out /tmp/curate_out \
        --checkpoint /tmp/curate_cp --run-id run1 \
        --scene-d 50000 --hamming 6 --min-sharp 0 --max-clip 1000
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--scene-d", type=int, default=50_000)
    ap.add_argument("--hamming", type=int, default=6)
    ap.add_argument(
        "--scene-hash", default="ahash",
        choices=("ahash", "dhash", "phash_dct"),
        help="perceptual hash gating the scene keep-best lane: aHash "
        "(mean threshold), gradient dHash (tone-remap invariant), or the "
        "exact-integer DCT pHash (retouch robust). The checkpointed "
        "feature stage carries all three (one decode), so switching is a "
        "column pick on resume, not a re-decode",
    )
    ap.add_argument(
        "--min-sharp", type=int, default=0,
        help="quality gate: variance-of-Laplacian sharpness (e3 fixed "
        "point) below this is rejected",
    )
    ap.add_argument(
        "--max-clip", type=int, default=1000,
        help="quality gate: clipped-pixel fraction (e3 fixed point) "
        "above this is rejected",
    )
    ap.add_argument(
        "--min-sharp-pct", type=int, default=0,
        help="ADAPTIVE quality gate: reject decodable rows whose "
        "sharpness falls below the corpus's exact N-th percentile "
        "(operators/quantiles.py over the checkpointed feature table — "
        "no hand-tuned absolute threshold; ties at the percentile value "
        "are kept, so at most ~N%% is rejected). Composes with "
        "--min-sharp/--max-clip: a row failing either gate is 'quality'",
    )
    args = ap.parse_args()
    if not 0 <= args.min_sharp_pct < 100:
        ap.error("--min-sharp-pct must be in [0, 100)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from jimmy_spark.operators import fingerprints, imagedup
    from jimmy_spark.sources.images import read_images
    from jimmy_spark.streaming.checkpoint import StageRunner

    spark = SparkSession.builder.appName("jimmy-spark-curate-job").getOrCreate()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }.items():
        spark.conf.set(k, v)

    images = read_images(spark, args.images)
    runner = StageRunner(spark, args.checkpoint, args.run_id, n_buckets=args.buckets)

    def featurize(df):
        # per-row pure kernels (bucket-local, hence resumable): decode +
        # quality ints + ALL THREE perceptual hashes + exact-byte md5 in
        # ONE Arrow crossing and ONE scan of the bytes column, georef as
        # JVM expressions after it (operators/fingerprints.
        # curation_features_full over the multimodal.blob_features
        # kernel — the --scene-hash choice is then a column pick, never a
        # re-decode). r5 computed features and georef/md5 as two scans
        # joined by image_id — a full shuffle of the stage inside every
        # chunk; same columns, same values, no join (guide §2.4).
        return fingerprints.curation_features_full(df)

    feats = runner.run_stage(
        "features", images, featurize, f"{args.out}/features", id_col="image_id"
    )

    n_in = feats.count()  # parquet-backed stage output: footer count

    # --- quality gate -----------------------------------------------------
    min_sharp = args.min_sharp
    if args.min_sharp_pct > 0:
        # adaptive threshold: the exact N-th percentile of the corpus's
        # own sharpness (two-stage quantile operator over the parquet-
        # backed feature stage — one tiny extra read, no decode). Rows
        # STRICTLY below the percentile value reject, so ties at it
        # survive and at most ~N% is dropped.
        from jimmy_spark.operators import quantiles as qtiles

        qrow = qtiles.group_quantiles(
            feats.filter("ok").select(
                F.lit(1).alias("_g"), F.col("sharp_e3").alias("v")
            ),
            ["_g"], "v", qs=(args.min_sharp_pct / 100,),
        ).first()
        if qrow is not None:
            min_sharp = max(min_sharp, int(qrow["v"]))
    gated = feats.withColumn(
        "_reason",
        F.when(~F.col("ok"), F.lit("decode"))
        .when(
            (F.col("sharp_e3") < min_sharp)
            | (F.col("clip_e3") > args.max_clip),
            F.lit("quality"),
        ),
    )
    quality_rej = gated.filter(F.col("_reason").isNotNull()).select(
        "image_id", F.col("_reason").alias("reason"),
        F.lit(None).cast("string").alias("kept_id"),
    )
    survivors = gated.filter(F.col("_reason").isNull()).drop("_reason")

    # --- exact dedup: keep-first by id within byte-identical groups --------
    first = survivors.groupBy("content_md5").agg(
        F.min("image_id").alias("kept_id"), F.count(F.lit(1)).alias("_sz")
    )
    with_first = survivors.join(first, "content_md5")
    exact_rej = with_first.filter(F.col("image_id") != F.col("kept_id")).select(
        "image_id", F.lit("exact_dup").alias("reason"), "kept_id"
    )
    uniq = with_first.filter(F.col("image_id") == F.col("kept_id")).drop(
        "kept_id", "_sz"
    )
    # the scene lane re-derives plans from this frame several times (pair
    # join + CC rounds); pin it as a deterministic parquet under out/
    uniq.write.mode("overwrite").parquet(f"{args.out}/unique")
    uniq = spark.read.parquet(f"{args.out}/unique")

    # --- scene keep-best ----------------------------------------------------
    labels = imagedup.scene_dedup_keep_best(
        uniq,
        d=args.scene_d,
        threshold=args.hamming,
        hash_col=args.scene_hash,
        num_id=F.substring("image_id", 5, 12).cast("long"),
    )
    labels.write.mode("overwrite").parquet(f"{args.out}/keep_best")
    labels = spark.read.parquet(f"{args.out}/keep_best")
    kept_per_cluster = labels.filter("keep").select(
        "cluster_id", F.col("image_id").alias("kept_id")
    )
    scene_rej = (
        labels.filter(~F.col("keep"))
        .join(kept_per_cluster, "cluster_id")
        .select("image_id", F.lit("scene_dup").alias("reason"), "kept_id")
    )

    # --- outputs ------------------------------------------------------------
    rejected = quality_rej.unionByName(exact_rej).unionByName(scene_rej)
    rejected.write.mode("overwrite").parquet(f"{args.out}/rejected")
    curated = uniq.join(labels.filter("keep").select("image_id"), "image_id")
    curated.write.mode("overwrite").parquet(f"{args.out}/curated")

    n_curated = spark.read.parquet(f"{args.out}/curated").count()
    rej = (
        spark.read.parquet(f"{args.out}/rejected")
        .groupBy("reason")
        .count()
        .collect()
    )
    by_reason = {r["reason"]: r["count"] for r in rej}
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "rows_in": n_in,
                "n_curated": n_curated,
                "min_sharp_used": min_sharp,
                "rejected": by_reason,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
