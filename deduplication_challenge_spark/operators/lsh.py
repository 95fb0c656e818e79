"""LSH banding + candidate-pair generation, skew-safe by construction.

Key scale decision (SURVEY.md §4.3.1): a bucket of B docs holds B(B-1)/2
pairs — boilerplate-heavy buckets at 10^12 docs would emit quadrillions of
pairs. Every bucket member is therefore connected to the bucket's MIN
doc_id: B-1 edges per bucket, linear always. For connected-components
clustering a star spans exactly the same component as the clique, and
bucket co-membership already certifies band-level signature agreement.
The pure-Python oracle implements the identical rule, so recall goldens are
apples-to-apples.

Skew notes: the groupBy(min) uses map-side partial aggregation, so a hot
bucket key costs one combiner per task, not a shuffled megagroup; the
bands-to-mins join is 1-row-per-key on the build side, which AQE skew-join
splitting handles natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.plans.checkpointing import stage_checkpoint


def band_table(signatures: DataFrame) -> DataFrame:
    """signatures -> (doc_id, band_idx, band_hash); empty docs excluded
    (mirrors the reference's skip of empty group keys,
    /root/reference/src/main.py:85-89)."""
    return (
        signatures.where(F.col("n_shingles") > 0)
        .select("doc_id", F.posexplode("bands").alias("band_idx", "band_hash"))
    )


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """bands -> (star edges(src, dst) with src = bucket min < dst, stats).

    stats: one row — (buckets, multi_buckets), recorded in the stage
    manifest.
    """
    # lazy checkpoint: the bucket aggregate feeds the edge join AND the
    # stats frame (collected later for the stage manifest) — one shuffle
    # instead of re-aggregating the band table for the counters pass
    buckets = stage_checkpoint(
        bands.groupBy("band_idx", "band_hash").agg(
            F.min("doc_id").alias("root"), F.count("*").alias("bucket_size")
        ),
        cfg,
    )
    stats = buckets.agg(
        F.count("*").alias("buckets"),
        F.sum((F.col("bucket_size") >= 2).cast("long")).alias("multi_buckets"),
    )
    edges = (
        bands.join(buckets.where(F.col("bucket_size") >= 2), ["band_idx", "band_hash"])
        .where(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )
    return edges, stats
