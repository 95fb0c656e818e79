"""Jaccard verification of LSH candidate pairs.

Pairs join back to their MinHash signatures and the estimated Jaccard
(fraction of agreeing signature positions) is computed ENTIRELY JVM-side:
``zip_with`` + ``aggregate`` higher-order functions inside whole-stage
codegen. An earlier revision used an Arrow pandas UDF; shipping two
128-element arrays per pair across the Python boundary made this stage
bandwidth-bound — the native expression removes the round trip entirely
(north_star: "verified with vectorized Jaccard estimation"; the
vectorization now happens in Tungsten rather than numpy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig


def estimate_jaccard_col(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """Fraction of agreeing positions of two equal-length signature arrays —
    pure Spark expression (codegen), no UDF."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.lit(num_perm)


def verify_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """pairs(src, dst) -> verified pairs(src, dst, jaccard_est >= threshold).

    Two hash joins against the signatures table projected to
    (doc_id, minhash) — only the signature column shuffles, and the Jaccard
    filter runs inside the join's codegen stage so rejected pairs never
    materialize downstream.
    """
    # Shuffle-payload compression (guide §2.3 "shuffle fewer bytes —
    # narrower types"): minhash values live in [0, p] with p <= 2^31 - 1 =
    # int32 max (DedupConfig rejects a larger prime), so the join-side
    # projection casts the int64 array to array<int> — every positional
    # equality, and therefore jaccard_est, is bit-identical while the
    # signature payload that crosses BOTH join shuffles halves (~1 KB ->
    # ~0.5 KB per row at num_perm=128).  The stored signatures table keeps
    # its int64 schema.
    sigs = signatures.select(
        "doc_id", F.transform("minhash", lambda x: x.cast("int")).alias("minhash")
    )
    s1 = sigs.withColumnRenamed("doc_id", "src").withColumnRenamed("minhash", "sig_src")
    s2 = sigs.withColumnRenamed("doc_id", "dst").withColumnRenamed("minhash", "sig_dst")
    # LOUD length guard: mismatched signature widths (e.g. an incremental
    # index built at a different num_perm than the current config) would
    # otherwise null-pad through zip_with, null out jaccard_est, and drop
    # EVERY pair silently — total recall loss with zero errors
    width_ok = (F.size("sig_src") == F.lit(cfg.num_perm)) & (
        F.size("sig_dst") == F.lit(cfg.num_perm)
    )
    # the guard lives INSIDE the consumed expression — a standalone check
    # column would be pruned away by Catalyst as unused
    guarded = F.when(
        width_ok, estimate_jaccard_col(F.col("sig_src"), F.col("sig_dst"), cfg.num_perm)
    ).otherwise(
        F.assert_true(
            width_ok,
            F.lit(
                f"signature width != num_perm ({cfg.num_perm}) — was the "
                "index built with a different config?"
            ),
        ).cast("double")
    )
    return (
        pairs.join(s1, "src")
        .join(s2, "dst")
        .withColumn("jaccard_est", guarded)
        .where(F.col("jaccard_est") >= cfg.jaccard_threshold)
        .select("src", "dst", "jaccard_est")
    )
