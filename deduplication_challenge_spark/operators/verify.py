"""Jaccard verification of LSH candidate pairs.

Pairs join back to their MinHash signatures and the estimated Jaccard
(fraction of agreeing signature positions) is computed ENTIRELY JVM-side
with the ``zip_with`` + ``aggregate`` higher-order functions. These are
``CodegenFallback`` expressions in Spark 4.1.2: the surrounding join and
filter are whole-stage codegen, but each pair's 2 x num_perm lambda calls
run through the expression interpreter, so this per-element work is
sensitive to the JVM's JIT. An earlier revision used an Arrow pandas UDF;
shipping two 128-element arrays per pair across the Python boundary made
this stage bandwidth-bound — the native expression removes that round trip
(north_star: "verified with vectorized Jaccard estimation").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig


def estimate_jaccard_col(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """Fraction of agreeing positions of two equal-length signature arrays —
    a pure Spark expression, no UDF.  ``zip_with`` and ``aggregate`` are
    ``CodegenFallback`` (interpreted per element), not whole-stage codegen."""
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
    (doc_id, minhash) — only the signature column, stored as ``array<int>``
    (operators/signatures.py), shuffles, and the Jaccard
    filter runs in the join's stage (its higher-order functions interpreted)
    so rejected pairs never materialize downstream.
    """
    sigs = signatures.select("doc_id", "minhash")
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
