"""SimHash Hamming-distance refinement via permute-and-sort
(Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
WWW 2007).

Pairs within Hamming distance <= k share at least one of k+1 aligned bit
chunks (pigeonhole). A naive equi-join on (chunk_idx, chunk_val) emits a
full clique per bucket — quadratic inside dense near-dup families, fatal at
web scale (measured: 24M pairs from 500k docs in 100-member families). The
production design instead SORTS: for each chunk permutation, range-
partition-sort docs by (chunk_val, simhash, doc_id) and compare each doc
only against its ``simhash_window`` sorted predecessors with the same chunk
value — linear output, and the sort is Spark's parallel range-exchange.

Everything stays JVM-side: chunk extraction is shiftrightunsigned/AND inside
whole-stage codegen, neighbor access is window ``lag``, the accept test is
``bit_count(s1 XOR s2) <= k``.

Semantics (pinned; the oracle implements the identical rule, so recall
goldens compare like-for-like): a pair is emitted iff for SOME chunk index
both docs share the chunk value (and, in groups above
``simhash_hot_threshold``, the same top-bits salt range — see
``_salted_chunks``) and lie within ``simhash_window`` positions in that
chunk's (chunk_val, simhash, doc_id) order. Within a duplicate family this
yields chains, which connected components then merge — cluster membership is
preserved; only redundant intra-clique edges are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.plans.checkpointing import stage_checkpoint

# structural, not tunable: functions/hashing.simhash64, the oracle's
# hamming_chunks and the hot-group salt shift all assume 64 bits
SIMHASH_BITS = 64


def simhash_chunk_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (doc_id, simhash, chunk_idx, chunk_val); empty docs
    excluded (mirrors /root/reference/src/main.py:85-89)."""
    n_chunks = cfg.hamming_k + 1
    width = SIMHASH_BITS // n_chunks
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ]
    )
    return (
        signatures.where(F.col("n_shingles") > 0)
        .select("doc_id", "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk_val"))
    )


_SIGN_BIT = -(1 << 63)  # bit pattern 0x8000000000000000


def _salted_chunks(chunks: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Hot-group defusal: a pathologically hot (chunk_idx, chunk_val) — e.g.
    a boilerplate chunk value shared by millions of docs — would otherwise
    land in ONE window task.  Groups larger than cfg.simhash_hot_threshold
    get a ``_salt`` = top cfg.simhash_split_bits bits of the sign-flipped
    simhash, i.e. 2^bits contiguous ranges of the window's own sort order, so
    neighbors in sort order stay together except at the few range boundaries.
    Cold groups get salt 0.  Part of the PINNED pair rule — the pure-Python
    oracle applies the identical split — and never silent: stats reports
    hot_keys / hot_rows.

    Returns (chunks + _salt column, stats row with chunk_rows / chunk_keys /
    hot_keys / hot_rows)."""
    # lazy checkpoint: the per-key counts feed the hot-set selection AND the
    # stats frame (collected later for the stage manifest) — one aggregation
    # of the chunk table instead of two
    counts = stage_checkpoint(
        chunks.groupBy("chunk_idx", "chunk_val").agg(F.count("*").alias("_n")), cfg
    )
    stats = counts.agg(
        F.sum("_n").alias("chunk_rows"),
        F.count("*").alias("chunk_keys"),
        F.sum(F.when(F.col("_n") > cfg.simhash_hot_threshold, 1).otherwise(0)).alias("hot_keys"),
        F.sum(F.when(F.col("_n") > cfg.simhash_hot_threshold, F.col("_n")).otherwise(0)).alias(
            "hot_rows"
        ),
    )
    hot = counts.where(F.col("_n") > cfg.simhash_hot_threshold).select(
        "chunk_idx", "chunk_val", F.lit(True).alias("_hot")
    )
    flipped = F.col("simhash").bitwiseXOR(F.lit(_SIGN_BIT))
    salt = F.when(
        F.col("_hot").isNotNull(),
        F.shiftrightunsigned(flipped, SIMHASH_BITS - cfg.simhash_split_bits),
    ).otherwise(F.lit(0))
    salted = (
        chunks.join(F.broadcast(hot), ["chunk_idx", "chunk_val"], "left")
        .withColumn("_salt", salt.cast("long"))
        .drop("_hot")
    )
    return salted, stats


def hamming_pairs(signatures: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """signatures -> (edges(src, dst) with Hamming(simhash) <= k, stats).

    stats: (chunk_rows, chunk_keys, hot_keys, hot_rows) — sizes of the sorted
    tables and the hot-group split counters, recorded in the stage manifest.
    """
    # the chunk table is NOT materialized: like the band table it is a
    # posexplode in codegen over narrow signature columns — its three
    # consumers (hot-group counts, salted window join, stats frame) each
    # recompute it cheaper than storing chunks-per-doc x corpus rows
    chunks, stats = _salted_chunks(simhash_chunk_table(signatures, cfg), cfg)
    # one sorted run per (chunk permutation, chunk value[, hot-group salt]):
    # the window never needs to cross chunk values, so partitioning by the
    # tuple gives ~2^16 independent runs per permutation — massively
    # parallel, and the same-chunk-value condition becomes structural.
    w = Window.partitionBy("chunk_idx", "chunk_val", "_salt").orderBy("simhash", "doc_id")
    lag_cols = [
        F.struct(
            F.lag("doc_id", i).over(w).alias("doc_id"),
            F.lag("simhash", i).over(w).alias("simhash"),
        ).alias(f"_n{i}")
        for i in range(1, cfg.simhash_window + 1)
    ]
    neighbored = chunks.select("doc_id", "simhash", *lag_cols)
    exploded = neighbored.select(
        "doc_id",
        "simhash",
        F.explode(
            F.filter(
                F.array(*[F.col(f"_n{i}") for i in range(1, cfg.simhash_window + 1)]),
                lambda x: x["doc_id"].isNotNull(),
            )
        ).alias("nb"),
    )
    edges = (
        exploded.where(
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("nb.simhash"))) <= cfg.hamming_k
        )
        .select(
            F.least(F.col("doc_id"), F.col("nb.doc_id")).alias("src"),
            F.greatest(F.col("doc_id"), F.col("nb.doc_id")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return edges, stats
