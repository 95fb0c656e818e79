"""Physical-plan audit: .explain('formatted') for the key queries, with
automated checks for the plan properties that matter at 100 TB:

  * parquet scans carry PushedFilters / pruned ReadSchema (no full-width
    scans for narrow projections),
  * WholeStageCodegen covers the relational sections,
  * broadcast joins chosen where a side is dim-sized,
  * no CartesianProduct outside the intentional broadcast cross join in
    similarity search.

Usage: python tools/explain_audit.py [sf_dir]
Prints one PASS/WARN line per audited query plus the offending plan excerpt
on WARN. Exit 1 on any WARN.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from deduplication_challenge_spark import entry_queries as eq
    from deduplication_challenge_spark.session import build_session

    spark = build_session("explain-audit", master="local[4]", shuffle_partitions=4)
    failures = 0

    def check(name: str, ok: bool, detail: str, plan: str = "") -> None:
        nonlocal failures
        print(f"{'PASS' if ok else 'WARN'}  {name}: {detail}")
        if not ok:
            failures += 1
            print("      " + "\n      ".join(plan.splitlines()[:30]))

    # 1. filter + projection pushdown reach the scan
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    narrow = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_text(narrow)
    check(
        "pushdown/documents",
        ("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p)
        and ("text" not in re.search(r"ReadSchema: ([^\n]*)", p).group(1)),
        "lang filter pushed to parquet; text column pruned",
        p,
    )

    # 2. Q1-style agg: partial aggregation + codegen
    # note: AQE's pre-execution formatted plan doesn't print WholeStageCodegen
    # spans; partial+final HashAggregate and scan-level pushdown are the
    # properties that matter
    p = plan_text(eq.q_pricing_summary(spark, sf_dir))
    check(
        "pricing_summary",
        p.count("partial_sum") >= 1 and p.count("HashAggregate") >= 2
        and "PushedFilters: [IsNotNull(l_shipdate)" in p,
        "partial+final HashAggregate; shipdate filter pushed to parquet",
        p,
    )

    # 3. dim joins broadcast
    p = plan_text(eq.q_region_nation_rollup(spark, sf_dir))
    check(
        "region_nation_rollup",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
        "both dim joins broadcast",
        p,
    )

    # 4. similarity brute force: broadcast nested loop (intentional), no shuffle before topk window
    p = plan_text(eq.q_ann_topk_bruteforce(spark, sf_dir))
    check(
        "ann_topk_bruteforce",
        "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p,
        "query side broadcast; no cartesian shuffle",
        p,
    )

    # 5. LSH star edges: aggregate + shuffled hash join, and scan prunes to
    # the two needed columns
    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.operators import lsh
    from deduplication_challenge_spark.operators.signatures import compute_signatures

    sigs = compute_signatures(docs.select("doc_id", "text"), DedupConfig())
    edges, _ = lsh.candidate_pairs(lsh.band_table(sigs), DedupConfig())
    p = plan_text(edges)
    rs = re.search(r"ReadSchema: ([^\n]*)", p)
    check(
        "lsh_candidates",
        "CartesianProduct" not in p and rs and "lang" not in rs.group(1),
        "no cartesian; signature input pruned to (doc_id, text)",
        p,
    )

    # 6. prefix-dup groups: ONE data-dependent shuffle (the agg's
    # hashpartitioning); the adaptive input spread (RoundRobin on the
    # single-row-group driver file) is allowed and expected
    p = plan_text(eq.q_prefix40_dup_groups(spark, sf_dir))
    n_hash = p.count("hashpartitioning")
    check(
        "prefix40_dup_groups",
        n_hash <= 1,
        f"{n_hash} hash exchange(s) (partial agg does the heavy lifting)",
        p,
    )

    # 7. df-capped ngram join: no cartesian; the cap's aggregate is present
    p = plan_text(eq.q_ngram_jaccard_pairs(spark, sf_dir))
    check(
        "ngram_jaccard_pairs",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and p.count("HashAggregate") >= 4,
        "equi-joins only; df-cap aggregate in plan",
        p,
    )

    # 8. bucketed embedding pairs: candidates join is an equi-join on
    # (tbl, bucket) — never a cartesian — and embeddings join back via
    # broadcast or shuffled hash, not nested loop
    p = plan_text(eq.q_embedding_near_dup_pairs_lsh(spark, sf_dir))
    check(
        "embedding_near_dup_pairs_lsh",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "bucket equi-join; no cartesian anywhere",
        p,
    )

    # 9. perfect-duplicate probe: two-level aggregate, no sort (the reference
    # sorts the whole table; the Spark plan must not)
    p = plan_text(eq.q_perfect_duplicate_count(spark, sf_dir))
    check(
        "perfect_duplicate_count",
        "Sort " not in p and p.count("HashAggregate") >= 4,
        "hash aggregates only, no global sort",
        p,
    )

    # 10. global substring pass: anchor join is an EQUI-join (shuffled hash /
    # sort-merge on the anchor key), star-edged via the min aggregate —
    # never a cartesian or nested loop; scan pruned to (doc_id, text)
    from deduplication_challenge_spark.operators.suffixarray import substring_pairs_global

    sub = substring_pairs_global(docs.select("doc_id", "text"), DedupConfig())
    p = plan_text(sub)
    check(
        "substring_pairs_global",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and p.count("HashAggregate") >= 2  # min/count per anchor (partial+final)
        # the anchor kernel must NOT appear in the join plan: it sits behind
        # one lazy localCheckpoint, so the corpus is hashed/winnowed exactly
        # once for both the mins aggregate and the join probe side (pre-fix
        # the plan showed two MapInPandas nodes); the (doc_id, text)
        # projection feeding the checkpoint is part of the operator itself
        and "MapInPandas" not in p,
        "anchor equi-join + star-edge aggregate; kernel materialized once",
        p,
    )

    # 11. passthrough standardization: per-row higher-order functions —
    # ZERO exchanges in the whole standardization subplan (the r2 version
    # shuffled the passthrough side 16 times)
    from deduplication_challenge_spark.operators.product_merge import _standardize_nested
    from deduplication_challenge_spark.sources.products import PRODUCTS_SCHEMA

    prod = spark.createDataFrame([], PRODUCTS_SCHEMA)
    pt = _standardize_nested(prod)
    p = plan_text(pt)
    check(
        "passthrough_standardization",
        "Exchange" not in p,
        "zero exchanges — row-local standardization",
        p,
    )

    # 11b. merged side of consolidate_products: ONE aggregate per identifier
    # group — nested fields go through the same per-row expressions as
    # check 11, so the optimized plan keeps only the details join and the
    # details explode (no per-field aggregate joined back, no per-field
    # explode)
    from deduplication_challenge_spark.operators.product_merge import consolidate_products

    p = consolidate_products(prod)._jdf.queryExecution().optimizedPlan().toString()
    ops = [re.sub(r"^[\s:+\-|]*", "", line).split(" ")[0] for line in p.splitlines()]
    check(
        "merged_standardization",
        ops.count("Join") <= 1 and ops.count("Generate") <= 1,
        f"{ops.count('Join')} join(s), {ops.count('Generate')} generate(s) — one group aggregate",
        p,
    )

    # 12. doc repetition signals: all metrics row-local (HOFs) — no
    # data-dependent shuffle anywhere; the only allowed exchange is the
    # adaptive RoundRobin input spread over the single-row-group driver file
    p = plan_text(eq.QUERIES["doc_repetition_signals"](spark, sf_dir))
    check(
        "doc_repetition_signals",
        "hashpartitioning" not in p and "rangepartitioning" not in p,
        "row-local repetition metrics (input-spread exchange only)",
        p,
    )

    # 13. boilerplate rate: the hot-gram set rides a BROADCAST tag-join
    # (occurrence stream never shuffles for the tag), no sort-merge join
    p = plan_text(eq.QUERIES["boilerplate_rate_by_source"](sf_dir=sf_dir, spark=spark))
    check(
        "boilerplate_rate_by_source",
        ("BroadcastHashJoin" in p) and ("SortMergeJoin" not in p),
        "hot grams broadcast onto the occurrence stream",
        p,
    )

    # 14. line dedup: hot-line set broadcast (anti-join), no sort-merge
    # join, no cartesian — the only full shuffle is the per-doc rebuild
    from deduplication_challenge_spark.operators.linededup import dedup_lines

    ld_docs = spark.createDataFrame([], "doc_id long, text string")
    p = plan_text(dedup_lines(ld_docs, min_docs=2))
    check(
        "line_dedup",
        ("BroadcastHashJoin" in p)
        # the ONE allowed sort-merge join is the per-doc anchor (doc_id)
        # left join that keeps all-empty docs in the output; formatted
        # plans list each node twice (tree + details), hence <= 2
        and (p.count("SortMergeJoin") <= 2)
        and ("CartesianProduct" not in p),
        "hot lines broadcast-tagged; one rebuild shuffle + one anchor join",
        p,
    )

    # 15. contamination flags: benchmark gram set broadcast onto the
    # training stream — no sort-merge join, no cartesian
    p = plan_text(eq.QUERIES["contamination_flags"](spark, sf_dir))
    check(
        "contamination_flags",
        ("BroadcastHashJoin" in p)
        and ("SortMergeJoin" not in p)
        and ("CartesianProduct" not in p),
        "benchmark grams broadcast; corpus text never shuffles",
        p,
    )

    # 16. hash sampling: the selection predicate is a row-local scan filter
    # (zero exchanges before the per-source rollup pair)
    from deduplication_challenge_spark.operators.sampling import sample_by_hash

    sdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    p = plan_text(sample_by_hash(sdocs, "doc_id", 0.25, salt="s1"))
    check(
        "hash_sampling",
        "Exchange" not in p,
        "zero exchanges — deterministic row-local selection",
        p,
    )

    # 17. PII redaction: row-local regexp projection — no data-dependent
    # shuffle (input-spread RoundRobin exchange allowed, see check 12)
    p = plan_text(eq.QUERIES["pii_redaction"](spark, sf_dir))
    check(
        "pii_redaction",
        "hashpartitioning" not in p and "rangepartitioning" not in p,
        "row-local regexp redaction (input-spread exchange only)",
        p,
    )

    # 17b/17c. rule-based quality filters: pure projections that must run
    # at scan speed — a hash/range exchange means the expression tree
    # regressed (the input-spread RoundRobin is allowed, see check 12)
    for qname in ("gopher_quality_flags", "c4_line_filter_stats"):
        p = plan_text(eq.QUERIES[qname](spark, sf_dir))
        check(
            qname,
            "hashpartitioning" not in p and "rangepartitioning" not in p,
            "codegen'd rule projection (input-spread exchange only)",
            p,
        )

    # 18. incremental cross candidates: band/chunk equi-joins only (the
    # index side aggregates to min-per-bucket BEFORE the join) — no
    # sort-merge of raw band tables, no cartesian, no full-index pairing
    from deduplication_challenge_spark.plans.incremental import (
        lsh_cross_candidates,
        simhash_cross_candidates,
    )

    bands = spark.createDataFrame([], "doc_id long, band_idx int, band_hash long")
    chunks = spark.createDataFrame(
        [], "doc_id long, simhash long, chunk_idx int, chunk_val long"
    )
    p = plan_text(lsh_cross_candidates(bands, bands)) + plan_text(
        simhash_cross_candidates(chunks, chunks, 3)
    )
    check(
        "incremental_cross",
        ("CartesianProduct" not in p)
        and ("BroadcastNestedLoopJoin" not in p)
        and ("HashAggregate" in p),  # min-old-per-bucket partial agg present
        "equi-join cross probes with min-per-bucket index pruning",
        p,
    )

    # 19. url dedup pre-stage: canonicalization is ZERO-exchange row-local
    # regexp work; the dedup itself is ONE aggregate shuffle (first-seen per
    # canonical url) — no join, no sort, no second exchange
    from deduplication_challenge_spark.operators.urlnorm import canonical_url, dedup_by_url

    updf = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    p = plan_text(updf.select(canonical_url(F.col("url")).alias("u")))
    p2 = plan_text(dedup_by_url(updf))
    check(
        "url_dedup_prestage",
        "Exchange" not in p
        # formatted plans list nodes twice (tree + details) -> <= 2 means
        # ONE hashpartitioning exchange for the first-seen aggregate
        and p2.count("Exchange") <= 2 and "Join" not in p2,
        "zero-exchange canonicalization; single dedup aggregate, no join",
        p + p2,
    )

    # 20. sequence packing: exactly ONE shuffle — the hashpartitioning on
    # the bucket key that feeds the per-bucket greedy kernel — and the
    # kernel is a single applyInPandas node, never a join or sort-merge
    from deduplication_challenge_spark.operators.packing import pack_sequences

    pk = spark.createDataFrame([], "doc_id long, n_tokens long")
    p = plan_text(pack_sequences(pk, budget=512, n_buckets=16))
    check(
        "pack_sequences",
        p.count("Exchange") <= 2 and "Join" not in p and "CartesianProduct" not in p,
        "single bucket-key shuffle into the packing kernel",
        p,
    )

    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
