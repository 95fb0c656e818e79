"""Mid-scale recall gate: 2,000- and 10,000-doc synthetic corpora (planted
exact / near / substring duplicates, boilerplate, singletons) through the
FULL Spark pipeline vs the pure-Python oracle at the pinned config —
dup-pair recall >= 0.99 (BASELINE.json) and exact cluster-assignment
equality at both sizes."""

from collections import defaultdict

import pytest

from deduplication_challenge_spark.oracle import run_oracle, xxhash64_str
from deduplication_challenge_spark.plans.pipeline import DedupPipeline
from deduplication_challenge_spark.sources.synth import corpus_to_spark, generate_corpus


def _pairs(assign):
    groups = defaultdict(list)
    for k, c in assign.items():
        groups[c].append(k)
    return {
        tuple(sorted((a, b)))
        for mem in groups.values()
        for i, a in enumerate(mem)
        for b in mem[i + 1 :]
    }


@pytest.fixture(scope="module", params=[2000, 10000], ids=["2k", "10k"])
def midscale(request, spark, cfg, tmp_path_factory):
    n = request.param
    corpus = generate_corpus(n_docs=n, seed=7 if n == 2000 else 11)
    oracle = run_oracle(corpus.rows, cfg, include_substring=True)
    pages, _ = corpus_to_spark(spark, corpus)
    # the shipped global anchor pass: matches the oracle's whole-corpus
    # substring kernel with no co-location requirement at either size
    pipe = DedupPipeline(
        spark, cfg, str(tmp_path_factory.mktemp("mid")), include_substring=True
    )
    canonical, report = pipe.run(pages, input_desc=f"mid{n}")
    return corpus, oracle, canonical.collect(), report


def test_recall_ge_099(midscale):
    corpus, oracle, rows, _ = midscale
    url_by_id = {xxhash64_str(p["url"]): p["url"] for p in corpus.rows}
    oracle_pairs = _pairs({url_by_id[d]: c for d, c in oracle.assignments.items()})
    spark_pairs = _pairs({u: r["cluster_id"] for r in rows for u in r["member_urls"]})
    recall = len(oracle_pairs & spark_pairs) / max(len(oracle_pairs), 1)
    assert recall >= 0.99, f"recall {recall}"
    assert spark_pairs == oracle_pairs  # and precision 1.0


def test_assignments_identical(midscale):
    corpus, oracle, rows, _ = midscale
    url_by_id = {xxhash64_str(p["url"]): p["url"] for p in corpus.rows}
    oracle_assign = {url_by_id[d]: c for d, c in oracle.assignments.items()}
    spark_assign = {u: r["cluster_id"] for r in rows for u in r["member_urls"]}
    assert spark_assign == oracle_assign


def test_planted_recall(midscale):
    """Ground-truth planted duplicate pairs must co-cluster."""
    corpus, _, rows, _ = midscale
    planted = _pairs({g["url"]: g["cluster_id"] for g in corpus.golden})
    spark_pairs = _pairs({u: r["cluster_id"] for r in rows for u in r["member_urls"]})
    recall = len(planted & spark_pairs) / max(len(planted), 1)
    assert recall >= 0.99, f"planted recall {recall}"


def test_counters_consistent(midscale):
    corpus, _, rows, report = midscale
    n = len(corpus.rows)
    c = report.counters
    assert c["docs_scanned"] == n
    assert c["signatures_emitted"] == n
    assert sum(r["n_members"] for r in rows) == n
    # doc_id collision audit: every url distinct, no silent hash merge
    assert c["doc_id_collisions"] == 0
