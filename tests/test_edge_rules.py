"""The near-dup edge rules, each written once: ``lsh.star_edges`` (every
bucket a star from its minimum doc_id), ``lsh.cross_star_edges`` (its
incremental form) and the pipeline's ``candidate_edges``/``verified_edges``.
Every caller must give the same edges as the shared rule."""

from __future__ import annotations

import pytest

from deduplication_challenge_spark.operators import lsh
from deduplication_challenge_spark.operators.suffixarray import substring_pairs_from_anchors
from deduplication_challenge_spark.plans.incremental import (
    lsh_cross_candidates,
    substring_cross_candidates,
)

# group -> members; group 1 is a singleton, docs 3 and 5 share two groups
GROUPS = {0: [5, 3, 9], 1: [7], 2: [8, 4], 3: [5, 3]}
STARS = [(3, 5), (3, 9), (4, 8)]


def _edges(df) -> list[tuple[int, int]]:
    return sorted((r["src"], r["dst"]) for r in df.collect())


def _rows(groups: dict[int, list[int]]) -> list[tuple[int, int]]:
    return [(d, g) for g, members in groups.items() for d in members]


@pytest.fixture(scope="module")
def bands(spark):
    return spark.createDataFrame(
        [(d, g % 2, 100 + g) for d, g in _rows(GROUPS)],
        "doc_id long, band_idx int, band_hash long",
    )


@pytest.fixture(scope="module")
def anchors(spark):
    return spark.createDataFrame(_rows(GROUPS), "doc_id long, anchor long")


def test_star_edges_hand_built_buckets(bands):
    assert _edges(lsh.star_edges(bands, ["band_idx", "band_hash"])) == STARS


def test_lsh_and_substring_use_the_same_star(bands, anchors, cfg):
    lsh_edges, stats = lsh.candidate_pairs(bands, cfg)
    assert _edges(lsh_edges) == STARS
    assert _edges(substring_pairs_from_anchors(anchors, cfg)) == STARS
    s = stats.collect()[0]
    assert (s["buckets"], s["multi_buckets"]) == (4, 3)


def test_cross_star_edges_disjoint_new_and_old(spark, cfg):
    # new 10, 11 share bucket 0 with old 2 (min) and 6; new 12 shares
    # bucket 1 with old 1; new 13's bucket has no old doc
    new = [(10, 0), (11, 0), (12, 1), (13, 9)]
    old = [(6, 0), (2, 0), (1, 1), (4, 5)]
    want = [(10, 2), (11, 2), (12, 1)]
    schema = "doc_id long, anchor long"
    a_new, a_old = spark.createDataFrame(new, schema), spark.createDataFrame(old, schema)
    assert _edges(lsh.cross_star_edges(a_new, a_old, ["anchor"])) == want
    assert _edges(substring_cross_candidates(a_new, a_old, cfg)) == want
    bschema = "doc_id long, band_idx int, band_hash long"
    b_new = spark.createDataFrame([(d, 3, g) for d, g in new], bschema)
    b_old = spark.createDataFrame([(d, 3, g) for d, g in old], bschema)
    assert _edges(lsh_cross_candidates(b_new, b_old)) == want


def _near_dup_pages(spark):
    """Exact copies, near copies (2 words replaced) and loose pairs (8 of
    100 words replaced, shingle Jaccard ~0.6): loose pairs often share an
    LSH band yet fail the 0.70 Jaccard check, so skipping or misrouting
    verification changes the clusters."""
    import datetime as dt
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(3000)]

    def edit(words, n):
        out = list(words)
        for pos in range(5, 100, 100 // n)[:n]:
            out[pos] = rng.choice(vocab)
        return out

    texts = []
    for g in range(30):
        base = [rng.choice(vocab) for _ in range(100)]
        texts.append(base)
        texts.append(base if g % 3 == 0 else edit(base, 2 if g % 3 == 1 else 8))
    ts = dt.datetime(2025, 1, 1)
    rows = [(f"https://x.example/{i}", ts, None, " ".join(t), "en") for i, t in enumerate(texts)]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_near_dup_clusters_query_equals_pipeline_cc(spark, cfg, tmp_path):
    """The near_dup_clusters entry query and a pipeline run without the
    substring pass cluster the same docs identically."""
    from pyspark.sql import functions as F

    from deduplication_challenge_spark.entry_queries import q_near_dup_clusters
    from deduplication_challenge_spark.plans.pipeline import DedupPipeline

    workdir = str(tmp_path / "pipe")
    DedupPipeline(spark, cfg, workdir, include_substring=False).run(_near_dup_pages(spark))
    rejected = spark.read.parquet(f"{workdir}/candidates").where(F.col("origin") == "lsh").join(
        spark.read.parquet(f"{workdir}/verify"), ["src", "dst"], "left_anti"
    )
    assert rejected.count() > 0  # verification decides some clusters here
    sf_dir = tmp_path / "sf"
    # the query reads a documents table: here the pipeline's own
    # ingested docs, so doc ids and texts are the same on both sides
    spark.read.parquet(f"{workdir}/ingest").select("doc_id", "text", "lang").write.parquet(
        str(sf_dir / "documents.parquet")
    )
    cc = sorted(tuple(r) for r in spark.read.parquet(f"{workdir}/cc").collect())
    assert len({c for _, c in cc}) < len(cc)  # some docs do cluster
    got = sorted(tuple(r) for r in q_near_dup_clusters(spark, str(sf_dir)).collect())
    assert got == cc
