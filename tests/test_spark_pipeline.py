"""Spark pipeline integration tests against the pure-Python oracle — the
analog of the reference's golden integration layer
(/root/reference/src/tests/test_integration.py): exact cluster assignments,
exact canonical records, dup-pair recall, resume semantics."""

from __future__ import annotations

import datetime as dt
import json
from collections import defaultdict

import pytest

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.oracle import xxhash64_str
from deduplication_challenge_spark.plans.pipeline import DedupPipeline
from deduplication_challenge_spark.sources.synth import corpus_to_spark


def _pairs(assign: dict) -> set:
    groups = defaultdict(list)
    for k, c in assign.items():
        groups[c].append(k)
    return {
        tuple(sorted((a, b)))
        for mem in groups.values()
        for i, a in enumerate(mem)
        for b in mem[i + 1 :]
    }


@pytest.fixture(scope="module")
def pipeline_run(spark, cfg, micro_corpus, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("pipe"))
    pages, golden = corpus_to_spark(spark, micro_corpus)
    pipe = DedupPipeline(spark, cfg, workdir, include_substring=True)
    canonical, report = pipe.run(pages, input_desc="micro60")
    return {
        "workdir": workdir,
        "pages": pages,
        "canonical": canonical.collect(),
        "report": report,
        "pipe": pipe,
    }


class TestPipelineVsOracle:
    def test_cluster_assignments_identical(self, pipeline_run, micro_corpus, micro_oracle):
        url_by_id = {xxhash64_str(p["url"]): p["url"] for p in micro_corpus.rows}
        oracle_assign = {url_by_id[d]: c for d, c in micro_oracle.assignments.items()}
        spark_assign = {
            u: r["cluster_id"] for r in pipeline_run["canonical"] for u in r["member_urls"]
        }
        assert spark_assign == oracle_assign

    def test_dup_pair_recall_ge_099(self, pipeline_run, micro_corpus, micro_oracle):
        """The BASELINE.json gate: recall >= 0.99 at the pinned config."""
        url_by_id = {xxhash64_str(p["url"]): p["url"] for p in micro_corpus.rows}
        oracle_pairs = _pairs({url_by_id[d]: c for d, c in micro_oracle.assignments.items()})
        spark_pairs = _pairs(
            {u: r["cluster_id"] for r in pipeline_run["canonical"] for u in r["member_urls"]}
        )
        recall = len(oracle_pairs & spark_pairs) / max(len(oracle_pairs), 1)
        assert recall >= 0.99
        # and no invented pairs either at micro scale
        assert spark_pairs == oracle_pairs

    def test_canonical_records_identical(self, pipeline_run, micro_oracle):
        oc = micro_oracle.canonical.sort_values("cluster_id").reset_index(drop=True)
        sc = sorted(pipeline_run["canonical"], key=lambda r: r["cluster_id"])
        assert len(sc) == len(oc)
        for row, (_, orc) in zip(sc, oc.iterrows()):
            assert row["doc_id"] == orc["doc_id"]
            assert row["text"] == orc["text"]
            assert row["lang"] == orc["lang"]
            assert row["url"] == orc["url"]
            assert list(row["member_urls"]) == list(orc["member_urls"])
            assert list(row["langs"]) == list(orc["langs"])
            assert row["n_members"] == orc["n_members"]
            assert row["details"] == orc["details"]

    def test_planted_duplicates_recalled(self, pipeline_run, micro_corpus):
        """Planted same-cluster url pairs must co-cluster (ground truth)."""
        golden_assign = {g["url"]: g["cluster_id"] for g in micro_corpus.golden}
        planted = _pairs(golden_assign)
        spark_pairs = _pairs(
            {u: r["cluster_id"] for r in pipeline_run["canonical"] for u in r["member_urls"]}
        )
        recall = len(planted & spark_pairs) / max(len(planted), 1)
        assert recall >= 0.99

    def test_counters_present(self, pipeline_run):
        counters = pipeline_run["report"].counters
        for key in ("docs_scanned", "signatures_emitted", "pairs_verified", "clusters_merged"):
            assert key in counters, key
        assert counters["docs_scanned"] == 60
        assert counters["signatures_emitted"] == 60

    def test_uniqueness_contract(self, pipeline_run):
        """One record per cluster; members partition the input
        (the reference's uniqueness guarantee, /root/reference/README.md:4)."""
        rows = pipeline_run["canonical"]
        cluster_ids = [r["cluster_id"] for r in rows]
        assert len(cluster_ids) == len(set(cluster_ids))
        all_members = [u for r in rows for u in r["member_urls"]]
        assert len(all_members) == 60
        assert len(set(all_members)) == 60

    def test_singleton_passthrough(self, pipeline_run, micro_oracle):
        """Singleton clusters keep their row verbatim
        (/root/reference/src/main.py:94-95 analog)."""
        docs = micro_oracle.docs.set_index("doc_id")
        for r in pipeline_run["canonical"]:
            if r["n_members"] == 1:
                src = docs.loc[r["doc_id"]]
                assert r["text"] == src["text"]
                assert r["url"] == src["url"]
                assert r["lang"] == src["lang"]


class TestResume:
    def test_rerun_skips_all_stages(self, pipeline_run, spark, cfg):
        canonical2, report2 = pipeline_run["pipe"].run(
            pipeline_run["pages"], input_desc="micro60"
        )
        assert all(s.skipped for s in report2.stages.values())
        assert sorted(r["cluster_id"] for r in canonical2.collect()) == sorted(
            r["cluster_id"] for r in pipeline_run["canonical"]
        )

    def test_config_change_invalidates(self, pipeline_run, spark):
        cfg2 = DedupConfig(jaccard_threshold=0.9)
        pipe2 = DedupPipeline(spark, cfg2, pipeline_run["workdir"], include_substring=True)
        _, report2 = pipe2.run(pipeline_run["pages"], input_desc="micro60")
        assert not report2.stages["verify"].skipped

    def test_mid_pipeline_resume(self, pipeline_run, spark, cfg, micro_corpus):
        """Delete a downstream stage -> rerun redoes only that suffix."""
        import shutil, os

        wd = pipeline_run["workdir"]
        # restore original-config manifests first (previous test overwrote them)
        pages, _ = corpus_to_spark(spark, micro_corpus)
        pipe = DedupPipeline(spark, cfg, wd, include_substring=True)
        pipe.run(pages, input_desc="micro60")
        os.remove(os.path.join(wd, "cc.manifest.json"))
        shutil.rmtree(os.path.join(wd, "cc"), ignore_errors=True)
        canonical3, report3 = pipe.run(pages, input_desc="micro60")
        assert report3.stages["ingest"].skipped
        assert report3.stages["signatures"].skipped
        assert report3.stages["candidates"].skipped
        assert report3.stages["verify"].skipped
        assert not report3.stages["cc"].skipped
        assert sorted(r["cluster_id"] for r in canonical3.collect()) == sorted(
            r["cluster_id"] for r in pipeline_run["canonical"]
        )

    def test_manifest_contents(self, pipeline_run):
        import os

        wd = pipeline_run["workdir"]
        with open(os.path.join(wd, "signatures.manifest.json")) as f:
            m = json.load(f)
        assert m["stage"] == "signatures"
        assert m["rows"] == 60
        assert m["config_hash"] == DedupConfig().config_hash()
        assert m["partitions"], "per-partition lineage missing"


class TestLineDedupStage:
    """Optional cfg.line_dedup_min_docs pre-stage: boilerplate paragraphs
    removed before signatures, Spark==oracle under the SAME config, stage
    participates in resume."""

    @pytest.fixture(scope="class")
    def ld_run(self, spark, micro_corpus, tmp_path_factory):
        from dataclasses import replace

        from deduplication_challenge_spark.config import DedupConfig

        cfg = replace(DedupConfig(), line_dedup_min_docs=2)
        workdir = str(tmp_path_factory.mktemp("pipe_ld"))
        pages, _ = corpus_to_spark(spark, micro_corpus)
        pipe = DedupPipeline(spark, cfg, workdir, include_substring=True)
        canonical, report = pipe.run(pages, input_desc="micro60-ld")
        return {"cfg": cfg, "pipe": pipe, "pages": pages,
                "canonical": canonical.collect(), "report": report}

    def test_boilerplate_gone_from_canonical(self, ld_run, micro_corpus):
        boiler = micro_corpus.boilerplate
        assert boiler  # corpus plants one
        assert all(boiler not in r["text"] for r in ld_run["canonical"])

    def test_counters_and_stage_present(self, ld_run):
        counters = ld_run["report"].counters
        assert counters["lines_removed"] >= 1
        assert counters["docs_line_deduped"] >= 2
        assert counters["lines_total"] > counters["lines_removed"]
        assert "linededup" in ld_run["report"].stages

    def test_matches_oracle_under_same_config(self, ld_run, micro_corpus):
        from deduplication_challenge_spark.oracle import run_oracle

        oracle = run_oracle(micro_corpus.rows, ld_run["cfg"], include_substring=True)
        url_by_id = {xxhash64_str(p["url"]): p["url"] for p in micro_corpus.rows}
        oracle_assign = {url_by_id[d]: c for d, c in oracle.assignments.items()}
        spark_assign = {
            u: r["cluster_id"] for r in ld_run["canonical"] for u in r["member_urls"]
        }
        assert spark_assign == oracle_assign

    def test_stage_resumes(self, ld_run):
        canonical2, report2 = ld_run["pipe"].run(ld_run["pages"], input_desc="micro60-ld")
        assert report2.stages["linededup"].skipped
        assert all(s.skipped for s in report2.stages.values())

    def test_duplicate_doc_id_collapsed_not_fanned_out(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """A url crawled twice in one batch shares doc_id = xxhash64(url),
        violating dedup_lines' uniqueness precondition — the stage must
        collapse to the LATEST version (counted), never interleave both
        versions' paragraphs or fan rows out through the rebuild join."""
        import datetime as dt
        from dataclasses import replace

        from deduplication_challenge_spark.config import DedupConfig

        pages, _ = corpus_to_spark(spark, micro_corpus)
        re_crawl = spark.createDataFrame(
            [
                ("https://recrawl.example/x", dt.datetime(2025, 1, 1),
                 None, "old version unique paragraph", "en"),
                ("https://recrawl.example/x", dt.datetime(2025, 6, 1),
                 None, "new version unique paragraph", "en"),
            ],
            schema="url string, warc_ts timestamp, html binary, text string, lang string",
        )
        cfg = replace(DedupConfig(), line_dedup_min_docs=2)
        workdir = str(tmp_path_factory.mktemp("pipe_ld_dup"))
        pipe = DedupPipeline(spark, cfg, workdir, include_substring=False)
        canonical, report = pipe.run(pages.unionByName(re_crawl), input_desc="dup-url")
        ld = report.stages["linededup"]
        assert ld.counters["docs_collapsed_dup_doc_id"] == 1
        # stage output is one row per distinct doc_id (61), not 62
        assert ld.rows == 61
        texts = {u: r["text"] for r in canonical.collect() for u in r["member_urls"]}
        assert texts["https://recrawl.example/x"] == "new version unique paragraph"

    def test_off_by_default(self, pipeline_run):
        assert "linededup" not in pipeline_run["report"].stages


class TestDegenerateInputs:
    """The verify-skill probes, pinned as tests: empty input table and
    all-null rows must flow through every stage without raising."""

    def test_empty_input_table(self, spark, tmp_path_factory):
        from deduplication_challenge_spark.config import DedupConfig

        pages = spark.createDataFrame(
            [], "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        wd = str(tmp_path_factory.mktemp("empty_pipe"))
        canonical, report = DedupPipeline(
            spark, DedupConfig(), wd, include_substring=True
        ).run(pages, input_desc="empty")
        assert canonical.count() == 0
        assert report.counters["docs_scanned"] == 0
        assert report.counters["canonical_records"] == 0

    def test_all_null_rows(self, spark, tmp_path_factory):
        import datetime as dt

        from deduplication_challenge_spark.config import DedupConfig

        rows = [
            ("https://n/1", dt.datetime(2025, 1, 1), None, None, None),
            ("https://n/2", dt.datetime(2025, 1, 1), None, None, None),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        wd = str(tmp_path_factory.mktemp("null_pipe"))
        canonical, report = DedupPipeline(
            spark, DedupConfig(), wd, include_substring=True
        ).run(pages, input_desc="nulls")
        # null text normalizes to '' (pinned policy); empty docs are
        # shingle-less so they never co-bucket — both survive as singletons
        out = canonical.collect()
        assert len(out) == 2
        assert all(r["text"] == "" for r in out)


class TestUrlDedupStage:
    """Optional cfg.url_dedup pre-stage: canonical-url variants collapse
    BEFORE extraction; Spark==oracle under the same config; python twin
    matches the Spark expression rule-for-rule."""

    def test_parity_py_vs_spark(self, spark):
        from deduplication_challenge_spark.operators.urlnorm import (
            canonical_url,
            canonical_url_py,
        )

        cases = [
            "HTTP://WWW.Example.COM:80/A/b/",
            "https://example.com:443/x?q=1#frag",
            "https://example.com/",
            "http://example.com",
            "not a url",
            "https://www.w.org/p/q/?a=1#z",
        ]
        df = spark.createDataFrame([(c,) for c in cases], "url string")
        got = [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]
        assert got == [canonical_url_py(c) for c in cases]

    def test_variants_collapse_and_oracle_agrees(self, spark, micro_corpus, tmp_path_factory):
        from dataclasses import replace

        from deduplication_challenge_spark.config import DedupConfig
        from deduplication_challenge_spark.oracle import run_oracle

        cfg = replace(DedupConfig(), url_dedup=True)
        # plant url-variant re-crawls of the first 3 pages (later ts)
        rows = list(micro_corpus.rows)
        for p in micro_corpus.rows[:3]:
            dup = dict(p)
            dup["url"] = p["url"].replace("https://", "HTTP://WWW.") + "/"
            dup["warc_ts"] = p["warc_ts"] + dt.timedelta(days=1)
            rows.append(dup)
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang")) for r in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        wd = str(tmp_path_factory.mktemp("pipe_url"))
        canonical, report = DedupPipeline(
            spark, cfg, wd, include_substring=True
        ).run(pages, input_desc="url-variants")
        # the 3 variants are gone before ingest
        assert report.counters["pages_after_url_dedup"] == len(micro_corpus.rows)
        assert report.counters["docs_scanned"] == len(micro_corpus.rows)
        # and the ORIGINAL (earliest) urls survived
        urls = {u for r in canonical.collect() for u in r["member_urls"]}
        assert all(not u.startswith("HTTP://WWW.") for u in urls)
        # oracle under the same config produces identical assignments
        oracle = run_oracle(rows, cfg, include_substring=True)
        url_by_id = {xxhash64_str(r["url"]): r["url"] for r in rows}
        oracle_assign = {url_by_id[d]: c for d, c in oracle.assignments.items()}
        spark_assign = {
            u: r["cluster_id"] for r in canonical.collect() for u in r["member_urls"]
        }
        assert spark_assign == oracle_assign

    def test_off_by_default(self, pipeline_run):
        assert "urldedup" not in pipeline_run["report"].stages


class TestManifestIntegrity:
    def test_stale_manifest_invalidated_before_overwrite(self, spark, micro_corpus, tmp_path_factory):
        """Review finding: a crash between the data overwrite and the new
        manifest write must NOT leave a stale manifest that a later run
        would trust — the old manifest is deleted before the data changes."""
        import json
        import os
        from unittest.mock import patch

        wd = str(tmp_path_factory.mktemp("atomic"))
        pages, _ = corpus_to_spark(spark, micro_corpus)
        pipe = DedupPipeline(spark, DedupConfig(), wd, include_substring=False)
        pipe.run(pages, input_desc="v1")
        # simulate a crash mid-rebuild: manifest write raises after the
        # parquet overwrite (different input_desc forces every stage dirty)
        with patch(
            "deduplication_challenge_spark.plans.pipeline.fs_write_text",
            side_effect=OSError("disk full"),
        ):
            with pytest.raises(OSError):
                pipe.run(pages, input_desc="v2")
        # the ingest manifest must not VALIDATE as the stale v1 record —
        # either deleted (our pre-overwrite invalidation) or truncated by
        # the crashed write (which _load_manifest treats as corrupt)
        assert pipe._load_manifest("ingest") is None
        # and a fresh run rebuilds cleanly end-to-end
        canonical, report = pipe.run(pages, input_desc="v2")
        assert canonical.count() > 0
        assert not report.stages["ingest"].skipped

    def test_manifest_partitions_carry_row_counts(self, pipeline_run):
        """Per-partition lineage must include footer row counts (the claim
        the north rule makes), summing to the stage row count."""
        import json
        import os

        wd = pipeline_run["workdir"]
        with open(os.path.join(wd, "ingest.manifest.json")) as f:
            m = json.load(f)
        assert m["partitions"], "no partition lineage recorded"
        assert all("rows" in p and "bytes" in p for p in m["partitions"])
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]

    def test_candidate_manifest_has_no_silent_caps_counters(self, pipeline_run):
        """lsh bucket stats and simhash hot-group stats must reach the
        manifest (the modules' no-silent-caps contract)."""
        counters = pipeline_run["report"].counters
        assert "lsh_buckets" in counters and "lsh_multi_buckets" in counters
        assert "simhash_hot_keys" in counters and "simhash_chunk_rows" in counters


def test_signatures_store_minhash_as_int32(spark, cfg):
    """The signatures table is the one place that decides the signature
    format: minhash is array<int> (no fingerprints column), the empty-doc
    sentinel p = 2**31 - 1 = int32 max survives the narrowing, and band keys
    are still hashed from the int64 kernel signature, as the oracle does."""
    import numpy as np
    from pyspark.sql.types import _parse_datatype_string

    from deduplication_challenge_spark.functions import hashing as H
    from deduplication_challenge_spark.functions.textnorm import shingles
    from deduplication_challenge_spark.operators.signatures import (
        SIGNATURE_SCHEMA,
        compute_signatures,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    sigs = compute_signatures(docs, cfg)
    assert sigs.schema == _parse_datatype_string(SIGNATURE_SCHEMA)
    assert "fingerprints" not in sigs.columns
    assert sigs.schema["minhash"].dataType.simpleString() == "array<int>"
    rows = {r["doc_id"]: r for r in sigs.collect()}

    assert cfg.minhash_prime == 2**31 - 1 == np.iinfo(np.int32).max
    assert rows[2]["n_shingles"] == 0
    assert rows[2]["minhash"] == [cfg.minhash_prime] * cfg.num_perm

    a, b = H.minhash_params(cfg.num_perm, cfg.seed, cfg.minhash_prime)
    sig = H.minhash_signature(
        H.hash64_batch(shingles(text, cfg.shingle_k), seed=cfg.seed),
        a, b, cfg.minhash_prime,
    )
    assert sig.dtype == np.int64
    assert rows[1]["minhash"] == sig.tolist()
    assert rows[1]["bands"] == H.band_hashes(sig, cfg.bands, cfg.rows, cfg.seed).tolist()


def test_verify_pairs_signature_width_mismatch_is_loud(spark):
    """Review finding: a signature table built at a different num_perm would
    null-pad through zip_with and silently drop EVERY pair (total recall
    loss); verify_pairs must fail loudly instead."""
    from pyspark.errors import PySparkRuntimeError
    from py4j.protocol import Py4JJavaError

    from deduplication_challenge_spark.operators.verify import verify_pairs

    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2])],  # widths 4 and 2, num_perm=128
        "doc_id long, minhash array<int>",
    )
    with pytest.raises((PySparkRuntimeError, Py4JJavaError, Exception)) as exc:
        verify_pairs(pairs, sigs, DedupConfig()).collect()
    assert "signature width" in str(exc.value) or "num_perm" in str(exc.value)
