"""Incremental dedup: batch B attached to an index built from batch A must
agree with the full batch run over A+B (at the documented LSH+SimHash
scope), preserve A's assignments untouched, and surface bridges."""

from __future__ import annotations

from collections import defaultdict

import pytest

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.plans.incremental import IncrementalDedup
from deduplication_challenge_spark.plans.pipeline import DedupPipeline

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


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
def split_runs(spark, micro_corpus, tmp_path_factory):
    """Index from even-row batch A; incremental over odd-row batch B; and a
    full reference run over A+B — all WITHOUT the substring pass (the
    documented incremental scope)."""
    cfg = DedupConfig()
    rows = micro_corpus.rows
    batch_a = spark.createDataFrame(
        [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang")) for r in rows[::2]],
        PAGES_DDL,
    )
    batch_b = spark.createDataFrame(
        [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang")) for r in rows[1::2]],
        PAGES_DDL,
    )
    both = batch_a.unionByName(batch_b)

    wd_index = str(tmp_path_factory.mktemp("inc_index"))
    can_a, _ = DedupPipeline(spark, cfg, wd_index, include_substring=False).run(
        batch_a, input_desc="batch-a"
    )
    assign_a = {
        u: r["cluster_id"] for r in can_a.collect() for u in r["member_urls"]
    }

    inc = IncrementalDedup(spark, cfg, wd_index)
    canonical_updates, assignments_new, bridges, report = inc.run(batch_b)

    wd_full = str(tmp_path_factory.mktemp("inc_full"))
    can_full, _ = DedupPipeline(spark, cfg, wd_full, include_substring=False).run(
        both, input_desc="batch-ab"
    )
    full_assign = {
        u: r["cluster_id"] for r in can_full.collect() for u in r["member_urls"]
    }
    # id -> url for the incremental side
    from deduplication_challenge_spark.oracle import xxhash64_str

    url_by_id = {xxhash64_str(r["url"]): r["url"] for r in rows}
    inc_assign = dict(assign_a)
    for r in assignments_new.collect():
        inc_assign[url_by_id[r["doc_id"]]] = r["cluster_id"]
    return {
        "inc_assign": inc_assign,
        "full_assign": full_assign,
        "assign_a": assign_a,
        "updates": canonical_updates.collect(),
        "assignments_new": assignments_new.collect(),
        "bridges": bridges.collect(),
        "report": report,
        "n_b": batch_b.count(),
    }


class TestIncremental:
    def test_pair_recall_vs_full_run(self, split_runs):
        """Every dup pair the full A+B run finds (at the same scope) is
        found by index+incremental — including every cross-batch pair."""
        full_pairs = _pairs(split_runs["full_assign"])
        inc_pairs = _pairs(split_runs["inc_assign"])
        missed = full_pairs - inc_pairs
        assert not missed, f"missed {len(missed)} pairs: {sorted(missed)[:5]}"

    def test_no_invented_pairs(self, split_runs):
        full_pairs = _pairs(split_runs["full_assign"])
        inc_pairs = _pairs(split_runs["inc_assign"])
        assert inc_pairs == full_pairs

    def test_append_only(self, split_runs):
        """Batch-A assignments are byte-identical before and after the
        incremental pass (they are read-only inputs by construction)."""
        for url, cluster in split_runs["assign_a"].items():
            assert split_runs["inc_assign"][url] == cluster

    def test_every_new_doc_assigned_once(self, split_runs):
        seen = [r["doc_id"] for r in split_runs["assignments_new"]]
        assert len(seen) == len(set(seen)) == split_runs["n_b"]

    def test_report_counters(self, split_runs):
        rep = split_runs["report"]
        assert rep["new_docs"] == split_runs["n_b"]
        assert rep["attached_docs"] >= 1  # planted cross-batch dups exist
        assert "substring" in rep["scope"]

    def test_updates_cover_attached_clusters(self, split_runs):
        updated = {r["cluster_id"] for r in split_runs["updates"]}
        for r in split_runs["assignments_new"]:
            assert r["cluster_id"] in updated


class TestBridges:
    def test_bridge_recorded_not_silent(self, spark, tmp_path_factory):
        """A new doc similar to two docs the index kept in SEPARATE clusters
        attaches to the min cluster AND emits a bridge record."""
        import datetime as dt

        cfg = DedupConfig()
        text_a, text_c, text_bridge = _bridge_corpus()
        mk = lambda u, t: (u, dt.datetime(2025, 1, 1), None, t, "en")
        idx_pages = spark.createDataFrame(
            [mk("https://i/a1", text_a), mk("https://i/a2", text_a),
             mk("https://i/c1", text_c), mk("https://i/c2", text_c)],
            PAGES_DDL,
        )
        wd = str(tmp_path_factory.mktemp("bridge_idx"))
        can_idx, _ = DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
        assert can_idx.count() == 2  # A-pair and C-pair stay SEPARATE clusters
        new_pages = spark.createDataFrame(
            [mk("https://i/bridge", text_bridge)], PAGES_DDL
        )
        _, assignments_new, bridges, report = IncrementalDedup(spark, cfg, wd).run(new_pages)
        b = bridges.collect()
        assert len(b) == 1 and b[0]["n_old_clusters"] == 2
        assert report["bridges"] == 1
        # the doc attaches deterministically to the MIN of the two clusters
        rows = assignments_new.collect()
        assert len(rows) == 1 and rows[0]["attached"]
        assert rows[0]["cluster_id"] == min(b[0]["bridged_clusters"])



def _bridge_corpus():
    """Seeded corpus where a bridge is DETECTABLE by construction: base text
    A, variant C with 16 token edits (estJ(A,C) ~ 0.62 < threshold 0.70 ->
    separate clusters), and a bridge doc with HALF of C's edits
    (estJ ~ 0.76 / 0.79 to each side -> verifies to both)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(5))
    vocab = [f"w{i:03d}" for i in range(500)]
    base = [vocab[int(rng.integers(500))] for _ in range(200)]

    def edit(toks, idxs):
        out = list(toks)
        for i in idxs:
            out[i] = "z" + out[i]
        return out

    idxs = list(rng.choice(200, size=16, replace=False))
    return " ".join(base), " ".join(edit(base, idxs)), " ".join(edit(base, idxs[:8]))


class TestChainedBatches:
    def test_three_way_chain_matches_full_run(self, spark, micro_corpus, tmp_path_factory):
        """A -> +B -> extend -> +C equals the full A+B+C run (same scope):
        the operational loop where the index grows after every batch."""
        cfg = DedupConfig()
        rows = micro_corpus.rows
        batches = [rows[0::3], rows[1::3], rows[2::3]]
        dfs = [
            spark.createDataFrame(
                [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang")) for r in b],
                PAGES_DDL,
            )
            for b in batches
        ]
        wd = str(tmp_path_factory.mktemp("chain_idx"))
        can_a, _ = DedupPipeline(spark, cfg, wd, include_substring=False).run(
            dfs[0], input_desc="chain-a"
        )
        from deduplication_challenge_spark.oracle import xxhash64_str

        url_by_id = {xxhash64_str(r["url"]): r["url"] for r in rows}
        assign = {u: r["cluster_id"] for r in can_a.collect() for u in r["member_urls"]}

        inc = IncrementalDedup(spark, cfg, wd)
        for df in dfs[1:]:
            _, assignments_new, _, _ = inc.run(df)
            for r in assignments_new.collect():
                assign[url_by_id[r["doc_id"]]] = r["cluster_id"]
            inc.extend_index()

        wd_full = str(tmp_path_factory.mktemp("chain_full"))
        can_full, _ = DedupPipeline(spark, cfg, wd_full, include_substring=False).run(
            dfs[0].unionByName(dfs[1]).unionByName(dfs[2]), input_desc="chain-abc"
        )
        full_assign = {
            u: r["cluster_id"] for r in can_full.collect() for u in r["member_urls"]
        }
        assert _pairs(assign) == _pairs(full_assign)

    def test_extend_requires_run(self, spark, micro_corpus, tmp_path_factory):
        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("chain_noop"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:4]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        with pytest.raises(RuntimeError, match="requires a completed run"):
            IncrementalDedup(spark, cfg, wd).extend_index()


class TestSubstringDelta:
    """The incremental substring pass: an index built WITH the substring
    pass persists its anchor table; delta batches equi-join
    against it — planted CROSS-BATCH substring dups must attach."""

    @pytest.fixture(scope="class")
    def substr_corpus(self):
        """Docs sharing a verbatim >= min_len + W - 1 = 111-char run inside
        otherwise-dissimilar text: invisible to MinHash (Jaccard ~ 0.1) and
        SimHash, detectable ONLY by the substring pass."""
        import numpy as np

        rng = np.random.Generator(np.random.PCG64(11))
        vocab = [f"tok{i:04d}" for i in range(2000)]

        def prose(n):
            return " ".join(vocab[int(rng.integers(2000))] for _ in range(n))

        shared = "the quick shared verbatim boilerplate passage that runs " \
                 "for well over one hundred and eleven characters without " \
                 "any change at all between documents"
        assert len(shared) >= 111
        a = prose(120) + " " + shared + " " + prose(120)
        b = prose(120) + " " + shared + " " + prose(120)
        return a, b

    def test_cross_batch_substring_pair_attaches(
        self, spark, substr_corpus, tmp_path_factory
    ):
        import datetime as dt

        cfg = DedupConfig()
        text_a, text_b = substr_corpus
        mk = lambda u, t: (u, dt.datetime(2025, 1, 1), None, t, "en")
        idx_pages = spark.createDataFrame([mk("https://s/a", text_a)], PAGES_DDL)
        wd = str(tmp_path_factory.mktemp("substr_idx"))
        # default include_substring=True -> anchors table
        DedupPipeline(spark, cfg, wd).run(idx_pages, "idx")
        import os

        assert os.path.exists(os.path.join(wd, "anchors"))
        inc = IncrementalDedup(spark, cfg, wd)
        _, assignments_new, _, rep = inc.run(
            spark.createDataFrame([mk("https://s/b", text_b)], PAGES_DDL)
        )
        assert "anchor-table equi-join" in rep["scope"]
        rows = assignments_new.collect()
        assert len(rows) == 1 and rows[0]["attached"], rows

    def test_split_equality_with_substring_scope(
        self, spark, micro_corpus, substr_corpus, tmp_path_factory
    ):
        """Full-scope analog of the headline equality test: index over A,
        attach B, compare pair sets against the full A+B run WITH the
        substring pass on — including planted cross-batch substring dups."""
        import datetime as dt

        from deduplication_challenge_spark.oracle import xxhash64_str

        cfg = DedupConfig()
        text_a, text_b = substr_corpus
        rows = micro_corpus.rows
        extra_a = {"url": "https://s/xa", "warc_ts": dt.datetime(2025, 1, 1),
                   "html": None, "text": text_a, "lang": "en"}
        extra_b = {"url": "https://s/xb", "warc_ts": dt.datetime(2025, 1, 1),
                   "html": None, "text": text_b, "lang": "en"}
        a_rows = rows[::2] + [extra_a]
        b_rows = rows[1::2] + [extra_b]
        cols = ("url", "warc_ts", "html", "text", "lang")
        df_a = spark.createDataFrame([tuple(r[c] for c in cols) for r in a_rows], PAGES_DDL)
        df_b = spark.createDataFrame([tuple(r[c] for c in cols) for r in b_rows], PAGES_DDL)

        wd = str(tmp_path_factory.mktemp("substr_split_idx"))
        can_a, _ = DedupPipeline(spark, cfg, wd).run(df_a, "substr-a")
        assign = {u: r["cluster_id"] for r in can_a.collect() for u in r["member_urls"]}
        inc = IncrementalDedup(spark, cfg, wd)
        _, assignments_new, bridges, _ = inc.run(df_b)
        url_by_id = {xxhash64_str(r["url"]): r["url"] for r in a_rows + b_rows}
        for r in assignments_new.collect():
            assign[url_by_id[r["doc_id"]]] = r["cluster_id"]

        wd_full = str(tmp_path_factory.mktemp("substr_split_full"))
        can_full, _ = DedupPipeline(spark, cfg, wd_full).run(
            df_a.unionByName(df_b), "substr-ab"
        )
        full_assign = {
            u: r["cluster_id"] for r in can_full.collect() for u in r["member_urls"]
        }
        inc_pairs, full_pairs = _pairs(assign), _pairs(full_assign)
        # the planted substring pair is cross-batch and found by BOTH paths
        assert ("https://s/xa", "https://s/xb") in full_pairs
        assert ("https://s/xa", "https://s/xb") in inc_pairs
        # append-only contract: no invented pairs; every missed pair must be
        # explained by a RECORDED bridge (a B doc connecting >=2 A clusters:
        # full run merges them, append-only attach records the bridge)
        assert inc_pairs <= full_pairs
        bridged = {c for b in bridges.collect() for c in b["bridged_clusters"]}
        assert bridges.count() >= 1  # this corpus DOES bridge under substring
        for a, b in full_pairs - inc_pairs:
            assert assign[a] in bridged and assign[b] in bridged, (a, b)
        # compact() resolves the recorded bridges: exact pair equality after
        inc.extend_index()
        canonical, _, _ = inc.compact()
        compact_assign = {
            u: r["cluster_id"] for r in canonical.collect() for u in r["member_urls"]
        }
        assert _pairs(compact_assign) == full_pairs


class TestCompaction:
    def test_bridges_resolve_under_full_recluster(self, spark, tmp_path_factory):
        """compact(): the bridge the incremental pass RECORDED becomes an
        actual merge, the old->new cluster map is correct, and the workdir
        is a valid resumable pipeline checkpoint again."""
        import datetime as dt
        import os

        cfg = DedupConfig()
        text_a, text_c, text_bridge = _bridge_corpus()
        mk = lambda u, t: (u, dt.datetime(2025, 1, 1), None, t, "en")
        idx_rows = [mk("https://c/a1", text_a), mk("https://c/a2", text_a),
                    mk("https://c/c1", text_c), mk("https://c/c2", text_c)]
        idx_pages = spark.createDataFrame(idx_rows, PAGES_DDL)
        wd = str(tmp_path_factory.mktemp("compact_idx"))
        DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
        bridge_rows = [mk("https://c/bridge", text_bridge)]
        new_pages = spark.createDataFrame(bridge_rows, PAGES_DDL)
        inc = IncrementalDedup(spark, cfg, wd)
        _, assignments_new, bridges, _ = inc.run(new_pages)
        assert bridges.count() == 1  # the bridge the incremental pass recorded
        bridged = set(bridges.collect()[0]["bridged_clusters"])
        inc.extend_index()

        canonical, cluster_map, rep = inc.compact()
        clusters = {tuple(sorted(r["member_urls"])) for r in canonical.collect()}
        merged = next((c for c in clusters if "https://c/bridge" in c), None)
        assert merged is not None and len(merged) == 5  # one merged cluster
        # the map sends BOTH bridged old clusters to the same new id
        m = {r["old_cluster_id"]: r["new_cluster_id"] for r in cluster_map.collect()}
        assert len({m[c] for c in bridged}) == 1
        assert rep["docs_reclustered"] == 5
        # workdir is a resumable pipeline checkpoint again: manifests exist
        # and a fresh IncrementalDedup accepts it and attaches another batch
        assert os.path.exists(os.path.join(wd, "consolidate.manifest.json"))
        inc2 = IncrementalDedup(spark, cfg, wd)
        _, a2, b2, _ = inc2.run(
            spark.createDataFrame([mk("https://c/a3", text_a)], PAGES_DDL)
        )
        rows2 = a2.collect()
        assert len(rows2) == 1 and rows2[0]["attached"]
        assert b2.count() == 0  # bridge resolved — no longer recorded


class TestExtendAtomicity:
    def test_crash_before_promote_rolls_back(self, spark, micro_corpus, tmp_path_factory):
        """Journal present + table counts at the pre-extend state = a crash
        before any rename: __init__ rolls back (removes staging + journal)
        and proceeds."""
        import json
        import os

        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("atom_rb"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:10]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        before = {
            s: spark.read.parquet(os.path.join(wd, s)).count()
            for s in ("ingest", "signatures", "cc")
        }
        with open(os.path.join(wd, "extend.journal.json"), "w") as f:
            json.dump({"before": before,
                       "expected": {s: n + 3 for s, n in before.items()}}, f)
        os.makedirs(os.path.join(wd, "_extend_staging"), exist_ok=True)
        IncrementalDedup(spark, cfg, wd)  # rolls back, no raise
        assert not os.path.exists(os.path.join(wd, "extend.journal.json"))
        assert not os.path.exists(os.path.join(wd, "_extend_staging"))

    def test_crash_mid_promote_refuses(self, spark, micro_corpus, tmp_path_factory):
        """Counts matching neither 'before' nor 'expected' = half-promoted
        index: constructing IncrementalDedup fails LOUDLY."""
        import json
        import os

        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("atom_refuse"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:10]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        actual = {
            s: spark.read.parquet(os.path.join(wd, s)).count()
            for s in ("ingest", "signatures", "cc")
        }
        with open(os.path.join(wd, "extend.journal.json"), "w") as f:
            json.dump({"before": {s: n - 1 for s, n in actual.items()},
                       "expected": {s: n + 5 for s, n in actual.items()}}, f)
        with pytest.raises(RuntimeError, match="crashed extend_index"):
            IncrementalDedup(spark, cfg, wd)

    def test_crashed_compact_swap_legacy_journal_refuses(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """A journal without the replayable child list (legacy format /
        truncated write) cannot be recovered — construction refuses."""
        import json
        import os

        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("atom_compact"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:6]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        with open(os.path.join(wd, "compact.journal.json"), "w") as f:
            json.dump({"tmp": wd + "_compact_tmp"}, f)
        with pytest.raises(RuntimeError, match="crashed compact"):
            IncrementalDedup(spark, cfg, wd)

    def test_compact_crash_before_swap_rolls_forward(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """Crash right after the journal write (tmp pipeline complete, old
        tables untouched): __init__ REPLAYS the journaled swap to completion
        instead of refusing — the compacted tables land, journal and tmp are
        cleared, and the index is immediately attachable."""
        import json
        import os
        import shutil

        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("atom_fwd"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:8]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        # simulate: build the compacted run in the tmp sibling (a full
        # pipeline over the index docs, same as compact() does), write the
        # journal, then "crash" before any delete/rename
        tmp = wd + "_compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(wd, "ingest"))
        from pyspark.sql import functions as F

        tmp_pages = docs.select(
            "url", "warc_ts", F.lit(None).cast("binary").alias("html"), "text", "lang"
        )
        DedupPipeline(spark, cfg, tmp, recompute_text=False).run(tmp_pages, "compact-sim")
        children = sorted(n for n in os.listdir(tmp) if not n.startswith('.'))
        expected = {
            s: spark.read.parquet(os.path.join(tmp, s)).count()
            for s in ("ingest", "signatures", "cc")
        }
        with open(os.path.join(wd, "compact.journal.json"), "w") as f:
            json.dump({"tmp": tmp, "children": children, "expected": expected}, f)

        inc = IncrementalDedup(spark, cfg, wd)  # replays the swap, no raise
        assert not os.path.exists(os.path.join(wd, "compact.journal.json"))
        assert not os.path.exists(tmp)
        # swapped-in tables are the tmp run's (anchors side output present:
        # the tmp run included the global substring pass)
        assert os.path.exists(os.path.join(wd, "anchors"))
        for s, n in expected.items():
            assert spark.read.parquet(os.path.join(wd, s)).count() == n
        assert inc._has_anchor_index()

    def test_compact_crash_mid_swap_rolls_forward(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """Crash MID-swap (some children renamed, some stale entries still
        present, some still in tmp): the replay is idempotent from any
        point — __init__ finishes it and the counts verify."""
        import json
        import os
        import shutil

        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("atom_mid"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:8]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        tmp = wd + "_compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(wd, "ingest"))
        from pyspark.sql import functions as F

        tmp_pages = docs.select(
            "url", "warc_ts", F.lit(None).cast("binary").alias("html"), "text", "lang"
        )
        DedupPipeline(spark, cfg, tmp, recompute_text=False).run(tmp_pages, "compact-sim")
        children = sorted(n for n in os.listdir(tmp) if not n.startswith('.'))
        expected = {
            s: spark.read.parquet(os.path.join(tmp, s)).count()
            for s in ("ingest", "signatures", "cc")
        }
        with open(os.path.join(wd, "compact.journal.json"), "w") as f:
            json.dump({"tmp": tmp, "children": children, "expected": expected}, f)
        # simulate a partial swap: 'cc' already moved (old deleted, new
        # renamed in); 'signatures' old deleted but new not yet renamed
        shutil.rmtree(os.path.join(wd, "cc"))
        os.rename(os.path.join(tmp, "cc"), os.path.join(wd, "cc"))
        shutil.rmtree(os.path.join(wd, "signatures"))

        IncrementalDedup(spark, cfg, wd)  # finishes the swap
        assert not os.path.exists(os.path.join(wd, "compact.journal.json"))
        assert not os.path.exists(tmp)
        for s, n in expected.items():
            assert spark.read.parquet(os.path.join(wd, s)).count() == n

    def test_compact_completed_swap_journal_left(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """Advisor finding: crash AFTER the swap fully completed (tmp gone)
        but before the journal unlink — the workdir is fully valid, and
        __init__ must just clear the journal instead of refusing."""
        import json
        import os

        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp("atom_done"))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:8]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        inc = IncrementalDedup(spark, cfg, wd)
        inc.compact()  # real compact: swap completes, journal removed
        # re-create the journal exactly as the crash would leave it (the
        # journaled children are the tmp run's entries — index.meta.json is
        # written only after the journal unlink, so it is never journaled)
        children = sorted(
            n for n in os.listdir(wd)
            if n not in ("index.meta.json", "compact.journal.json")
            and not n.startswith(".")
        )
        expected = {
            s: spark.read.parquet(os.path.join(wd, s)).count()
            for s in ("ingest", "signatures", "cc")
        }
        with open(os.path.join(wd, "compact.journal.json"), "w") as f:
            json.dump(
                {"tmp": wd + "_compact_tmp", "children": children, "expected": expected},
                f,
            )
        IncrementalDedup(spark, cfg, wd)  # unlinks the journal, no raise
        assert not os.path.exists(os.path.join(wd, "compact.journal.json"))
        for s, n in expected.items():
            assert spark.read.parquet(os.path.join(wd, s)).count() == n


class TestRecoveryHardening:
    """Round-5 review closures: torn journal/meta files must recover per the
    write-order guarantees, and the config-hash authority must survive a
    crash anywhere inside extend_index's promote."""

    def _built(self, spark, micro_corpus, tmp_path_factory, tag):
        cfg = DedupConfig()
        wd = str(tmp_path_factory.mktemp(tag))
        pages = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[:10]],
            PAGES_DDL,
        )
        DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "t")
        return cfg, wd

    def test_torn_extend_journal_rolls_back(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """An unreadable extend journal = the crash happened DURING the
        journal write, which precedes any main-table mutation — so the
        index is still pre-extend: roll back staging + journal, proceed."""
        import os

        cfg, wd = self._built(spark, micro_corpus, tmp_path_factory, "torn_ej")
        with open(os.path.join(wd, "extend.journal.json"), "w") as f:
            f.write('{"before": {"inge')  # torn mid-write
        os.makedirs(os.path.join(wd, "_extend_staging"), exist_ok=True)
        IncrementalDedup(spark, cfg, wd)  # no raise
        assert not os.path.exists(os.path.join(wd, "extend.journal.json"))
        assert not os.path.exists(os.path.join(wd, "_extend_staging"))

    def test_torn_meta_is_advisory_not_fatal(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """index.meta.json is advisory (compaction hints) + the
        post-extension config authority; a torn write must not make the
        index unconstructable — fall back to the surviving manifests."""
        import os

        cfg, wd = self._built(spark, micro_corpus, tmp_path_factory, "torn_meta")
        with open(os.path.join(wd, "index.meta.json"), "w") as f:
            f.write('{"config_hash": "ab')  # torn mid-write
        inc = IncrementalDedup(spark, cfg, wd)
        assert inc.should_compact()["bridges_accumulated"] == 0

    def test_config_authority_survives_promote_crash(
        self, spark, micro_corpus, tmp_path_factory, monkeypatch
    ):
        """extend_index pins the config hash in index.meta.json BEFORE
        deleting the stage manifests: a crash inside the promote (here:
        during manifest deletion) must leave at least one config_hash
        source of truth, so a later attach under a DIFFERENT config still
        refuses instead of silently corrupting cluster membership."""
        import json
        import os

        import deduplication_challenge_spark.plans.incremental as inc_mod

        cfg, wd = self._built(spark, micro_corpus, tmp_path_factory, "authority")
        inc = IncrementalDedup(spark, cfg, wd)
        batch = spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in micro_corpus.rows[10:13]],
            PAGES_DDL,
        )
        inc.run(batch)
        real_fs_delete = inc_mod.fs_delete
        with monkeypatch.context() as m:
            def crashing(spark_, path):
                if path.endswith(".manifest.json"):
                    raise RuntimeError("simulated mid-promote crash")
                return real_fs_delete(spark_, path)

            m.setattr(inc_mod, "fs_delete", crashing)
            with pytest.raises(RuntimeError, match="simulated mid-promote"):
                inc.extend_index()
        # the meta authority landed before the crash window opened
        with open(os.path.join(wd, "index.meta.json")) as f:
            assert json.load(f)["config_hash"] == cfg.config_hash()
        # a different config must refuse even though manifests may be gone
        cfg2 = DedupConfig(shingle_k=cfg.shingle_k + 1)
        with pytest.raises(RuntimeError, match="config_hash"):
            IncrementalDedup(spark, cfg2, wd)
        # the original config recovers (journal rolled back) and constructs
        IncrementalDedup(spark, cfg, wd)


def test_line_dedup_config_rejected_for_delta_but_not_compact(
    spark, micro_corpus, tmp_path_factory
):
    """line dedup is a corpus-wide df decision: a batch cannot recompute it
    consistently with the index, so run() fails LOUDLY — but the guard must
    NOT block construction: compact() is exactly the full-run path where
    the stage legitimately executes (review finding: the old __init__-time
    guard made compaction unreachable for line-deduped corpora)."""
    from dataclasses import replace

    cfg = replace(DedupConfig(), line_dedup_min_docs=2)
    wd = str(tmp_path_factory.mktemp("inc_ld"))
    pages = spark.createDataFrame(
        [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
         for r in micro_corpus.rows[:6]],
        PAGES_DDL,
    )
    DedupPipeline(spark, cfg, wd, include_substring=False).run(pages, "ld-idx")
    inc = IncrementalDedup(spark, cfg, wd)  # construction must succeed
    with pytest.raises(ValueError, match="full-run .compaction. stage"):
        inc.run(pages)
    # compact() over the same line-deduped index runs the full pipeline
    canonical, cluster_map, rep = inc.compact()
    assert canonical.count() >= 1
    assert "linededup" in rep["stages"]


def test_url_dedup_applies_batch_locally(spark, micro_corpus, tmp_path_factory):
    """cfg.url_dedup in incremental mode collapses url variants WITHIN the
    batch (batch-local-safe, unlike line dedup); a variant of an indexed
    url still attaches via signatures."""
    import datetime as _dt
    from dataclasses import replace

    cfg = replace(DedupConfig(), url_dedup=True)
    rows = micro_corpus.rows
    idx_pages = spark.createDataFrame(
        [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang")) for r in rows[:30]],
        PAGES_DDL,
    )
    wd = str(tmp_path_factory.mktemp("inc_url"))
    DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
    # batch: one new page + TWO url variants of it (same content)
    p = rows[40]
    batch = [
        (p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]),
        (p["url"].replace("https://", "HTTP://WWW.") + "/",
         p["warc_ts"] + _dt.timedelta(hours=1), p["html"], p["text"], p["lang"]),
    ]
    new_pages = spark.createDataFrame(batch, PAGES_DDL)
    _, assignments_new, _, rep = IncrementalDedup(spark, cfg, wd).run(new_pages)
    assert rep["new_docs"] == 1  # variants collapsed before extraction
    assert assignments_new.count() == 1


def test_recrawl_verifies_against_new_content_not_stale_signature(
    spark, tmp_path_factory
):
    """Advisor finding: a re-crawled url carries the SAME doc_id in the
    batch and the index with possibly different signatures; verification
    must use the NEW signature, or a new doc could attach to a page based
    on content it no longer has."""
    import datetime as dt

    import numpy as np

    cfg = DedupConfig()
    rng = np.random.Generator(np.random.PCG64(13))
    vocab = [f"v{i:03d}" for i in range(600)]
    content_a = " ".join(vocab[int(rng.integers(600))] for _ in range(200))
    content_b = " ".join(vocab[int(rng.integers(600))] for _ in range(200))
    mk = lambda u, t, ts: (u, ts, None, t, "en")
    t0 = dt.datetime(2025, 1, 1)
    # index: page X with content A (alone in its cluster)
    idx_pages = spark.createDataFrame([mk("https://r/x", content_a, t0)], PAGES_DDL)
    wd = str(tmp_path_factory.mktemp("stale_sig"))
    DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
    # batch: X re-crawled with WHOLLY different content B, plus new doc Y
    # whose content is a near-dup of X's OLD content A
    y_text = content_a + " tail marker"
    batch = spark.createDataFrame(
        [mk("https://r/x", content_b, t0 + dt.timedelta(days=30)),
         mk("https://r/y", y_text, t0 + dt.timedelta(days=30))],
        PAGES_DDL,
    )
    _, assignments_new, _, _ = IncrementalDedup(spark, cfg, wd).run(batch)
    rows = {r["doc_id"]: r for r in assignments_new.collect()}
    from deduplication_challenge_spark.oracle import xxhash64_str

    y_row = rows[xxhash64_str("https://r/y")]
    # Y must NOT attach to X's cluster: X's live content is B, and the
    # stale A-signature is excluded from the verification union
    assert not y_row["attached"], y_row


def test_short_recrawl_excludes_stale_anchors(spark, tmp_path_factory):
    """Review finding: the stale-anchor exclusion must key on the BATCH's
    doc ids, not on anchors_new — a re-crawl whose new text is shorter than
    substr_min_len emits NO anchors, and keying on anchors_new would leave
    the deleted page's old anchors joinable."""
    import datetime as dt

    import numpy as np

    cfg = DedupConfig()
    rng = np.random.Generator(np.random.PCG64(17))
    vocab = [f"s{i:03d}" for i in range(800)]

    def prose(n):
        return " ".join(vocab[int(rng.integers(800))] for _ in range(n))

    shared = ("a verbatim shared run long enough to clear the winnowed "
              "substring detection floor of one hundred eleven characters easily")
    assert len(shared) >= 111
    x_old = prose(150) + " " + shared + " " + prose(150)
    y_text = prose(150) + " " + shared + " " + prose(150)
    mk = lambda u, t, ts: (u, ts, None, t, "en")
    t0 = dt.datetime(2025, 1, 1)
    wd = str(tmp_path_factory.mktemp("stale_anchor"))
    DedupPipeline(spark, cfg, wd).run(
        spark.createDataFrame([mk("https://sa/x", x_old, t0)], PAGES_DDL), "idx"
    )
    import os

    assert os.path.exists(os.path.join(wd, "anchors"))
    # batch: X re-crawled as a near-empty page + Y sharing X's OLD run
    batch = spark.createDataFrame(
        [mk("https://sa/x", "page deleted", t0 + dt.timedelta(days=30)),
         mk("https://sa/y", y_text, t0 + dt.timedelta(days=30))],
        PAGES_DDL,
    )
    _, assignments_new, _, _ = IncrementalDedup(spark, cfg, wd).run(batch)
    from deduplication_challenge_spark.oracle import xxhash64_str

    rows = {r["doc_id"]: r for r in assignments_new.collect()}
    assert not rows[xxhash64_str("https://sa/y")]["attached"]


def test_extend_index_never_duplicates_recrawled_doc_ids(spark, micro_corpus, tmp_path_factory):
    """Review finding: a re-crawled url (same doc_id) appended by
    extend_index would appear twice in the index tables and inflate later
    consolidation groups — the append is first-write-wins instead."""
    cfg = DedupConfig()
    rows = micro_corpus.rows
    idx_pages = spark.createDataFrame(
        [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang")) for r in rows[:20]],
        PAGES_DDL,
    )
    wd = str(tmp_path_factory.mktemp("inc_recrawl"))
    DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
    # batch: ONE re-crawl of an indexed url + one genuinely new page
    import datetime as _dt

    p_old, p_new = rows[0], rows[30]
    batch = [
        (p_old["url"], p_old["warc_ts"] + _dt.timedelta(days=1),
         p_old["html"], p_old["text"], p_old["lang"]),
        tuple(p_new[c] for c in ("url", "warc_ts", "html", "text", "lang")),
    ]
    inc = IncrementalDedup(spark, cfg, wd)
    inc.run(spark.createDataFrame(batch, PAGES_DDL))
    inc.extend_index()
    ingest = spark.read.parquet(wd + "/ingest")
    assert ingest.count() == 21  # 20 originals + 1 new; re-crawl NOT re-added
    assert ingest.groupBy("doc_id").count().where("count > 1").count() == 0
    sigs = spark.read.parquet(wd + "/signatures")
    assert sigs.groupBy("doc_id").count().where("count > 1").count() == 0


class TestClusterScaleIndex:
    """Round-5 items: Hadoop-FS-safe promotion (file:-scheme workdir),
    config-hash validation, anchors provenance, checkpoint-mode parity on
    the attach path, and the should_compact operational trigger."""

    def _mk_pages(self, spark, rows):
        return spark.createDataFrame(
            [tuple(r[c] for c in ("url", "warc_ts", "html", "text", "lang"))
             for r in rows],
            PAGES_DDL,
        )

    def test_file_scheme_promotion_paths(self, spark, micro_corpus, tmp_path_factory):
        """extend_index() and compact() run against a ``file:``-scheme
        Hadoop URI workdir — every journal/staging/rename goes through the
        Hadoop FS API, so the identical code path serves HDFS/object-store
        indexes on a real cluster."""
        import os

        cfg = DedupConfig()
        rows = micro_corpus.rows
        wd_plain = str(tmp_path_factory.mktemp("fs_scheme"))
        DedupPipeline(spark, cfg, wd_plain, include_substring=False).run(
            self._mk_pages(spark, rows[:20]), "idx"
        )
        wd_uri = "file://" + wd_plain  # same directory, scheme-addressed
        inc = IncrementalDedup(spark, cfg, wd_uri)
        _, assignments_new, _, rep = inc.run(self._mk_pages(spark, rows[20:30]))
        inc.extend_index()
        assert spark.read.parquet(os.path.join(wd_plain, "ingest")).count() == 30
        assert not os.path.exists(os.path.join(wd_plain, "_extend_staging"))
        assert not os.path.exists(os.path.join(wd_plain, "extend.journal.json"))
        assert os.path.exists(os.path.join(wd_plain, "index.meta.json"))

        # compact over the URI workdir: sibling tmp pipeline + journaled
        # swap, all through the Hadoop FS
        canonical, cluster_map, crep = IncrementalDedup(spark, cfg, wd_uri).compact()
        assert canonical.count() >= 1
        assert crep["docs_reclustered"] == 30
        assert not os.path.exists(wd_plain + "_compact_tmp")
        assert not os.path.exists(os.path.join(wd_plain, "compact.journal.json"))
        # the compacted workdir is a valid resumable pipeline checkpoint
        assert os.path.exists(os.path.join(wd_plain, "cc.manifest.json"))
        IncrementalDedup(spark, cfg, wd_uri)  # constructs cleanly

    def test_should_compact_roundtrip(self, spark, tmp_path_factory):
        """Operational loop: attach+extend batches until accumulated bridges
        reach the threshold, should_compact() says compact is due, compact()
        clears it."""
        import datetime as dt

        cfg = DedupConfig()
        text_a, text_c, text_bridge = _bridge_corpus()
        mk = lambda u, t: (u, dt.datetime(2025, 1, 1), None, t, "en")
        idx_pages = spark.createDataFrame(
            [mk("https://s/a1", text_a), mk("https://s/a2", text_a),
             mk("https://s/c1", text_c), mk("https://s/c2", text_c)],
            PAGES_DDL,
        )
        wd = str(tmp_path_factory.mktemp("should_compact"))
        DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
        inc = IncrementalDedup(spark, cfg, wd)
        st = inc.should_compact(threshold=1)
        assert st == {"bridges_accumulated": 0, "batches_extended": 0,
                      "threshold": 1, "compact_due": False}

        _, _, bridges, rep = inc.run(
            spark.createDataFrame([mk("https://s/bridge", text_bridge)], PAGES_DDL)
        )
        assert rep["bridges"] == 1
        # not yet extended: the bridge is not part of the index state yet
        assert inc.should_compact(1)["bridges_accumulated"] == 0
        inc.extend_index()
        st = inc.should_compact(threshold=1)
        assert st["bridges_accumulated"] == 1
        assert st["batches_extended"] == 1
        assert st["compact_due"]
        assert not inc.should_compact(threshold=5)["compact_due"]

        inc.compact()
        st = inc.should_compact(threshold=1)
        assert st == {"bridges_accumulated": 0, "batches_extended": 0,
                      "threshold": 1, "compact_due": False}
        # and the compaction actually merged the bridged clusters
        can = spark.read.parquet(wd + "/consolidate")
        assert can.where("n_members = 5").count() == 1

    def test_config_hash_mismatch_refuses(self, spark, micro_corpus, tmp_path_factory):
        """An index built under one config refuses attachment under another
        (signatures would be incompatible) — both via surviving manifests
        and via index.meta.json once extended."""
        from dataclasses import replace

        cfg = DedupConfig()
        rows = micro_corpus.rows
        wd = str(tmp_path_factory.mktemp("cfg_guard"))
        DedupPipeline(spark, cfg, wd, include_substring=False).run(
            self._mk_pages(spark, rows[:10]), "idx"
        )
        with pytest.raises(RuntimeError, match="config_hash"):
            IncrementalDedup(spark, replace(cfg, shingle_k=4), wd)
        # checkpoint_mode is a recovery knob excluded from the hash: legal
        IncrementalDedup(spark, replace(cfg, checkpoint_mode="reliable"), wd)

        # extended index: manifests are gone, index.meta.json carries the hash
        inc = IncrementalDedup(spark, cfg, wd)
        inc.run(self._mk_pages(spark, rows[10:14]))
        inc.extend_index()
        import os

        assert not os.path.exists(os.path.join(wd, "cc.manifest.json"))
        with pytest.raises(RuntimeError, match="config_hash"):
            IncrementalDedup(spark, replace(cfg, jaccard_threshold=0.5), wd)
        IncrementalDedup(spark, cfg, wd)  # matching config still fine

    def test_anchors_without_candidates_manifest_refuses(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """Advisor finding: anchors overwritten by a crashed pipeline re-run
        (candidates manifest deleted, cc not yet rebuilt) must not be
        silently joined by the delta substring pass."""
        import os

        cfg = DedupConfig()
        rows = micro_corpus.rows
        wd = str(tmp_path_factory.mktemp("anchor_guard"))
        # full pipeline WITH substring: persists {wd}/anchors
        DedupPipeline(spark, cfg, wd).run(self._mk_pages(spark, rows[:10]), "idx")
        assert os.path.exists(os.path.join(wd, "anchors"))
        IncrementalDedup(spark, cfg, wd)  # intact: constructs fine
        os.remove(os.path.join(wd, "candidates.manifest.json"))
        with pytest.raises(RuntimeError, match="anchors"):
            IncrementalDedup(spark, cfg, wd)

    def test_checkpoint_mode_parity_on_attach(
        self, spark, micro_corpus, tmp_path_factory
    ):
        """run() under checkpoint_mode='reliable' produces identical
        assignments to 'local' — the mode is a recovery knob, never
        semantics (mirrors test_cc's identical-output pin)."""
        from dataclasses import replace

        cfg = DedupConfig()
        rows = micro_corpus.rows
        wd = str(tmp_path_factory.mktemp("ckpt_parity"))
        DedupPipeline(spark, cfg, wd).run(self._mk_pages(spark, rows[:30]), "idx")
        batch = self._mk_pages(spark, rows[30:50])

        def attach(mode):
            inc = IncrementalDedup(spark, replace(cfg, checkpoint_mode=mode), wd)
            _, assignments_new, _, _ = inc.run(batch)
            return {r["doc_id"]: r["cluster_id"] for r in assignments_new.collect()}

        assert attach("local") == attach("reliable")


def test_should_compact_cli_roundtrip(
    spark, tmp_path_factory, monkeypatch, capsys
):
    """The operational loop THROUGH THE CLI verb: attach+extend a bridging
    batch, `--should-compact` reports compact_due, `--compact` resolves,
    `--should-compact` clears — tools/submit_job.py driven in-process
    (getOrCreate() reuses the test session; stop() is stubbed so the shared
    fixture survives)."""
    import datetime as dt
    import json
    import sys

    from pyspark.sql import SparkSession

    import tools.submit_job as submit_job

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    cfg = DedupConfig()
    text_a, text_c, text_bridge = _bridge_corpus()
    mk = lambda u, t: (u, dt.datetime(2025, 1, 1), None, t, "en")
    idx_pages = spark.createDataFrame(
        [mk("https://cli/a1", text_a), mk("https://cli/a2", text_a),
         mk("https://cli/c1", text_c), mk("https://cli/c2", text_c)],
        PAGES_DDL,
    )
    wd = str(tmp_path_factory.mktemp("cli_compact"))
    DedupPipeline(spark, cfg, wd, include_substring=False).run(idx_pages, "idx")
    batch_path = str(tmp_path_factory.mktemp("cli_batch") / "batch.parquet")
    spark.createDataFrame(
        [mk("https://cli/bridge", text_bridge)], PAGES_DDL
    ).write.parquet(batch_path)

    def run_cli(*argv):
        monkeypatch.setattr(sys, "argv", ["submit_job.py", *argv])
        submit_job.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out = run_cli("--workdir", wd, "--incremental-index", wd, "--should-compact")
    assert out["should_compact"]["compact_due"] is False

    out = run_cli("--workdir", wd, "--incremental-index", wd,
                  "--input", batch_path, "--extend-index")
    assert out["incremental"]["bridges"] == 1 and out["extended"] is True

    out = run_cli("--workdir", wd, "--incremental-index", wd, "--should-compact")
    assert out["should_compact"] == {
        "bridges_accumulated": 1, "batches_extended": 1,
        "threshold": 1, "compact_due": True,
    }

    out = run_cli("--workdir", wd, "--incremental-index", wd, "--compact")
    assert out["compact"]["docs_reclustered"] == 5

    out = run_cli("--workdir", wd, "--incremental-index", wd, "--should-compact")
    assert out["should_compact"]["compact_due"] is False
    assert out["should_compact"]["bridges_accumulated"] == 0
