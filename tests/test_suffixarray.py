"""Substring pass tests: the numpy reference kernels (suffix array and
rolling hash) and the global anchor pass the pipeline runs."""

import numpy as np
import pytest

from deduplication_challenge_spark.operators.suffixarray import (
    build_suffix_array,
    substring_pairs_partition,
    substring_pairs_partition_rolling,
)


def _pairs(doc_ids, texts, min_len):
    out = substring_pairs_partition(np.array(doc_ids, dtype=np.int64), texts, min_len)
    return set(zip(out["src"].tolist(), out["dst"].tolist()))


def _pairs_rolling(doc_ids, texts, min_len, verify=False, winnow=0):
    out = substring_pairs_partition_rolling(
        np.array(doc_ids, dtype=np.int64), texts, min_len, verify, winnow
    )
    return set(zip(out["src"].tolist(), out["dst"].tolist()))


class TestBuildSuffixArray:
    def test_banana(self):
        codes = np.frombuffer("banana".encode("utf-32-le"), dtype=np.uint32)
        assert build_suffix_array(codes).tolist() == [5, 3, 1, 0, 4, 2]

    def test_empty(self):
        assert build_suffix_array(np.empty(0, dtype=np.uint32)).size == 0

    def test_all_equal(self):
        codes = np.zeros(5, dtype=np.uint32) + 7
        assert build_suffix_array(codes).tolist() == [4, 3, 2, 1, 0]


class TestSubstringPairs:
    def test_containment_detected(self):
        long = "x" * 10 + "the shared core sentence that is long enough to matter here" + "y" * 10
        short = "the shared core sentence that is long enough to matter here"
        assert _pairs([1, 2], [long, short], 48) == {(1, 2)}

    def test_unrelated_no_pairs(self):
        a = "completely unrelated first document with its own words " * 3
        b = "another entirely different text talking about other things " * 3
        assert _pairs([1, 2], [a, b], 48) == set()

    def test_min_len_boundary(self):
        # adjacent chars differ so the shared run is exactly len(shared)
        shared = "S" * 47
        a, b = "aa" + shared + "bb", "cc" + shared + "dd"
        assert _pairs([1, 2], [a, b], 48) == set()
        shared = "S" * 48
        a, b = "aa" + shared + "bb", "cc" + shared + "dd"
        assert _pairs([1, 2], [a, b], 48) == {(1, 2)}

    def test_identical_docs(self):
        t = "identical document body that is comfortably longer than the threshold"
        assert _pairs([5, 3], [t, t], 48) == {(3, 5)}

    def test_short_tails_do_not_fabricate(self):
        # shared suffix shorter than min_len must NOT pair (padding safety)
        a = "distinct prefix one two three four five " + "tail" * 5
        b = "other start something else entirely here " + "tail" * 5
        assert _pairs([1, 2], [a, b], 48) == set()

    def test_star_edges_for_runs(self):
        shared = "the common boilerplate paragraph shared by every single document here"
        docs = [f"doc{i} " + shared + f" end{i}" for i in range(4)]
        got = _pairs([10, 20, 30, 40], docs, 48)
        assert got == {(10, 20), (10, 30), (10, 40)}

    def test_single_doc_no_pairs(self):
        assert _pairs([1], ["anything at all"], 8) == set()


class TestRollingEquivalence:
    """The rolling-hash kernel (default scale path) must match the
    suffix-array reference kernel exactly at winnow_window=0."""

    @pytest.fixture(scope="class")
    def corpus(self):
        rng = np.random.Generator(np.random.PCG64(11))
        vocab = [f"w{i}" for i in range(300)]
        texts = []
        for _ in range(120):
            texts.append(" ".join(vocab[int(rng.integers(300))] for _ in range(80)))
        for i in range(0, 20, 2):  # plant a DISTINCT shared block per pair
            shared = " ".join(vocab[int(rng.integers(300))] for _ in range(30))
            texts[i] += " " + shared + f" tail{i}"
            texts[i + 1] = f"head{i} " + shared + " " + texts[i + 1]
        ids = list(range(1000, 1000 + len(texts)))
        return ids, texts

    @pytest.mark.parametrize("verify", [False, True])
    def test_identical_to_suffix_array(self, corpus, verify):
        ids, texts = corpus
        assert _pairs(ids, texts, 48) == _pairs_rolling(ids, texts, 48, verify, 0)

    def test_winnowed_guarantee(self, corpus):
        """Winnowed anchors must catch every shared run >= min_len + W - 1:
        the planted shared blocks are ~170 chars >> 48 + 16 - 1."""
        ids, texts = corpus
        full = _pairs(ids, texts, 48)
        winnowed = _pairs_rolling(ids, texts, 48, False, 16)
        planted = {(ids[i], ids[i + 1]) for i in range(0, 20, 2)}
        assert planted <= full
        assert planted <= winnowed
        # winnowed never invents pairs the exact pass doesn't have
        assert winnowed <= full

    def test_winnowed_selection_is_content_defined(self):
        """Same shared block in different surrounding contexts selects the
        same anchors -> the pair is found regardless of position."""
        shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
        for pad_a, pad_b in [(0, 37), (13, 91), (200, 5)]:
            a = "x" * pad_a + " " + shared + " endA"
            b = "y" * pad_b + " " + shared + " endB"
            assert _pairs_rolling([1, 2], [a, b], 48, False, 16) == {(1, 2)}


class TestGlobalAnchorPass:
    """substring_pairs_global: cross-partition exact-substring detection via
    the anchor equi-join — partition-layout-independent by construction."""

    @pytest.fixture(scope="class")
    def corpus_df(self, spark):
        rng = np.random.Generator(np.random.PCG64(23))
        vocab = [f"w{i}" for i in range(300)]
        texts = []
        for _ in range(80):
            texts.append(" ".join(vocab[int(rng.integers(300))] for _ in range(80)))
        for i in range(0, 16, 2):
            shared = " ".join(vocab[int(rng.integers(300))] for _ in range(30))
            texts[i] += " " + shared + f" tail{i}"
            texts[i + 1] = f"head{i} " + shared + " " + texts[i + 1]
        ids = list(range(2000, 2000 + len(texts)))
        df = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
        return ids, texts, df

    def _global(self, df, cfg, repartition=None):
        from deduplication_challenge_spark.operators.suffixarray import (
            substring_pairs_global,
        )

        d = df.repartition(repartition) if repartition else df
        return {
            (r["src"], r["dst"])
            for r in substring_pairs_global(d, cfg).collect()
        }

    def test_equals_local_kernel_when_colocated(self, spark, cfg, corpus_df):
        """The global pass equals the numpy rolling kernel run over the
        whole corpus at once (every doc co-located) — the oracle's kernel."""
        ids, texts, df = corpus_df
        ref = substring_pairs_partition_rolling(
            np.array(ids, dtype=np.int64), texts, cfg.substr_min_len,
            cfg.substr_verify, cfg.substr_winnow_window,
        )
        local = set(zip(ref["src"].tolist(), ref["dst"].tolist()))
        assert local  # the planted pairs are found
        assert self._global(df, cfg) == local

    def test_partition_layout_independent(self, spark, cfg, corpus_df):
        _, _, df = corpus_df
        base = self._global(df, cfg)
        for parts in (2, 7, 32):
            assert self._global(df, cfg, repartition=parts) == base, parts

    def test_cross_partition_pairs_found(self, spark, cfg, corpus_df):
        """The global pass must find every planted pair under ANY
        partitioning, not only pairs that share a partition."""
        ids, _, df = corpus_df
        planted = {(ids[i], ids[i + 1]) for i in range(0, 16, 2)}
        got = self._global(df, cfg, repartition=16)
        assert planted <= got

    def test_verify_honored_in_global_scope(self, spark, cfg, corpus_df):
        """cfg.substr_verify=True in the GLOBAL pass ships the min_len-char
        window and joins on (anchor, win) — exact char verification, same
        pairs as the hash-only path on collision-free data."""
        from dataclasses import replace

        ids, _, df = corpus_df
        planted = {(ids[i], ids[i + 1]) for i in range(0, 16, 2)}
        verified = self._global(df, replace(cfg, substr_verify=True), repartition=8)
        assert verified == self._global(df, cfg, repartition=8)
        assert planted <= verified
