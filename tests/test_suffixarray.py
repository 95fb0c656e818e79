"""Substring pass tests: the numpy reference kernels (suffix array and
rolling hash), the bounded per-batch anchor kernel, and the global anchor
pass the pipeline runs."""

import tracemalloc

import numpy as np
import pandas as pd
import pytest

from deduplication_challenge_spark.operators import suffixarray as SA
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


def _whole_batch_frame(doc_ids, texts, min_len, window, with_window):
    """The anchor frame from ONE _window_hashes pass over the whole doc list:
    the unbounded formula the piecewise kernel must reproduce row for row."""
    codes, starts, ends = SA._prepare(texts)
    pos, h, owner = SA._window_hashes(codes, starts, ends, min_len, window)
    cols = {"doc_id": doc_ids[owner], "anchor": h.view(np.int64)}
    if with_window:
        cols["win"] = pd.Series(
            [codes[p : p + min_len].tobytes().decode("utf-32-le") for p in pos],
            dtype="object",
        )
    return pd.DataFrame(cols).drop_duplicates()


def _naive_winnow(h, window):
    """Rightmost minimum of every window, one window at a time."""
    m = len(h)
    if m <= window:
        return [max(i for i in range(m) if h[i] == min(h))]
    sel = set()
    for j in range(m - window + 1):
        w = h[j : j + window]
        sel.add(j + max(i for i in range(window) if w[i] == min(w)))
    return sorted(sel)


class TestBoundedAnchorKernel:
    """_doc_anchor_frame hashes a batch in pieces of at most _CHUNK_CHARS
    chars and a long doc in overlapping segments; its rows and their order
    must equal one whole-batch pass, and its memory must not grow with the
    batch or its longest page."""

    MIN_LEN = 12
    W = 8

    @staticmethod
    def _corpus(seed):
        rng = np.random.Generator(np.random.PCG64(seed))
        vocab = ["ab", "abc", "bca", "cab", "xyz", "q", "zzzz"]

        def text(n_words):
            return " ".join(vocab[int(rng.integers(len(vocab)))] for _ in range(n_words))

        texts = [text(int(rng.integers(1, 90))) for _ in range(40)]
        texts += ["short", "", "tiny doc"]  # shorter than min_len
        texts += [text(700), "abc" * 600, "ab" * 10 + "a" * 900]  # > a piece
        texts += [text(int(rng.integers(1, 90))) for _ in range(10)]
        order = rng.permutation(len(texts))
        texts = [texts[i] for i in order]
        ids = rng.choice(10**9, size=len(texts), replace=False).astype(np.int64)
        return ids, texts

    @pytest.mark.parametrize("with_window", [False, True])
    @pytest.mark.parametrize("chunk", [60, 97, 256])
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_equals_whole_batch_pass(self, monkeypatch, seed, chunk, with_window):
        ids, texts = self._corpus(seed)
        monkeypatch.setattr(SA, "_WINNOW_BLOCK", 40)
        ref = _whole_batch_frame(ids, texts, self.MIN_LEN, self.W, with_window)
        monkeypatch.setattr(SA, "_CHUNK_CHARS", chunk)
        segs = SA._segments(texts, self.MIN_LEN, self.W)
        assert any(lo > 0 for _, lo, _ in segs)  # some doc is longer than a piece
        assert len(list(SA._pieces(segs))) > 5  # docs straddle pieces
        got = SA._doc_anchor_frame(ids, texts, self.MIN_LEN, self.W, with_window)
        assert len(ref) > 100
        pd.testing.assert_frame_equal(got, ref)

    @pytest.mark.parametrize("window", [0, 1, 8])
    def test_every_tail_length(self, monkeypatch, window):
        """One long doc per window count past a whole number of segments,
        including tails of fewer than W positions."""
        rng = np.random.Generator(np.random.PCG64(7))
        monkeypatch.setattr(SA, "_CHUNK_CHARS", 64)
        w = max(window, 1)
        step = 64 - (w - 1) - (self.MIN_LEN - 1)
        texts = []
        for k in (1, 2, 3):
            for tail in range(0, w + 3):
                n = k * step + tail + (w - 1) + (self.MIN_LEN - 1)
                texts.append("".join(rng.choice(list("abcab "), size=n)))
        ids = np.arange(len(texts), dtype=np.int64) + 100
        got = SA._doc_anchor_frame(ids, texts, self.MIN_LEN, window)
        ref = _whole_batch_frame(ids, texts, self.MIN_LEN, window, False)
        pd.testing.assert_frame_equal(got, ref)

    @pytest.mark.parametrize("text", [
        "abcabcabcabcabcabcabcabcabcabcabcabcabcabc",  # periodic: tied hashes
        "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
        "abcdefghijklmnopqrstuvwxyz" * 3,
        "abcabcab",  # fewer positions than the window
    ])
    def test_winnow_is_rightmost_minimum(self, monkeypatch, text):
        """Blocked argmin keeps the rightmost minimum of every window, ties
        included."""
        monkeypatch.setattr(SA, "_WINNOW_BLOCK", 24)
        codes, starts, ends = SA._prepare([text])
        pos, h, owner = SA._window_hashes(codes, starts, ends, 4, 0)
        for window in (2, 5, 8, 16):
            got = SA._winnow_positions(h, owner, window).tolist()
            assert got == _naive_winnow(h.tolist(), window)

    def test_memory_bounded_by_piece_not_batch(self):
        """A 2M-char batch holding a 1.2M-char page stays under 32 MB of
        Python allocations; one whole-batch pass takes over 500 MB."""
        rng = np.random.Generator(np.random.PCG64(3))
        vocab = np.array([f"w{i}" for i in range(500)])
        docs = [" ".join(vocab[rng.integers(500, size=250)]) for _ in range(800)]
        page = " ".join(vocab[rng.integers(500, size=300_000)])
        texts = docs[:400] + [page] + docs[400:]
        assert sum(map(len, texts)) >= 2_000_000 and len(page) >= 1_000_000
        ids = np.arange(len(texts), dtype=np.int64)
        tracemalloc.start()
        try:
            frame = SA._doc_anchor_frame(ids, texts, 48, 64)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert len(frame) > 10_000
        assert peak < 32 * 2**20, peak


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
