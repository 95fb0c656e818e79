"""Hashing/signature kernel unit tests: determinism, value domains, and the
statistical contracts MinHash/SimHash rely on."""

import numpy as np
import pytest

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.functions import hashing as H
from deduplication_challenge_spark.functions.textnorm import shingles
from deduplication_challenge_spark.oracle import xxhash64_str

CFG = DedupConfig()


class TestStableHash:
    def test_deterministic_across_calls(self):
        assert H.hash64("hello") == H.hash64("hello")
        assert H.hash64("hello", seed=1) != H.hash64("hello", seed=2)

    def test_batch_matches_scalar(self):
        words = ["a", "b", "café", ""]
        batch = H.hash64_batch(words, seed=7)
        assert [int(x) for x in batch] == [H.hash64(w, 7) for w in words]


class TestXxhash64Parity:
    """Golden values captured from Spark's F.xxhash64 (seed 42) — keeps the
    oracle's doc_id bit-identical to the engine without a SparkSession."""

    GOLDEN = {
        "https://a.example/1": -3406786403056923766,
        "x": -5636050478767222463,
        "": -7444071767201028348,
        "üñïçødé-path/Ω": -4612440204515801607,
        "a" * 100: -5307276994506690727,
    }

    def test_known_vectors(self):
        for s, expected in self.GOLDEN.items():
            assert xxhash64_str(s) == expected


class TestMinHash:
    def test_signature_deterministic_and_in_range(self):
        a, b = H.minhash_params(CFG.num_perm, CFG.seed, CFG.minhash_prime)
        sh = H.hash64_batch(shingles("the quick brown fox jumps over the lazy dog", 3))
        s1 = H.minhash_signature(sh, a, b, CFG.minhash_prime)
        s2 = H.minhash_signature(sh, a, b, CFG.minhash_prime)
        assert np.array_equal(s1, s2)
        assert s1.shape == (CFG.num_perm,)
        assert s1.min() >= 0 and s1.max() < CFG.minhash_prime

    def test_blocked_reduction_equals_one_matrix(self):
        """A doc with far more shingles than one block: the running min over
        shingle blocks equals the min of the whole (num_perm x m) matrix."""
        a, b = H.minhash_params(CFG.num_perm, CFG.seed, CFG.minhash_prime)
        rng = np.random.Generator(np.random.PCG64(5))
        sh = rng.integers(0, 2**64 - 1, size=7 * H._MINHASH_BLOCK + 3, dtype=np.uint64)
        p = np.uint64(CFG.minhash_prime)
        h = sh % p
        full = ((a[:, None] * h[None, :] + b[:, None]) % p).min(axis=1).astype(np.int64)
        assert np.array_equal(H.minhash_signature(sh, a, b, CFG.minhash_prime), full)

    def test_empty_sentinel(self):
        a, b = H.minhash_params(CFG.num_perm, CFG.seed, CFG.minhash_prime)
        s = H.minhash_signature(np.empty(0, dtype=np.uint64), a, b, CFG.minhash_prime)
        assert (s == CFG.minhash_prime).all()

    def test_estimate_tracks_true_jaccard(self):
        """Statistical contract: |estimate - true J| small at 128 perms."""
        rng = np.random.Generator(np.random.PCG64(0))
        a, b = H.minhash_params(CFG.num_perm, CFG.seed, CFG.minhash_prime)
        universe = rng.integers(0, 2**63, size=400, dtype=np.uint64)
        set_a = universe[:300]
        for overlap in (300, 200, 100):
            set_b = np.concatenate([universe[:overlap], universe[300 : 300 + (300 - overlap)]])
            true_j = overlap / (600 - overlap)
            sa = H.minhash_signature(set_a, a, b, CFG.minhash_prime)
            sb = H.minhash_signature(set_b, a, b, CFG.minhash_prime)
            assert abs(H.estimate_jaccard(sa, sb) - true_j) < 0.15

    def test_band_hashes_shape_and_sensitivity(self):
        a, b = H.minhash_params(CFG.num_perm, CFG.seed, CFG.minhash_prime)
        sh = H.hash64_batch(shingles("one two three four five six", 3))
        sig = H.minhash_signature(sh, a, b, CFG.minhash_prime)
        bh = H.band_hashes(sig, CFG.bands, CFG.rows, CFG.seed)
        assert bh.shape == (CFG.bands,)
        sig2 = sig.copy()
        sig2[0] += 1  # perturb row 0 -> only band 0 changes
        bh2 = H.band_hashes(sig2, CFG.bands, CFG.rows, CFG.seed)
        assert bh2[0] != bh[0]
        assert np.array_equal(bh2[1:], bh[1:])


class TestSimHash:
    def test_identical_inputs_zero_distance(self):
        h = H.hash64_batch(["a", "b", "c", "d", "e"] * 10)
        assert H.hamming_distance(H.simhash64(h), H.simhash64(h)) == 0

    def test_near_inputs_small_distance_far_inputs_large(self):
        base = [f"tok{i}" for i in range(200)]
        near = base[:196] + ["x1", "x2", "x3", "x4"]
        far = [f"other{i}" for i in range(200)]
        s_base = H.simhash64(H.hash64_batch(base))
        s_near = H.simhash64(H.hash64_batch(near))
        s_far = H.simhash64(H.hash64_batch(far))
        assert H.hamming_distance(s_base, s_near) < H.hamming_distance(s_base, s_far)
        assert H.hamming_distance(s_base, s_near) <= 6

    def test_empty_is_zero(self):
        assert H.simhash64(np.empty(0, dtype=np.uint64)) == 0

    def test_chunks_roundtrip(self):
        s = H.simhash64(H.hash64_batch(["x", "y", "z"]))
        chunks = H.hamming_chunks(s, 4)
        assert len(chunks) == 4
        rebuilt = sum(c << (16 * i) for i, c in enumerate(chunks))
        assert rebuilt & 0xFFFFFFFFFFFFFFFF == s & 0xFFFFFFFFFFFFFFFF

    def test_pigeonhole_property(self):
        """Any two sigs within Hamming k share >= one aligned chunk."""
        rng = np.random.Generator(np.random.PCG64(1))
        for _ in range(50):
            s1 = int(rng.integers(0, 2**63))
            flip = rng.choice(64, size=3, replace=False)
            s2 = s1
            for bit in flip:
                s2 ^= 1 << int(bit)
            c1, c2 = H.hamming_chunks(s1, 4), H.hamming_chunks(s2, 4)
            assert any(a == b for a, b in zip(c1, c2))


class TestWinnowing:
    def test_guarantee_shared_window_shared_fingerprint(self):
        rng = np.random.Generator(np.random.PCG64(2))
        shared = rng.integers(0, 2**63, size=30, dtype=np.uint64)
        pre = rng.integers(0, 2**63, size=50, dtype=np.uint64)
        post = rng.integers(0, 2**63, size=50, dtype=np.uint64)
        fp_a = set(H.winnow_fingerprints(np.concatenate([pre, shared]), 8).tolist())
        fp_b = set(H.winnow_fingerprints(np.concatenate([shared, post]), 8).tolist())
        assert fp_a & fp_b

    def test_empty(self):
        assert H.winnow_fingerprints(np.empty(0, dtype=np.uint64)).size == 0
