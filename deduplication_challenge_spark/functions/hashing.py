"""Deterministic hashing + signature kernels (numpy, vectorized).

Shared by the executor-side Arrow UDFs (operators/signatures.py,
entry_queries.q_doc_fingerprints) and the pure-Python test oracle
(deduplication_challenge_spark/oracle.py) — one implementation, identical
signatures everywhere, so pytest goldens are bitwise stable across
partitionings and parallelism levels (SURVEY.md §7.4.3 determinism note).

Design notes
------------
* Shingle/token hashing uses blake2b (C-speed, keyed, seedable via
  ``person``) truncated to 64 bits — stable across processes, unlike
  Python's builtin ``hash``.
* MinHash permutations: universal hashing ``(a*h + b) mod p`` with the
  Mersenne prime p = 2^31 - 1. Shingle hashes are first reduced mod p so the
  product a*h fits in uint64 (31 + 31 = 62 bits) — no 128-bit math needed,
  fully vectorized. 31-bit signature values are ample: collision odds per
  permutation are m/2^31 for m shingles.
* SimHash: 64-bit, unweighted bit votes over token hashes via
  ``np.unpackbits`` (no 64x memory blowup from manual shifting).
* Fingerprints: winnowing (Schleimer et al., SIGMOD 2003) over shingle
  hashes — used by the doc_fingerprints query (entry_queries.py).
"""

from __future__ import annotations

import hashlib

import numpy as np

MERSENNE_31 = np.uint64(2147483647)  # 2^31 - 1
# shingles per MinHash matrix block: (num_perm x block) uint64 is 1 MiB at
# 128 permutations, whatever the doc's length
_MINHASH_BLOCK = 1024


def hash64(s: str, seed: int = 0) -> int:
    """Stable 64-bit hash of a unicode string (int in [0, 2^64))."""
    h = hashlib.blake2b(
        s.encode("utf-8"), digest_size=8, person=seed.to_bytes(8, "little")
    )
    return int.from_bytes(h.digest(), "little")


def hash64_batch(strings: list[str], seed: int = 0) -> np.ndarray:
    """Vector of stable 64-bit hashes, dtype uint64."""
    person = seed.to_bytes(8, "little")
    out = np.empty(len(strings), dtype=np.uint64)
    blake = hashlib.blake2b
    for i, s in enumerate(strings):
        out[i] = int.from_bytes(
            blake(s.encode("utf-8"), digest_size=8, person=person).digest(), "little"
        )
    return out


def minhash_params(num_perm: int, seed: int, prime: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) permutation parameters; a in [1, p), b in [0, p)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, prime, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, prime, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(
    shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray, prime: int
) -> np.ndarray:
    """MinHash signature (num_perm int64 values) of one document, reduced
    over shingle blocks of ``_MINHASH_BLOCK`` so memory does not grow with
    the doc (min is associative: the result equals one full matrix's).

    Empty shingle set -> all values = prime (sentinel that never collides
    with a real signature; such docs never enter LSH, mirroring the
    reference's skip of empty group keys, /root/reference/src/main.py:85-89).
    """
    p = np.uint64(prime)
    h = (shingle_hashes % p).astype(np.uint64)  # (m,)
    # running min over (n, block) = (a[:,None] * h[None,:] + b[:,None]) % p,
    # 62-bit safe in uint64; every value is < p, so p is a neutral start
    # and what an empty shingle set keeps
    sig = np.full(a.shape[0], p, dtype=np.uint64)
    for lo in range(0, h.size, _MINHASH_BLOCK):
        prod = a[:, None] * h[None, lo : lo + _MINHASH_BLOCK]
        prod += b[:, None]
        prod %= p
        np.minimum(sig, prod.min(axis=1), out=sig)
    return sig.astype(np.int64)


def band_hashes(signature: np.ndarray, bands: int, rows: int, seed: int) -> np.ndarray:
    """LSH band keys: blake2b over each band's r contiguous signature values.

    Returns int64[bands]; band index is part of the join key downstream, so
    identical band *values* in different bands never collide.
    """
    sig = np.ascontiguousarray(signature.astype(np.int64)).reshape(bands, rows)
    person = seed.to_bytes(8, "little")
    out = np.empty(bands, dtype=np.int64)
    for i in range(bands):
        d = hashlib.blake2b(sig[i].tobytes(), digest_size=8, person=person).digest()
        out[i] = int.from_bytes(d, "little", signed=True)
    return out


def simhash64(token_hashes: np.ndarray, weights: np.ndarray | None = None) -> int:
    """64-bit SimHash as a signed int64 (Spark LongType-compatible).

    Bit b of the result is 1 iff the (weighted) majority of token hashes have
    bit b set. Empty input -> 0.
    """
    if token_hashes.size == 0:
        return 0
    bytes_view = token_hashes.astype("<u8").view(np.uint8).reshape(-1, 8)
    bits = np.unpackbits(bytes_view, axis=1, bitorder="little")  # (m, 64)
    if weights is None:
        votes = bits.sum(axis=0, dtype=np.int64) * 2 - token_hashes.size
    else:
        w = weights.astype(np.int64)
        votes = (bits * w[:, None]).sum(axis=0) * 2 - w.sum()
    out_bits = (votes > 0).astype(np.uint8)
    packed = np.packbits(out_bits, bitorder="little").tobytes()
    return int.from_bytes(packed, "little", signed=True)


def hamming_chunks(sig: int, n_chunks: int) -> list[int]:
    """Split a 64-bit signature into n equal-width chunks (pigeonhole join
    keys for Hamming distance <= n_chunks - 1; Manku et al., WWW 2007)."""
    u = sig & 0xFFFFFFFFFFFFFFFF
    width = 64 // n_chunks
    mask = (1 << width) - 1
    return [(u >> (i * width)) & mask for i in range(n_chunks)]


def hamming_distance(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def winnow_fingerprints(
    shingle_hashes: np.ndarray, window: int = 8
) -> np.ndarray:
    """Winnowing fingerprint selection: min hash of every sliding window,
    deduplicated, sorted (int64). Guarantees any shared run of
    ``window + k - 1`` tokens yields at least one shared fingerprint."""
    m = shingle_hashes.size
    if m == 0:
        return np.empty(0, dtype=np.int64)
    h = shingle_hashes.astype(np.uint64)
    if m <= window:
        return np.unique(h.min(keepdims=True)).astype(np.int64)
    windows = np.lib.stride_tricks.sliding_window_view(h, window)
    mins = windows.min(axis=1)
    return np.unique(mins).astype(np.int64)


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """MinHash Jaccard estimate: fraction of agreeing signature positions."""
    return float(np.mean(np.asarray(sig_a) == np.asarray(sig_b)))
