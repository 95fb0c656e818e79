"""Pure-Python oracle pipeline for pytest goldens.

Runs the ENTIRE dedup pipeline — extraction, shingles, MinHash, LSH star
edges, Jaccard verification, SimHash Hamming pairs, (optional) global
substring pass, connected components (union-find), consolidation — in plain
Python/pandas on the driver, reusing the exact same kernels the Spark
operators use (functions/textnorm.py, functions/hashing.py,
operators/consolidate.consolidate_cluster_pdf,
operators/suffixarray.substring_pairs_partition_rolling).

Because edge-generation rules are pinned identically on both sides (star
edges per LSH bucket, Hamming <= k via pigeonhole, same thresholds), the
Spark pipeline must reproduce the oracle's cluster assignments exactly —
the dup-pair recall >= 0.99 gate (BASELINE.json) is then checked against
these assignments by tests/test_recall_midscale.py::test_recall_ge_099.
Test-scale only: the oracle is O(n * num_perm) in memory and
single-threaded by design (it mirrors the
reference's single-process execution model, /root/reference/src/main.py).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.functions import hashing as H
from deduplication_challenge_spark.functions.textnorm import extract_text, shingles, tokenize
from deduplication_challenge_spark.operators.consolidate import consolidate_cluster_pdf
from deduplication_challenge_spark.operators.suffixarray import (
    substring_pairs_partition_rolling,
)


# --- minimal xxHash64 (seed 42, Spark's default) -------------------------
# so the oracle's doc_id matches F.xxhash64(col('url')) bit-for-bit without
# needing a SparkSession on the driver.
_PRIME1 = 0x9E3779B185EBCA87
_PRIME2 = 0xC2B2AE3D27D4EB4F
_PRIME3 = 0x165667B19E3779F9
_PRIME4 = 0x85EBCA77C2B2AE63
_PRIME5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _PRIME2) & _M
    acc = _rotl(acc, 31)
    return (acc * _PRIME1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _PRIME1) + _PRIME4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """xxHash64 (as Spark's F.xxhash64 applies to binary/string input),
    returned as signed int64."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _PRIME1 + _PRIME2) & _M
        v2 = (seed + _PRIME2) & _M
        v3 = seed & _M
        v4 = (seed - _PRIME1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _PRIME5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _PRIME1) + _PRIME4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _PRIME1) & _M
        h = ((_rotl(h, 23) * _PRIME2) + _PRIME3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _PRIME5) & _M
        h = (_rotl(h, 11) * _PRIME1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _PRIME2) & _M
    h ^= h >> 29
    h = (h * _PRIME3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_str(s: str, seed: int = 42) -> int:
    return xxhash64(s.encode("utf-8"), seed)


# --- union-find -----------------------------------------------------------
class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # root = min, matching CC's min-id cluster labels
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


@dataclass
class OracleResult:
    docs: pd.DataFrame = field(default_factory=pd.DataFrame)
    signatures: dict = field(default_factory=dict)       # doc_id -> np sig
    lsh_edges: set = field(default_factory=set)          # verified
    simhash_edges: set = field(default_factory=set)
    substring_edges: set = field(default_factory=set)
    assignments: dict = field(default_factory=dict)      # doc_id -> cluster_id
    canonical: pd.DataFrame = field(default_factory=pd.DataFrame)
    counters: dict = field(default_factory=dict)


def run_oracle(
    pages: list[dict],
    cfg: DedupConfig,
    include_substring: bool = True,
) -> OracleResult:
    """pages: list of dicts (url, warc_ts, html, text, lang)."""
    res = OracleResult()
    if cfg.url_dedup:
        # mirror of operators/urlnorm.dedup_by_url: first-seen page per
        # canonical url, earliest (warc_ts, url) wins
        import datetime as _dt

        from deduplication_challenge_spark.operators.urlnorm import canonical_url_py

        _epoch = _dt.datetime(1970, 1, 1)  # mirror of urlnorm._NULL_TS

        def _key(p: dict):
            return (p["warc_ts"] or _epoch, p["url"] or "")

        def _canon(p: dict) -> str:
            return canonical_url_py(p["url"]) if p["url"] else "\x00null-url"

        # two passes: elect the min key per group, then keep EVERY row tying
        # on it — dedup_by_url's equi-filter keeps all exact (ts, url) ties
        # (re-crawls of one url at one instant; exact dedup collapses
        # identical content downstream), so the mirror must too
        best: dict[str, tuple] = {}
        for p in pages:
            k = _key(p)
            if _canon(p) not in best or k < best[_canon(p)]:
                best[_canon(p)] = k
        pages = [p for p in pages if _key(p) == best[_canon(p)]]
    rows = []
    for p in pages:
        text = extract_text(p["html"])
        rows.append(
            {
                # null url normalizes to '' BEFORE hashing — the pinned
                # ingest policy (doc_id must never be null)
                "doc_id": xxhash64_str(p["url"] or ""),
                "url": p["url"] or "",
                "warc_ts": p["warc_ts"],
                "text": text,
                "lang": p["lang"] or "",  # null policy pinned in operators/ingest.py
            }
        )
    if cfg.line_dedup_min_docs:
        # mirror of operators/linededup.dedup_lines(mode='remove'): lines in
        # >= min_docs DISTINCT docs removed from every doc before signatures
        df_count: dict[str, set[int]] = defaultdict(set)
        split_lines = []
        for r in rows:
            lines = [ln for ln in r["text"].split("\n\n") if ln]
            split_lines.append(lines)
            for ln in set(lines):
                df_count[ln].add(r["doc_id"])
        hot = {ln for ln, ds in df_count.items() if len(ds) >= cfg.line_dedup_min_docs}
        for r, lines in zip(rows, split_lines):
            r["text"] = "\n\n".join(ln for ln in lines if ln not in hot)

    # empty input: a column-less pd.DataFrame([]) would KeyError downstream;
    # pin the empty result explicitly (mirrors the pipeline's empty-table
    # behavior tested in tests/test_spark_pipeline.py TestDegenerateInputs)
    _cols = ["doc_id", "url", "warc_ts", "text", "lang"]
    docs = pd.DataFrame(rows, columns=_cols) if not rows else pd.DataFrame(rows)
    res.docs = docs
    if not rows:
        res.canonical = pd.DataFrame()
        return res
    a, b = H.minhash_params(cfg.num_perm, cfg.seed, cfg.minhash_prime)

    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    simhashes: dict[int, int] = {}
    for r in rows:
        sh = shingles(r["text"], cfg.shingle_k)
        sh_hashes = H.hash64_batch(sh, seed=cfg.seed)
        sig = H.minhash_signature(sh_hashes, a, b, cfg.minhash_prime)
        res.signatures[r["doc_id"]] = sig
        if len(sh) > 0:
            for band_idx, bh in enumerate(H.band_hashes(sig, cfg.bands, cfg.rows, cfg.seed)):
                buckets[(band_idx, int(bh))].append(r["doc_id"])
            simhashes[r["doc_id"]] = H.simhash64(
                H.hash64_batch(tokenize(r["text"]), seed=cfg.seed)
            )

    # LSH star edges + Jaccard verification (identical rule to operators/lsh.py)
    candidates: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        root = min(members)
        for m in members:
            if m != root:
                candidates.add((root, m))
    res.counters["lsh_candidates"] = len(candidates)
    for src, dst in candidates:
        if H.estimate_jaccard(res.signatures[src], res.signatures[dst]) >= cfg.jaccard_threshold:
            res.lsh_edges.add((src, dst))

    # SimHash permute-and-sort (identical pinned rule to operators/simhash.py):
    # per (chunk_idx, chunk_val) bucket, sort by (simhash, doc_id); compare
    # each doc to its `simhash_window` predecessors; accept Hamming <= k.
    # Buckets above simhash_hot_threshold are sub-split into 2^split_bits
    # ranges of the sign-flipped simhash sort order (_salted_chunks mirror).
    n_chunks = cfg.hamming_k + 1
    chunk_buckets: dict[tuple[int, int], list[tuple[int, int]]] = defaultdict(list)
    for doc_id, sh_val in simhashes.items():
        for idx, val in enumerate(H.hamming_chunks(sh_val, n_chunks)):
            chunk_buckets[(idx, val)].append((sh_val, doc_id))
    split_buckets: list[list[tuple[int, int]]] = []
    for members in chunk_buckets.values():
        if len(members) > cfg.simhash_hot_threshold:
            by_salt: dict[int, list[tuple[int, int]]] = defaultdict(list)
            for sh_val, doc_id in members:
                flipped = (sh_val & 0xFFFFFFFFFFFFFFFF) ^ 0x8000000000000000
                by_salt[flipped >> (64 - cfg.simhash_split_bits)].append((sh_val, doc_id))
            split_buckets.extend(by_salt.values())
        else:
            split_buckets.append(members)
    for members in split_buckets:
        members.sort()
        for j in range(1, len(members)):
            for i in range(max(0, j - cfg.simhash_window), j):
                if H.hamming_distance(members[i][0], members[j][0]) <= cfg.hamming_k:
                    # NOT a/b: those are the live MinHash permutation params
                    d1, d2 = members[i][1], members[j][1]
                    res.simhash_edges.add((min(d1, d2), max(d1, d2)))

    # substring pass: the rolling kernel over the whole corpus — the same
    # hash, winnowing and verify knob as the engine's global anchor join
    if include_substring:
        sub = substring_pairs_partition_rolling(
            docs["doc_id"].to_numpy(),
            docs["text"].fillna("").tolist(),
            cfg.substr_min_len,
            cfg.substr_verify,
            cfg.substr_winnow_window,
        )
        res.substring_edges = set(zip(sub["src"].tolist(), sub["dst"].tolist()))

    uf = UnionFind()
    for src, dst in res.lsh_edges | res.simhash_edges | res.substring_edges:
        uf.union(src, dst)
    res.assignments = {
        int(d): uf.find(int(d)) for d in docs["doc_id"].tolist()
    }

    # consolidation via the SAME kernel as Spark's applyInPandas
    docs2 = docs.copy()
    docs2["cluster_id"] = docs2["doc_id"].map(res.assignments)
    outs = []
    for _, grp in docs2.groupby("cluster_id"):
        outs.append(consolidate_cluster_pdf(grp))
    res.canonical = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()
    return res
