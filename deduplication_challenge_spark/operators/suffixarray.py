"""Exact-substring duplicate pass: a global winnowed-anchor equi-join.

Semantics: emit doc pairs that share a verbatim substring of at least
``substr_min_len`` characters (the north_star's "suffix-array pass for exact
substring duplicates"). A suffix array over 100 TB is impractical in pure
PySpark, and a partition-local one would make the output depend on which
docs happen to be co-located. The pass therefore turns each doc into rows
of content-defined anchors and joins them globally:

  1. ``anchor_table``: per doc (``mapInPandas``, all numpy), a 64-bit
     polynomial rolling hash of every ``min_len``-char window, thinned by
     winnowing (Schleimer et al., SIGMOD 2003) to the rightmost minimum of
     every ``substr_winnow_window`` consecutive hashes. The hash is
     position-independent and the selection reads only the doc's own text,
     so two docs sharing a run select identical anchor values in it, in
     any partition or batch. For the same reason a batch is hashed in
     pieces of at most ``_CHUNK_CHARS`` chars, and a longer page in
     overlapping segments, with the rows of one whole-batch pass.
  2. ``substring_pairs_from_anchors``: one equi-join on the anchor value
     (plus the window text when ``substr_verify``), emitting star edges
     per anchor group (min doc_id -> member) through ``lsh.star_edges``,
     the one star rule LSH buckets use too — linear even for a
     boilerplate anchor shared by millions of docs.

Detection is guaranteed for shared runs of at least
``min_len + winnow_window - 1`` chars (111 at the shipped defaults); the
output is independent of partition layout by construction. The pipeline
persists the anchor table as the substring index that plans/incremental.py
joins new batches against.

Two numpy kernels over a whole doc list stay as references: the
rolling-hash kernel (``substring_pairs_partition_rolling``, the oracle's
substring pass, same hash and winnowing as the anchors) and the
suffix-array kernel (``substring_pairs_partition``: prefix-doubling suffix
array, adjacent L-window equality, star edges per equal-window run), which
pins the rolling kernel at ``winnow_window=0`` in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.operators.lsh import star_edges

_SEP = "\x00"


def build_suffix_array(codes: np.ndarray, max_prefix: int | None = None) -> np.ndarray:
    """Suffix array of an integer sequence by prefix doubling.

    ``max_prefix``: stop doubling once suffixes are ordered by their first
    ``max_prefix`` codes. The substring pass only needs equal-``min_len``-
    prefix suffixes to be CONTIGUOUS, which any refinement of the
    first-``min_len``-chars order guarantees — so 6 rounds instead of
    ~log2(n), the dominant cost at bench scale.
    """
    n = codes.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # int32 ranks: partitions are << 2^31 suffixes, and halving the lexsort
    # key width halves the memory bandwidth that dominates this kernel
    rank = codes.astype(np.int32)  # unicode code points < 2^21 fit directly
    order = np.argsort(rank, kind="stable")
    k = 1
    limit = n if max_prefix is None else min(n, max_prefix)
    while k < limit:
        key2 = np.full(n, -1, dtype=np.int32)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        rk, k2 = rank[order], key2[order]
        change = np.empty(n, dtype=np.int32)
        change[0] = 0
        change[1:] = ((rk[1:] != rk[:-1]) | (k2[1:] != k2[:-1])).astype(np.int32)
        new_rank = np.empty(n, dtype=np.int32)
        new_rank[order] = np.cumsum(change, dtype=np.int32)
        rank = new_rank
        if rank[order[-1]] == n - 1:
            break
        k *= 2
    return order


def _window_eq(codes: np.ndarray, pos_sorted: np.ndarray, min_len: int) -> np.ndarray:
    """Exact window-equality of ADJACENT ordered suffixes (chunked compare) —
    also the hash-collision killer for the rolling-hash path."""
    m = pos_sorted.size
    eq = np.empty(max(m - 1, 0), dtype=bool)
    chunk = max(1, 4_000_000 // max(min_len, 1))
    offs = np.arange(min_len, dtype=np.int64)
    for lo in range(0, m - 1, chunk):
        hi = min(lo + chunk, m - 1)
        w1 = codes[pos_sorted[lo:hi, None] + offs]
        w2 = codes[pos_sorted[lo + 1 : hi + 1, None] + offs]
        eq[lo:hi] = (w1 == w2).all(axis=1)
    return eq


def _prepare(texts: list[str]):
    joined = _SEP.join(texts)
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    lengths = np.array([len(t) for t in texts], dtype=np.int64)
    starts = np.zeros(len(texts), dtype=np.int64)
    starts[1:] = np.cumsum(lengths[:-1] + 1)  # +1 for separator
    ends = starts + lengths
    return codes, starts, ends


def substring_pairs_partition(
    doc_ids: np.ndarray, texts: list[str], min_len: int
) -> pd.DataFrame:
    """Suffix-array kernel: the independent reference the rolling-hash
    kernel is differentially tested against (tests/test_suffixarray.py)."""
    if len(texts) < 2:
        return pd.DataFrame({"src": [], "dst": []}, dtype="int64")
    codes, starts, ends = _prepare(texts)

    sa = build_suffix_array(codes, max_prefix=min_len)
    owner_all = np.searchsorted(starts, sa, side="right") - 1
    keep = (ends[owner_all] - sa) >= min_len
    sa, owner = sa[keep], owner_all[keep]
    if sa.size < 2:
        return pd.DataFrame({"src": [], "dst": []}, dtype="int64")
    eq = _window_eq(codes, sa, min_len)
    return _emit_runs_direct(sa, eq, owner, doc_ids)


def _emit_runs_direct(
    pos_sorted: np.ndarray, eq: np.ndarray, owner: np.ndarray, doc_ids: np.ndarray
) -> pd.DataFrame:
    m = pos_sorted.size
    run_id = np.zeros(m, dtype=np.int64)
    run_id[1:] = np.cumsum(~eq)
    df = pd.DataFrame({"run": run_id, "doc": doc_ids[owner]})
    df = df.drop_duplicates()
    sizes = df.groupby("run")["doc"].transform("size")
    df = df[sizes >= 2]
    if df.empty:
        return pd.DataFrame({"src": [], "dst": []}, dtype="int64")
    mins = df.groupby("run")["doc"].transform("min")
    out = pd.DataFrame({"src": mins[df["doc"] != mins], "dst": df["doc"][df["doc"] != mins]})
    return out.drop_duplicates().astype("int64")


_ROLL_B = np.uint64(0x9E3779B97F4A7C15)  # odd -> invertible mod 2^64


def _uint64_inverse(b: np.uint64) -> np.uint64:
    """Multiplicative inverse of an odd number mod 2^64 (Newton iteration)."""
    x = int(b)
    inv = x
    for _ in range(6):
        inv = (inv * (2 - x * inv)) % (1 << 64)
    return np.uint64(inv)


_ROLL_B_INV = _uint64_inverse(_ROLL_B)

# Working-set bounds of the anchor kernel: chars hashed together (a piece),
# and sliding-window elements per winnowing argmin block.
_CHUNK_CHARS = 1 << 16
_WINNOW_BLOCK = 1 << 16


def _winnow_positions(h: np.ndarray, owner: np.ndarray, window: int) -> np.ndarray:
    """Content-defined anchor selection (winnowing, Schleimer et al. SIGMOD
    2003), PER DOC: in every sliding window of `window` consecutive
    position-hashes keep the rightmost minimum. Selection depends only on
    the doc's own content, so two docs sharing a long run select the same
    anchors inside it. Returns indices into h.

    The argmin runs over the sliding-window view in row blocks of at most
    ``_WINNOW_BLOCK`` elements, so a doc of m positions costs O(m) memory
    (its selection), never the m x window copy one argmin would make."""
    keep_idx: list[np.ndarray] = []
    bounds = np.flatnonzero(np.diff(owner)) + 1
    rows = max(1, _WINNOW_BLOCK // window)
    start = 0
    for end in list(bounds) + [owner.size]:
        seg = h[start:end]
        m = seg.size
        if m == 0:
            start = end
            continue
        if m <= window:
            # short doc: single anchor = rightmost min of all its hashes
            rel = m - 1 - int(np.argmin(seg[::-1]))
            keep_idx.append(np.array([start + rel], dtype=np.int64))
        else:
            rev = np.lib.stride_tricks.sliding_window_view(seg, window)[:, ::-1]
            n_win = m - window + 1
            # argmin over the reversed window = distance of the rightmost
            # minimum from the window's end
            back = np.empty(n_win, dtype=np.int64)
            for lo in range(0, n_win, rows):
                back[lo : lo + rows] = np.argmin(rev[lo : lo + rows], axis=1)
            sel = np.unique(np.arange(start + window - 1, start + m) - back)
            keep_idx.append(sel)
        start = end
    return np.concatenate(keep_idx) if keep_idx else np.empty(0, dtype=np.int64)


def _window_hashes(
    codes: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    min_len: int,
    winnow_window: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(pos, h, owner) of every min_len-char window that fits inside its doc,
    winnowed when ``winnow_window > 1``: start offsets into ``codes``, their
    64-bit rolling hashes, and the index of the owning doc.

    Rolling hash in O(n), fully vectorized with uint64 wraparound arithmetic:
    prefix[i] = sum_{j<i} (c[j]+1) * B^j;  H(i, L) = (prefix[i+L] - prefix[i]) * B^-i,
    so H depends only on the window's chars, never on its position.
    Memory is ~70 B per code plus 8 B per window start."""
    # each doc's window starts run over [start, end - min_len]
    counts = np.maximum(ends - starts - min_len + 1, 0)
    owner = np.repeat(np.arange(starts.size), counts)
    pos = np.arange(owner.size, dtype=np.int64)
    pos += np.repeat(starts - (np.cumsum(counts) - counts), counts)
    if pos.size == 0:
        return pos, np.empty(0, dtype=np.uint64), pos
    n = codes.size
    with np.errstate(over="ignore"):
        powers = np.full(n, _ROLL_B, dtype=np.uint64)
        powers[0] = 1
        np.cumprod(powers, out=powers)
        prefix = np.zeros(n + 1, dtype=np.uint64)
        term = codes.astype(np.uint64)
        term += np.uint64(1)
        term *= powers
        np.cumsum(term, out=prefix[1:])
        del term, powers
        inv_powers = np.full(n - min_len + 1, _ROLL_B_INV, dtype=np.uint64)
        inv_powers[0] = 1
        np.cumprod(inv_powers, out=inv_powers)
        # hash of every window start in codes, then the ones inside a doc
        h_all = prefix[min_len:] - prefix[: n + 1 - min_len]
        h_all *= inv_powers
        del prefix, inv_powers
        h = h_all[pos]
        del h_all
    if winnow_window > 1:
        # anchor sampling: ~2/(W+1) of positions survive; any run shared
        # verbatim for >= min_len + W - 1 chars selects >= 1 common anchor
        sel = _winnow_positions(h, owner, winnow_window)
        pos, h, owner = pos[sel], h[sel], owner[sel]
    return pos, h, owner


def substring_pairs_partition_rolling(
    doc_ids: np.ndarray,
    texts: list[str],
    min_len: int,
    verify: bool = False,
    winnow_window: int = 0,
) -> pd.DataFrame:
    """Rolling-hash kernel over one doc list — the oracle's substring pass.

    Identical semantics to the suffix-array kernel: both group suffixes by
    equality of their first ``min_len`` chars (a window of L chars at offset
    i IS suffix i truncated at L). Since the pass only needs equal-window
    suffixes to be CONTIGUOUS — never true lexicographic order — a 64-bit
    polynomial rolling hash per window plus ONE sort replaces ~7 prefix-
    doubling lexsorts, cutting memory traffic ~5x. With ``verify``, hash
    collisions are eliminated exactly by the same adjacent window-equality
    check the SA path uses. With winnowing, every emitted pair still shares
    the full min_len-char anchor.
    """
    if len(texts) < 2:
        return pd.DataFrame({"src": [], "dst": []}, dtype="int64")
    codes, starts, ends = _prepare(texts)
    pos, h, _ = _window_hashes(codes, starts, ends, min_len, winnow_window)
    if pos.size < 2:
        return pd.DataFrame({"src": [], "dst": []}, dtype="int64")

    # hashtable prefilter: a window whose hash occurs once can't be in any
    # run — drop it before the sort (O(n) pandas hashtable, no ordering).
    # In real corpora most positions are unique, so this removes the
    # dominant argsort traffic; equal windows always share a hash, so no
    # run of size >= 2 can lose a member.
    dup_mask = pd.Series(h).duplicated(keep=False).to_numpy()
    pos, h = pos[dup_mask], h[dup_mask]
    if pos.size < 2:
        return pd.DataFrame({"src": [], "dst": []}, dtype="int64")

    order = np.argsort(h, kind="stable")  # equal hashes contiguous; ties in pos order
    pos_sorted = pos[order]
    eq_hash = h[order][1:] == h[order][:-1]
    if not verify:
        # 64-bit polynomial hash equality: collision odds ~2^-64 per adjacent
        # pair. The optional char-level verification below exists for
        # absolute exactness, but its random gathers (min_len*4 bytes per
        # duplicated window) dominate memory traffic on dup-dense corpora —
        # off by default, togglable via DedupConfig.substr_verify.
        eq = eq_hash
    else:
        eq = np.zeros(pos_sorted.size - 1, dtype=bool)
        cand = np.nonzero(eq_hash)[0]
        if cand.size:
            offs = np.arange(min_len, dtype=np.int64)
            chunk = max(1, 4_000_000 // max(min_len, 1))
            for lo in range(0, cand.size, chunk):
                idx = cand[lo : lo + chunk]
                w1 = codes[pos_sorted[idx, None] + offs]
                w2 = codes[pos_sorted[idx + 1, None] + offs]
                eq[idx] = (w1 == w2).all(axis=1)
    owner = np.searchsorted(starts, pos_sorted, side="right") - 1
    return _emit_runs_direct(pos_sorted, eq, owner, doc_ids)


def _segments(texts: list[str], min_len: int, window: int) -> list[tuple[int, int, int]]:
    """(doc index, first char, end char) of the text spans the anchor kernel
    hashes, in doc order: a doc whole when it fits in a piece, else in
    segments of at most ``_CHUNK_CHARS`` chars. A doc's segments own
    consecutive runs of its winnowing windows, and each carries the
    ``window - 1`` positions and ``min_len - 1`` chars its last window reads
    past its run, so consecutive segments overlap by ``window - 1`` positions
    and together see every window once. Docs shorter than ``min_len`` have
    no window and no segment."""
    step = max(_CHUNK_CHARS - (window - 1) - (min_len - 1), 1)
    segs = []
    for d, text in enumerate(texts):
        if len(text) < min_len:
            continue
        n_win = len(text) - min_len + 1 - (window - 1)
        if n_win <= step:
            segs.append((d, 0, len(text)))
        else:
            segs.extend(
                (d, lo, min(lo + step, n_win) + window + min_len - 2)
                for lo in range(0, n_win, step)
            )
    return segs


def _pieces(segs: list[tuple[int, int, int]]) -> Iterator[list[tuple[int, int, int]]]:
    """Consecutive segments, grouped so each group's joined text (one
    separator between segments) is at most ``_CHUNK_CHARS`` chars."""
    piece: list[tuple[int, int, int]] = []
    chars = 0
    for seg in segs:
        if piece and chars + seg[2] - seg[1] > _CHUNK_CHARS:
            yield piece
            piece, chars = [], 0
        piece.append(seg)
        chars += seg[2] - seg[1] + 1
    if piece:
        yield piece


def _piece_anchors(
    texts: list[str], piece: list[tuple[int, int, int]], min_len: int, winnow_window: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc index, position in the doc, hash) of one piece's winnowed windows."""
    seg_doc, seg_lo = (np.array(c, dtype=np.int64) for c in list(zip(*piece))[:2])
    codes, starts, ends = _prepare([texts[d][lo:hi] for d, lo, hi in piece])
    pos, h, owner = _window_hashes(codes, starts, ends, min_len, winnow_window)
    return seg_doc[owner], pos - starts[owner] + seg_lo[owner], h


def _doc_anchor_frame(
    doc_ids: np.ndarray,
    texts: list[str],
    min_len: int,
    winnow_window: int,
    with_window: bool = False,
) -> pd.DataFrame:
    """Per-doc winnowed anchor hashes -> (doc_id, anchor) rows, deduped per
    doc.  The rolling hash is position-independent (H = sum (c_j+1)*B^j over
    the window), and winnowing selects by the doc's OWN content only — so a
    verbatim run shared by two docs yields identical anchor values no matter
    which partition or batch either doc sits in.  This is what makes the
    global (cross-partition) substring pass a plain equi-join.

    ``with_window=True`` (cfg.substr_verify) additionally ships the
    min_len-char window text under each anchor, so the join key becomes
    (anchor, win) — exact char-level verification through the shuffle at
    ~min_len bytes extra per anchor.

    Memory is bounded whatever the batch or page size: docs are hashed in
    pieces of at most ``_CHUNK_CHARS`` chars (~5 MB of numpy working set at
    64 Ki), a longer doc in overlapping segments whose selections are
    unioned, and winnowing argmins run in blocks of ``_WINNOW_BLOCK``
    elements. Beyond that the call holds only its output, ~2/(W+1) of the
    batch's positions. Rows and their order equal those of one
    ``_window_hashes`` pass over the whole batch."""
    segs = _segments(texts, min_len, max(winnow_window, 1))
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.uint64))]
    parts += [_piece_anchors(texts, piece, min_len, winnow_window) for piece in _pieces(segs)]
    doc, pos, h = map(np.concatenate, zip(*parts))
    del parts
    if any(lo for _, lo, _ in segs):
        # overlapping segments of a long doc select some positions twice:
        # union them, in (doc, position) order
        lengths = np.array([len(t) for t in texts], dtype=np.int64)
        _, first = np.unique(np.cumsum(lengths)[doc] - lengths[doc] + pos, return_index=True)
        doc, pos, h = doc[first], pos[first], h[first]
    cols = {"doc_id": doc_ids[doc], "anchor": h.view(np.int64)}
    if with_window:
        cols["win"] = pd.Series(
            [texts[d][p : p + min_len] for d, p in zip(doc.tolist(), pos.tolist())],
            dtype="object",
        )
    return pd.DataFrame(cols).drop_duplicates()


def anchor_join_key(cfg: DedupConfig) -> list[str]:
    """The anchor equi-join key: hash only, or (hash, window text) when
    cfg.substr_verify ships char-level verification through the shuffle."""
    return ["anchor", "win"] if cfg.substr_verify else ["anchor"]


def anchor_table(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(doc_id, text) -> (doc_id, anchor[, win]) winnowed anchor rows.

    This is the PERSISTABLE substring index: anchors are position- and
    partition-independent functions of each doc's own content, so a stored
    anchor table equi-joins against any future batch's anchors — the delta
    substring pass (plans/incremental.py) is exactly that join."""
    min_len = cfg.substr_min_len
    winnow = cfg.substr_winnow_window
    with_window = cfg.substr_verify
    sel = docs.select("doc_id", "text").where(F.length("text") >= min_len)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _doc_anchor_frame(
                    pdf["doc_id"].to_numpy(), pdf["text"].fillna("").tolist(),
                    min_len, winnow, with_window,
                )

    schema = "doc_id long, anchor long" + (", win string" if with_window else "")
    return sel.mapInPandas(gen, schema=schema)


def substring_pairs_from_anchors(anchors: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Anchor table -> star edges (min doc per anchor group -> members),
    by the same ``lsh.star_edges`` rule as the LSH band buckets."""
    return star_edges(anchors, anchor_join_key(cfg))


def substring_pairs_global(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """GLOBAL exact-substring pass: per-doc winnowed anchor hashes as rows,
    one equi-join on the anchor value — cross-partition pairs found with no
    co-location requirement, and the output is partition-layout-independent
    by construction (no pinned partition count needed for determinism).

    Guarantee (winnowing, Schleimer SIGMOD'03): two docs sharing a verbatim
    run >= min_len + winnow_window - 1 chars select at least one common
    anchor inside it.  Edges are star edges per anchor group (min doc_id ->
    member, ``lsh.star_edges``), linear in group size — a boilerplate
    anchor shared by millions of docs can never go quadratic.
    Pairing is by 64-bit hash equality (collision odds ~2^-64 per anchor);
    with cfg.substr_verify=True the min_len-char window text rides along
    and the join key becomes (anchor, win) — exact char-level verification
    (the Python oracle honors the same flag), at ~min_len extra chars per
    shuffled anchor.

    Scale note: the anchor shuffle is ~2/(winnow_window+1) x corpus
    positions x 16 bytes (+~min_len chars when substr_verify);
    winnow_window is the shuffle-size vs detection-floor knob (W=16 ->
    ~12% of positions; W=64 -> ~3% with a min_len+63-char floor; W=128 ->
    ~1.5% with a min_len+127-char floor). A Python worker's memory per
    Arrow batch is fixed by ``_CHUNK_CHARS``, not by the batch or its
    longest page: ~5 MB of hashing working set plus the batch's anchor rows
    (``_doc_anchor_frame``)."""
    # lazy checkpoint: anchors feeds BOTH the mins aggregate and the join
    # probe side — without it the corpus is re-hashed and re-winnowed twice
    # (two MapInPandas nodes in the executed plan), doubling the dominant
    # cost of the substring pass
    from deduplication_challenge_spark.plans.checkpointing import stage_checkpoint

    anchors = stage_checkpoint(anchor_table(docs, cfg), cfg)
    return substring_pairs_from_anchors(anchors, cfg)
