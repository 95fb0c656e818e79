"""Similarity search over embedding columns (array<float>).

Three paths per the north-rule training-data ops:
  * brute-force cosine top-k — exact baseline, expressed entirely with
    JVM-side higher-order functions (zip_with/aggregate — no UDF, stays in
    whole-stage codegen) against a BROADCAST query set;
  * random-hyperplane LSH (SimHash-for-vectors, Charikar STOC'02) — a
    scale path: bucket vectors by sign-bit keys, search only within the
    query's bucket (plus optional multi-probe), exact re-rank inside;
  * IVF (inverted-file coarse quantizer, the FAISS IVF design) — the
    second scale path: deterministic spherical k-means lists, query probes
    its n_probes nearest lists, exact re-rank inside.

Determinism: hyperplanes from the seeded PCG64 generator; ties in top-k
break on (rounded -sim, vec_id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _exact_topk(joined: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of candidate (query, vector) rows: cosine from the
    pre-computed norms, then the top ``k`` per query, ties broken on
    vec_id -> (query_id, vec_id, cosine, rank)."""
    sim = _dot(F.col("embedding"), F.col("q_emb")) / (F.col("e_norm") * F.col("q_norm"))
    scored = joined.select("query_id", "vec_id", F.round(sim, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _candidate_stats(joined: DataFrame, embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """One row (n_candidates, n_possible, candidate_fraction) for an ANN
    candidate join — the no-silent-caps surface for the probe/recall
    trade."""
    # the join excludes self-matches (vec_id != query_id), so in-corpus
    # queries each lose one possible candidate — subtract the overlap or
    # candidate_fraction can never reach 1.0 even at brute-force coverage
    overlap = queries.select("vec_id").join(
        embeddings.select("vec_id"), "vec_id", "left_semi"
    ).agg(F.count("*").alias("_o"))
    denom = F.col("_n") * F.col("_q") - F.col("_o")
    return (
        joined.agg(F.count("*").alias("n_candidates"))
        .crossJoin(embeddings.agg(F.count("*").alias("_n")))
        .crossJoin(queries.agg(F.count("*").alias("_q")))
        .crossJoin(overlap)
        .select(
            "n_candidates",
            denom.cast("long").alias("n_possible"),
            F.round(F.col("n_candidates") / denom, 4).alias("candidate_fraction"),
        )
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """(vec_id, embedding) x (query_id, embedding) -> top-k neighbors per
    query by cosine, excluding self-matches on id.

    queries must be small (it is broadcast); embeddings side streams through
    codegen — one pass, no shuffle until the per-query top-k window.
    """
    # norms PRE-computed per row (N + Q evaluations of the O(dim) HOF), not
    # per joined pair (N*Q each) — the pair expression is then one dot and
    # one division
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    e = embeddings.withColumn("e_norm", _norm(F.col("embedding")))
    joined = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    return _exact_topk(joined, k)


#: per-executor cache of deterministic hyperplane matrices — planes depend
#: only on (dim, n_planes, n_tables, seed), and dim is read off the first
#: Arrow batch, so NO driver-side metadata job (`.first()`) is ever needed
#: to build buckets (every executor derives the identical matrix).
_PLANES_CACHE: dict[tuple[int, int, int, int], np.ndarray] = {}


def _planes_for(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(dim, n_tables*n_planes) hyperplane matrix; table t's block uses seed
    ``seed + 1000*t`` so multi-table results equal t independent tables."""
    key = (dim, n_planes, n_tables, seed)
    mat = _PLANES_CACHE.get(key)
    if mat is None:
        mat = np.concatenate(
            [
                np.random.Generator(np.random.PCG64(seed + 1000 * t)).standard_normal(
                    (dim, n_planes)
                )
                for t in range(n_tables)
            ],
            axis=1,
        )
        _PLANES_CACHE[key] = mat
    return mat


def cosine_near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    n_probes: int = 0,
    with_stats: bool = False,
):
    """Bucketed embedding near-dup pairs: candidates are pairs sharing a
    hyperplane bucket in ANY of ``n_tables`` seeded tables (OR of ANDs);
    exact cosine verification keeps pairs >= threshold.  Output schema and
    row semantics match the exact cross-join query (vec_id_a < vec_id_b,
    cosine rounded 6dp) minus LSH misses — recall vs the exact pairs is
    gated in tests/test_similarity.py.

    Regime note (honest scaling claim): bucket-equality LSH prunes
    aggressively only in the high-cosine regime (near-dup embeddings,
    cos >= ~0.9, where 16 planes x 4 tables give >90% recall while scanning
    a tiny candidate fraction — the planted test pins this).  At low
    thresholds like 0.35 (angle ~70 deg) the sign-bit collision probability
    is ~0.61, so few planes and many tables are needed for recall and the
    candidate fraction stays large; use the brute-force baseline there, or
    raise the threshold.  Candidate generation is id-pairs only — embeddings
    join back AFTER cross-table dedup, so vectors never ride through the
    union/distinct shuffle.

    ``n_probes`` adds multiprobe recall (same kernel as cosine_topk_lsh):
    each vector ADDITIONALLY probes the buckets reached by flipping its
    lowest-margin plane bits, and a pair is a candidate when either member's
    probe set hits the other's BASE bucket — probing widens the join's probe
    side only, the stored (base) side stays one row per (vec, table).  The
    pinned driver config (5 planes x 12 tables, 1 probe) measures 0.978
    recall of the exact >= 0.35 pairs at sf0.01 (0.86 at 4x12 without
    probes); embedding_lsh_missed_pairs keeps it driver-visible.

    ``with_stats=True`` -> (result, stats_df): one row (n_candidates,
    n_possible, candidate_fraction) over the deduped candidate id-pairs."""
    emb = embeddings.select("vec_id", "embedding")
    # one plane matrix for ALL tables (identical per-table seeds to the
    # single-table generator, so recall numbers are reproducible), one Arrow
    # pass computing every table's bucket.
    # SAME bucketing kernel as the top-k path (_table_buckets_udf) so the
    # two paths can never drift for identical (n_planes, n_tables, seed)
    buckets_udf = _table_buckets_udf(n_planes, n_tables, seed, n_probes)

    # Physical design (optimization-round rewrite; same output, measured
    # 613.9s -> see OPTIMIZATION_r06.md): in the low-threshold regime the
    # candidate fraction is LARGE (0.80 of all pairs at 20k driver vectors),
    # so the former id-pair materialization — explode buckets -> self-join
    # -> distinct (~1.6e8 pairs) -> TWO joins re-attaching the embedding
    # arrays -> per-pair Arrow verification — shuffled the vector payload
    # once per candidate pair (tens of GB).  Instead, each embedding now
    # rides to its (tbl, bucket) groups ONCE (1 + n_probes entries per
    # table, ~hundreds of MB total) and verification happens INSIDE the
    # bucket with one blocked float64 GEMM per group; only pairs already
    # >= threshold (a ~0.2% fraction) leave the kernel, and a tiny
    # pair-level dedup replaces the 1.6e8-row distinct.  The candidate set
    # is never materialized.  Semantics are unchanged: a pair is a
    # candidate iff it shares a (tbl, bucket) with at least one side in its
    # BASE bucket (probe-vs-base, either direction) — inside a group that
    # is exactly "not both probe-only" — and the cosine formula, rounding
    # (Spark-side round(…, 6)) and NaN/zero-norm handling are identical.
    b = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(buckets_udf("embedding")).alias("pos", "bucket"),
    ).select(
        "vec_id",
        "embedding",
        (F.col("pos") / (1 + n_probes)).cast("int").alias("tbl"),
        (F.col("pos") % (1 + n_probes) == 0).alias("is_base"),
        "bucket",
    )
    if with_stats:
        # the stats contract needs the DEDUPED candidate-pair count, which
        # the verification kernel deliberately never materializes — derive
        # it from the same bucket table (id columns only; the checkpoint
        # shares the one Arrow bucketing pass between both consumers)
        b = b.localCheckpoint(eager=False)

    # kernel pre-filter: strictly below any value Spark's round(x, 6) could
    # lift to >= threshold (grid point - 5e-7), so the Spark-side exact
    # filter below remains the semantic gate and the kernel only bounds the
    # emitted volume
    pre_threshold = threshold - 1e-6

    def _verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = {
            "vec_id_a": np.empty(0, dtype=np.int64),
            "vec_id_b": np.empty(0, dtype=np.int64),
            "cosine": np.empty(0, dtype=np.float64),
        }
        if m < 2:
            return pd.DataFrame(empty)
        ids = pdf["vec_id"].to_numpy()
        base = pdf["is_base"].to_numpy().astype(bool)
        base_pos = np.flatnonzero(base)
        if base_pos.size == 0:
            return pd.DataFrame(empty)
        M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        # a qualifying pair has >= 1 BASE side, so the GEMM is all-rows x
        # base-rows (~1/(1+n_probes) of the full m x m flops); base-base
        # pairs appear in both orientations and keep only pos(i) > pos(j)
        Mb = M[base_pos]
        ids_b = ids[base_pos]
        norms_b = norms[base_pos]
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        # block rows so the (blk, mb) GEMM output stays ~32 MB of float64
        blk = max(1, 4_000_000 // base_pos.size)
        for i0 in range(0, m, blk):
            i1 = min(i0 + blk, m)
            G = M[i0:i1] @ Mb.T
            denom = norms[i0:i1, None] * norms_b[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / denom
            rows = np.arange(i0, i1)
            sel = (
                (ids[i0:i1, None] != ids_b[None, :])  # no self pairs
                # base-base pairs once; probe-base rows carry the only
                # orientation of their pair, so they always pass
                & (~base[i0:i1, None] | (rows[:, None] > base_pos[None, :]))
                & (denom > 0)  # zero-norm -> excluded (NaN parity)
                & (C >= pre_threshold)
            )
            ii, jj = np.nonzero(sel)
            if len(ii):
                ia = ids[i0 + ii]
                ib = ids_b[jj]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_c.append(C[ii, jj])
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "vec_id_a": np.concatenate(out_a),
                "vec_id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    verified = b.groupBy("tbl", "bucket").applyInPandas(
        _verify_bucket, schema="vec_id_a long, vec_id_b long, cosine double"
    )
    result = (
        # a pair verifies in every qualifying bucket; the per-bucket GEMM
        # values agree to float64 rounding — max is a deterministic pick
        verified.groupBy("vec_id_a", "vec_id_b")
        .agg(F.max("cosine").alias("_cos"))
        .withColumn("cosine", F.round(F.col("_cos"), 6))
        # zero-norm pairs never reach here (kernel denom guard), but keep
        # the documented NaN parity with the exact baseline explicit
        .where((F.col("cosine") >= threshold) & ~F.isnan("cosine"))
        .select("vec_id_a", "vec_id_b", "cosine")
    )
    if not with_stats:
        return result
    probe_side = b.select("tbl", "bucket", F.col("vec_id").alias("vec_id_a"))
    base_side = b.where("is_base").select(
        "tbl", "bucket", F.col("vec_id").alias("vec_id_b")
    )
    cand = (
        probe_side.join(base_side, ["tbl", "bucket"])
        .where(F.col("vec_id_a") != F.col("vec_id_b"))
        .select(
            F.least("vec_id_a", "vec_id_b").alias("vec_id_a"),
            F.greatest("vec_id_a", "vec_id_b").alias("vec_id_b"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    stats = (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(emb.agg(F.count("*").alias("_n")))
        .select(
            "n_candidates",
            (F.col("_n") * (F.col("_n") - 1) / 2).cast("long").alias("n_possible"),
            F.round(
                F.col("n_candidates") / (F.col("_n") * (F.col("_n") - 1) / 2), 4
            ).alias("candidate_fraction"),
        )
    )
    return result, stats


def _table_buckets_udf(n_planes: int, n_tables: int, seed: int, n_probes: int = 0):
    """array<long> pandas UDF: every table's hyperplane bucket per row —
    one Arrow pass, one (n, dim) @ (dim, T*P) matmul (shared between the
    pair and top-k paths; planes derived from the batch width, no metadata
    job).

    ``n_probes > 0`` adds MULTIPROBE buckets (Lv et al., VLDB'07, applied
    to sign-bit hyperplane LSH): per table, the p-th probe flips the plane
    bit with the p-th SMALLEST dot-product magnitude — the bits most likely
    to differ for a true near neighbor sitting close to a hyperplane.  The
    output is table-major, ``1 + n_probes`` entries per table
    (``tbl = pos // (1 + n_probes)`` after posexplode), base bucket first.
    Probing multiplies query-side bucket rows, never the stored index."""
    if not (0 <= n_probes < n_planes):
        raise ValueError(
            f"n_probes must be in 0..n_planes-1 ({n_planes - 1}), got {n_probes}"
        )
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets_udf(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack(col.to_numpy()).astype(np.float64)
        planes = _planes_for(mat.shape[1], n_planes, n_tables, seed)
        scores = mat @ planes
        bits = scores > 0
        bk = bits.reshape(len(mat), n_tables, n_planes) @ weights
        if n_probes == 0:
            return pd.Series(list(bk))
        marg = np.abs(scores).reshape(len(mat), n_tables, n_planes)
        order = np.argsort(marg, axis=2)
        probed = np.stack(
            [bk]
            + [bk ^ (1 << order[:, :, p]).astype(np.int64) for p in range(n_probes)],
            axis=2,
        )  # (n, T, 1+n_probes), base first
        return pd.Series(list(probed.reshape(len(mat), n_tables * (1 + n_probes))))

    return buckets_udf


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 16,
    seed: int = 42,
    n_tables: int = 1,
    n_probes: int = 0,
    with_stats: bool = False,
):
    """ANN top-k: candidates = rows sharing any of the query's (multi-)probe
    hyperplane buckets in ANY of ``n_tables`` seeded tables (OR of ANDs —
    the same multi-table scheme as cosine_near_dup_pairs_lsh), exact cosine
    re-rank inside.

    ``n_probes`` flips the query's lowest-margin plane bits (one at a time)
    per table — the multiprobe recall lever: extra buckets are probed on the
    QUERY side only, so the stored index never grows and the candidate set
    scales with n_probes, not with another table's full build.  Recall < 1
    by construction (documented approximation): per-table collision
    probability for angle theta is (1-theta/pi)^n_planes.  The pinned driver
    config (5 planes x 12 tables, 2 probes) measures 1.00 top-3 recall at a
    0.69 candidate fraction on the sf0.01 embeddings (0.80 / 0.34 without
    probes — the 0.35-threshold regime is documented as LSH-hostile; the
    fraction shrinks as the corpus outgrows the neighborhood radius) — the
    ann_topk_lsh_missed query keeps the recall driver-visible.

    ``with_stats=True`` -> (result, stats_df) where stats_df is one row
    (n_candidates, n_possible, candidate_fraction) — the no-silent-caps
    surface for the probe/recall trade."""
    base_udf = _table_buckets_udf(n_planes, n_tables, seed)
    probe_udf = _table_buckets_udf(n_planes, n_tables, seed, n_probes)
    # norms and buckets computed ONCE per input row (project), THEN exploded
    # — a single-select generator would re-evaluate the O(dim) expressions
    # per generated table row
    emb_b = embeddings.select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("e_norm"),
        base_udf("embedding").alias("_bks"),
    ).select(
        "vec_id", "embedding", "e_norm", F.posexplode("_bks").alias("tbl", "bucket")
    )
    q_b = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
        probe_udf("embedding").alias("_bks"),
    ).select(
        "query_id",
        "q_emb",
        "q_norm",
        F.posexplode("_bks").alias("pos", "bucket"),
    ).select(
        "query_id",
        "q_emb",
        "q_norm",
        (F.col("pos") / (1 + n_probes)).cast("int").alias("tbl"),
        "bucket",
    )
    joined = (
        emb_b.join(F.broadcast(q_b), ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        # a pair co-bucketing in several tables/probes must be scored once
        .dropDuplicates(["query_id", "vec_id"])
    )
    if with_stats:
        # the candidate subtree feeds the re-rank AND the stats aggregate —
        # share one materialization instead of bucketing twice
        joined = joined.localCheckpoint(eager=False)
    result = _exact_topk(joined, k)
    if not with_stats:
        return result
    return result, _candidate_stats(joined, embeddings, queries)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    n_iters: int = 10,
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer (the IVF training
    step, Sivic & Zisserman ICCV'03 / the FAISS IVF design): L2-normalized
    centroids fit on a SEEDED sample collected to the driver — standard IVF
    practice; at 10^12 rows the quantizer is trained on a bounded sample
    regardless of cluster size, and the sample is picked by
    ``xxhash64(vec_id, seed)`` order so the SAME rows are chosen on any
    partitioning / cluster.  Returns an (n_lists, dim) float64 matrix.

    Determinism: init indices and every iteration depend only on
    (sample, n_lists, seed); empty lists keep their previous centroid."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)).asc(), F.col("vec_id").asc())
        .limit(sample_size)
        .collect()
    )
    if len(rows) < n_lists:
        raise ValueError(
            f"IVF needs at least n_lists={n_lists} sample vectors, got {len(rows)}"
        )
    x = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.PCG64(seed))
    cents = x[rng.choice(len(x), size=n_lists, replace=False)].copy()
    for _ in range(n_iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for j in range(n_lists):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, n_probes: int = 1, out: str = "list_id"
) -> DataFrame:
    """Adds the ``n_probes`` nearest coarse lists (by cosine against the
    broadcast centroid matrix) as an array column ``out`` — one vectorized
    numpy matmul per Arrow batch.  Index side uses n_probes=1 (each vector
    lives in exactly one inverted list); query side probes several."""
    from pyspark.sql.types import ArrayType

    c_t = centroids.T.copy()  # (dim, n_lists) — closure-broadcast to executors
    n_probes = min(n_probes, centroids.shape[0])

    @F.pandas_udf(ArrayType(LongType()))
    def assign_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ c_t  # (n, n_lists)
        if n_probes == 1:
            return pd.Series(list(np.argmax(sims, axis=1)[:, None].astype(np.int64)))
        top = np.argpartition(-sims, n_probes - 1, axis=1)[:, :n_probes]
        # order probes best-first (argpartition is unordered) for readability
        row = np.arange(len(mat))[:, None]
        order = np.argsort(-sims[row, top], axis=1)
        return pd.Series(list(np.take_along_axis(top, order, axis=1).astype(np.int64)))

    return df.withColumn(out, assign_udf("embedding"))


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probes: int = 4,
    seed: int = 42,
    sample_size: int = 4096,
    with_stats: bool = False,
):
    """IVF ANN top-k: each vector is filed under its nearest coarse
    centroid; a query probes its ``n_probes`` nearest lists and re-ranks
    exactly inside them (the second scale path next to cosine_topk_lsh —
    partition-friendly: the list assignment is a plain equi-join key, so at
    scale the inverted lists bucket/partition the index with no per-query
    fan-out beyond the probed lists).

    Recall < 1 by construction: a true neighbor filed under a list the
    query does not probe is missed — n_probes is the recall lever, costed
    via ``with_stats`` exactly like the LSH path."""
    cents = train_ivf_centroids(embeddings, n_lists, seed, sample_size)
    e = ivf_assign(
        embeddings.withColumn("e_norm", _norm(F.col("embedding"))), cents, 1
    ).select("vec_id", "embedding", "e_norm", F.element_at("list_id", 1).alias("list_id"))
    q = ivf_assign(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_norm"),
            F.col("embedding"),
        ),
        cents,
        n_probes,
    ).select("query_id", "q_emb", "q_norm", F.explode("list_id").alias("list_id"))
    joined = e.join(F.broadcast(q), "list_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    result = _exact_topk(joined, k)
    if not with_stats:
        return result
    return result, _candidate_stats(joined, embeddings, queries)
