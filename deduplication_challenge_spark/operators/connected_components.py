"""Connected components: Arrow union-find contraction, star joins as fallback.

Each partition's edges are contracted by a vectorized union-find kernel
(``_local_contract``); the contracted set is re-contracted at coarser
partitioning until it fits one task, where one more pass is the global
fixpoint. Only when contraction stalls (the 100 TB case) does it fall
back to the MapReduce CC algorithm of Kiveris et al. ("Connected
Components in MapReduce and Beyond", SoCC 2014): alternating large-star /
small-star rounds of DataFrame joins, each a groupBy(min) + equi-join. No
graphframes dependency (SURVEY.md §7.0).

Per-iteration ``localCheckpoint(eager=True)`` truncates lineage so the plan
doesn't grow unboundedly across the fixpoint loop (Catalyst optimizes single
DAGs, not loops — SURVEY.md §4.3.2). Convergence is detected by comparing a
cheap order-insensitive edge-set signature (count + sum of xxhash64(src,dst))
between iterations instead of a full except/anti-join.

The reference's counterpart is exact-key grouping (one hash shuffle,
/root/reference/src/main.py:85-97); CC generalizes it to the transitive
closure of the near-dup candidate edges.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _contract_edges_numpy(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized union-find over one partition's edge arrays: min-hook +
    full pointer-jumping compression (Shiloach–Vishkin style), no per-edge
    Python loop.  Returns (node, local_min_root) pairs for every non-root
    node.  The component minimum can never be hooked (hooks always point a
    larger root at a smaller one), so the fixpoint root of each component is
    its minimum — same contract as a sequential union-find with min roots."""
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    si, di = idx[: len(src)], idx[len(src):]
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        # full compression: parent <- parent[parent] to fixpoint
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        rs, rd = parent[si], parent[di]
        lo = np.minimum(rs, rd)
        hi = np.maximum(rs, rd)
        mask = lo != hi
        if not mask.any():
            break
        np.minimum.at(parent, hi[mask], lo[mask])
    nonroot = parent != np.arange(len(nodes), dtype=np.int64)
    return nodes[nonroot], nodes[parent[nonroot]]


def _local_contract(edges: DataFrame) -> DataFrame:
    """Partition-local union-find pre-contraction: one Arrow pass replacing
    each partition's edge set with its spanning star (node -> local-min
    root). Output is <= #distinct nodes per partition, duplicate-heavy edge
    sets (stars from several LSH bands / simhash chunks over the same
    cluster) collapse before the first shuffle, and the global fixpoint loop
    then needs fewer iterations over fewer edges. The kernel is pure numpy
    (no per-edge Python loop — the one row-at-a-time hot path flagged in
    round 1)."""

    import pyarrow as pa

    def contract(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # Arrow batches straight to numpy: the former pandas variant built
        # one DataFrame per 2048-row Arrow batch (maxRecordsPerBatch is
        # tuned for the WIDE kernels), which cost more than the union-find
        # itself on multi-million-edge partitions
        srcs: list[np.ndarray] = []
        dsts: list[np.ndarray] = []
        si = di = None
        for b in batches:
            if b.num_rows == 0:
                continue
            if si is None:
                si = b.schema.get_field_index("src")
                di = b.schema.get_field_index("dst")
            # a null endpoint would come out of to_numpy as NaN and then
            # as a garbage int64 node id, silently merging clusters
            if b.column(si).null_count or b.column(di).null_count:
                raise ValueError(
                    "connected_components: null src/dst edge; edges must "
                    "carry two non-null doc ids"
                )
            srcs.append(b.column(si).to_numpy(zero_copy_only=False))
            dsts.append(b.column(di).to_numpy(zero_copy_only=False))
        if not srcs:
            yield pa.record_batch(
                [pa.array([], pa.int64()), pa.array([], pa.int64())],
                names=["src", "dst"],
            )
            return
        src = np.concatenate(srcs).astype(np.int64, copy=False)
        dst = np.concatenate(dsts).astype(np.int64, copy=False)
        out_src, out_dst = _contract_edges_numpy(src, dst)
        yield pa.record_batch(
            [pa.array(out_src), pa.array(out_dst)], names=["src", "dst"]
        )

    return edges.mapInArrow(contract, schema="src long, dst long")


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) + {u})."""
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = both.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        both.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; for each node u connect all (smaller)
    neighbors and u itself to the minimum of the neighborhood."""
    oriented = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(mins, "src")
    e1 = joined.where(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    e2 = mins.select(F.col("src").alias("src"), F.col("m").alias("dst"))
    return e1.union(e2).where(F.col("src") != F.col("dst")).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and can't overflow (edges are distinct,
    # so xor never self-cancels duplicate rows)
    row = edges.agg(
        F.count("*").alias("c"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


# When the contracted edge set fits ONE task, the global fixpoint is
# cheaper as a single union-find pass than as star-join rounds: each
# large/small-star iteration costs ~8 shuffle stages + an eager checkpoint +
# a convergence collect, all stage-floor-bound on a contracted graph that is
# already tiny (approaching one row per non-singleton node).  The limit is
# the max edges ONE kernel task may hold and is derived from executor
# MEMORY, not core count: the kernel's measured peak working set is
# ~100-130 bytes/edge (int64 pairs + concatenate/unique-sort transients +
# per-iteration masks), so 5M edges ≈ 0.6 GB — comfortable for a real
# executor, and the multi-level reduction below applies the SAME bound to
# its intermediate tasks.  Past the limit (the 100 TB case, where the
# contracted graph is ~#non-singleton nodes and contraction passes stall)
# the star loop runs exactly as before, so nothing is tuned to local mode.
# Measured on a 5.9M-edge contracted graph (1M-doc corpus): kernel 3.6 s
# single-threaded vs 2-3 star rounds at ~20 s.
SINGLE_TASK_EDGE_LIMIT = 5_000_000


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_mode: str = "local",
    single_task_edge_limit: int = SINGLE_TASK_EDGE_LIMIT,
) -> DataFrame:
    """edges(src, dst) -> assignments(doc_id, cluster_id).

    cluster_id is the component's minimum doc_id. Only nodes that appear in
    an edge are returned — callers left-join docs and coalesce to doc_id for
    singletons (consolidate.attach_clusters), mirroring the reference's
    untouched singleton groups (/root/reference/src/main.py:94-95).

    ``checkpoint_mode='reliable'`` swaps the per-iteration localCheckpoint
    for a reliable checkpoint (plans/checkpointing.py): the fixpoint loop is
    the longest lineage in the engine, and on a real cluster an executor
    loss mid-loop must recover, not kill the query.  Identical output.

    Reliable-mode storage is GARBAGE-COLLECTED as the loop advances: each
    iteration checkpoints into its own subdirectory and, once the new
    checkpoint is materialized (eager), the superseded iteration's
    directory is deleted through the Hadoop FS API — without this, a
    50-iteration loop would hold ~50 full edge-set materializations on
    HDFS for the life of the application.  Only the FINAL iteration's
    directory survives the call (the returned DataFrame's plan reads it
    lazily); it is bounded at one checkpoint per invocation.
    """
    from deduplication_challenge_spark.plans.checkpointing import (
        ensure_checkpoint_dir,
        fs_delete,
        stage_checkpoint,
    )

    reliable = checkpoint_mode == "reliable"
    spark = edges.sparkSession
    prev_dir = None
    if reliable:
        import os
        import uuid

        base = ensure_checkpoint_dir(spark)
        run_dir = os.path.join(base, f"cc_{uuid.uuid4().hex[:12]}")

        def _set_iter_dir(i: int) -> str:
            d = os.path.join(run_dir, f"iter_{i}")
            spark.sparkContext.setCheckpointDir(d)
            return d

        prev_dir = _set_iter_dir(0)
    # try/finally: the non-convergence RuntimeError (or any mid-loop Spark
    # failure) must still restore the SESSION-level checkpoint dir — without
    # this, later reliable checkpoints in the same session would nest under
    # a stale per-iteration subdir and orphaned iteration dirs would leak
    try:
        import math

        ckpt_i = 0

        def _advance(df: DataFrame) -> DataFrame:
            # checkpoint one contraction/star step; in reliable mode each
            # step gets its own iter dir and the superseded one is deleted
            nonlocal ckpt_i, prev_dir
            ckpt_i += 1
            if reliable:
                new_dir = _set_iter_dir(ckpt_i)
            out = stage_checkpoint(df, checkpoint_mode, eager=True)
            if reliable:
                fs_delete(spark, prev_dir)  # superseded; out no longer reads it
                prev_dir = new_dir
            return out

        # First contraction runs IN PLACE on the scan's partitioning — the
        # raw edge set is the largest table in the loop and never worth a
        # pre-shuffle (measured: repartitioning it before contracting cost
        # more at low parallelism than the better contraction saved; the
        # reduction loop below shuffles only the already-contracted set).
        # A first contraction over ONE partition is already the global
        # fixpoint, so the loop is skipped entirely.
        # a null-bearing edge is kept (null != x is null, which where()
        # would drop silently) so the kernel rejects it loudly
        nz = edges.where(F.coalesce(F.col("src") != F.col("dst"), F.lit(True)))
        first_parts = nz.rdd.getNumPartitions()
        cur = stage_checkpoint(_local_contract(nz), checkpoint_mode, eager=True)
        # Size-adaptive multi-level contraction (each count is a metadata
        # read off the eager checkpoint): while the contracted edge set is
        # too big for one task, repartition to ceil(n/limit) partitions —
        # every task then holds <= limit edges, the same memory bound as
        # the final pass — and contract again; the set shrinks toward one
        # row per non-singleton node.  When it fits ONE task, finish with
        # the SAME union-find kernel over a single partition: exact
        # min-root components by the kernel's hook contract (hooks always
        # point larger roots at smaller ones), identical to the star
        # fixpoint, zero join rounds.  A pass that removes < 25% of edges
        # doesn't pay for its shuffle — contraction has stalled near the
        # node count (the 100 TB case) and the star loop is the scale
        # path, exactly as before.
        done = first_parts == 1  # one-partition contraction = global fixpoint
        prev_n = None
        # limit <= 0 forces the star loop (tests pin loop-vs-gated equality)
        for _ in range(3 if (single_task_edge_limit > 0 and not done) else 0):
            n = cur.count()
            if n <= single_task_edge_limit:
                cur = _advance(_local_contract(cur.repartition(1)))
                done = True
                break
            if prev_n is not None and n > 0.75 * prev_n:
                break  # stalled: star rounds beat another full shuffle
            prev_n = n
            cur = _advance(
                _local_contract(
                    cur.repartition(math.ceil(n / single_task_edge_limit))
                )
            )
        if not done:
            prev_sig = None
            for _ in range(max_iterations):
                cur = _advance(_small_star(_large_star(cur)))
                sig = _signature(cur)
                if sig == prev_sig:
                    break
                prev_sig = sig
            else:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iterations} iterations"
                )
    except BaseException:
        if reliable:
            # the failed run's checkpoints are garbage — delete the whole
            # per-invocation dir so a retried loop never accumulates orphans
            try:
                fs_delete(spark, run_dir)
            except Exception:
                pass  # best-effort GC; the restore below must still happen
        raise
    finally:
        if reliable:
            # restore the session-level dir for later reliable checkpoints
            spark.sparkContext.setCheckpointDir(base)

    # Fixpoint: every edge points node -> component min. Roots map to themselves.
    members = cur.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id")).distinct()
    return members.union(roots).distinct()
