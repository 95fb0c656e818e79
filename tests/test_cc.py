"""Connected-components operator tests vs a trivial union-find oracle."""

import pytest

from deduplication_challenge_spark.oracle import UnionFind
from deduplication_challenge_spark.operators.connected_components import connected_components


def _spark_cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()
    }


def _oracle_cc(edges):
    uf = UnionFind()
    nodes = set()
    for s, d in edges:
        uf.union(s, d)
        nodes.update((s, d))
    return {n: uf.find(n) for n in nodes}


CASES = [
    pytest.param([(1, 2)], id="single-edge"),
    pytest.param([(1, 2), (2, 3), (3, 4), (4, 5)], id="chain"),
    pytest.param([(10, 1), (10, 2), (10, 3)], id="star"),
    pytest.param([(1, 2), (3, 4), (5, 6), (2, 3)], id="merge-components"),
    pytest.param([(7, 7), (1, 2)], id="self-loop-ignored"),
    pytest.param([(2, 1), (1, 2), (2, 1)], id="duplicates-and-reversed"),
    pytest.param(
        [(i, i + 1) for i in range(1, 30)] + [(100, 200), (200, 300)],
        id="long-chain-plus-component",
    ),
]


@pytest.mark.parametrize("edges", CASES)
def test_cc_matches_union_find(spark, edges):
    got = _spark_cc(spark, edges)
    want = _oracle_cc([e for e in edges if e[0] != e[1]])
    assert got == want


def test_cluster_label_is_component_min(spark):
    got = _spark_cc(spark, [(5, 9), (9, 3), (3, 11)])
    assert set(got.values()) == {3}
    assert set(got.keys()) == {3, 5, 9, 11}


def test_negative_ids(spark):
    """doc_id = xxhash64(url) is frequently negative — labels must still be
    the component min."""
    got = _spark_cc(spark, [(-5, 2), (2, 7)])
    assert got == {-5: -5, 2: -5, 7: -5}


@pytest.mark.parametrize(
    "edges", [[(1, 2), (3, None)], [(None, 4), (1, 2)]], ids=["null-dst", "null-src"]
)
def test_null_edge_fails_loudly(spark, edges):
    """A null endpoint must raise, not become a NaN-derived node id that
    silently merges clusters."""
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(Exception, match="null src/dst edge"):
        connected_components(df).collect()


def test_reliable_checkpoint_mode_identical_output(spark):
    """checkpoint_mode='reliable' (setCheckpointDir + checkpoint(), the
    cluster fault-tolerance mode) must be a pure recovery knob: identical
    assignments to the default localCheckpoint mode on the same edges."""
    edges = [(i, i + 1) for i in range(1, 25)] + [(100, 200), (200, 300), (-4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_mode="local").collect()
    }
    reliable = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_mode="reliable").collect()
    }
    assert local == reliable
    assert spark.sparkContext.getCheckpointDir()  # dir was provisioned

    with pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components(df, checkpoint_mode="bogus").collect()


def test_numpy_contract_kernel_matches_union_find():
    """_contract_edges_numpy (the vectorized partition-local kernel) vs the
    sequential union-find oracle on randomized edge sets."""
    import numpy as np

    from deduplication_challenge_spark.operators.connected_components import (
        _contract_edges_numpy,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    for trial in range(20):
        n = int(rng.integers(2, 200))
        m = int(rng.integers(1, 500))
        src = rng.integers(-n, n, size=m)
        dst = rng.integers(-n, n, size=m)
        keep = src != dst
        src, dst = src[keep], dst[keep]
        if not len(src):
            continue
        out_s, out_d = _contract_edges_numpy(src, dst)
        got = dict(zip(out_s.tolist(), out_d.tolist()))
        want = _oracle_cc(list(zip(src.tolist(), dst.tolist())))
        want_nonroot = {k: v for k, v in want.items() if k != v}
        assert got == want_nonroot, trial


def test_single_task_finish_matches_star_loop(spark):
    """The size-gated one-pass finish (default) and the alternating-star
    fixpoint loop (forced via single_task_edge_limit=0) must produce
    identical assignments on a randomized multi-component graph."""
    import random

    rng = random.Random(13)
    edges = []
    base = 0
    for comp in range(40):  # mixed component sizes incl. chains and stars
        size = rng.randint(2, 25)
        nodes = [base + i for i in range(size)]
        base += size + rng.randint(1, 5)  # gaps -> singleton ids unused
        rng.shuffle(nodes)
        for a, b in zip(nodes, nodes[1:]):
            edges.append((a, b) if rng.random() < 0.5 else (b, a))
        edges.append((nodes[0], nodes[-1]))  # a cycle edge
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    gated = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    looped = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, single_task_edge_limit=0).collect()
    }
    assert gated == looped
    assert gated == _oracle_cc(edges)


def test_single_task_finish_reliable_mode(spark):
    """Gated finish under checkpoint_mode='reliable' restores the session
    checkpoint dir and matches the local-mode output."""
    edges = [(1, 2), (2, 3), (10, 11), (12, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_mode="local").collect()
    }
    reliable = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_mode="reliable").collect()
    }
    assert local == reliable == _oracle_cc(edges)
