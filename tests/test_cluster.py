"""Connected components / duplicate clusters (operators/cluster.py)."""

from __future__ import annotations

import pytest

from nhl_data_pipeline_spark.operators.cluster import (
    connected_components,
    duplicate_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src: bigint, dst: bigint")


def test_cc_two_components(spark):
    # {1,2,3} via 1-2, 2-3 (transitive) and {7,8}; edge direction mixed.
    e = _edges(spark, [(2, 1), (2, 3), (8, 7)])
    got = {
        (r.node, r.component)
        for r in connected_components(e).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}


def test_cc_long_chain_converges(spark):
    # Path graph 0-1-2-...-9: diameter 9 forces multiple label rounds.
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    rows = connected_components(e, max_rounds=20).collect()
    assert {r.component for r in rows} == {0}
    assert {r.node for r in rows} == set(range(10))


def test_cc_self_loops_and_duplicate_edges_ignored(spark):
    e = _edges(spark, [(1, 1), (1, 2), (2, 1), (1, 2)])
    got = {(r.node, r.component) for r in connected_components(e).collect()}
    assert got == {(1, 1), (2, 1)}


def test_cc_raises_when_rounds_exhausted(spark):
    # Diameter-4 path cannot settle in 1 round (round 0 only reaches
    # distance-1 neighbors; node 4's label takes further rounds to hit 0).
    e = _edges(spark, [(i, i + 1) for i in range(4)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_rounds=1)


def test_duplicate_clusters_keeper_and_sizes(spark):
    # Clusters {10,11,12} and {20,21}; keeper = min id of each.
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "doc_a: bigint, doc_b: bigint"
    )
    rows = {r.doc_id: r for r in duplicate_clusters(pairs).collect()}
    assert rows[10].cluster_id == 10 and rows[10].is_keeper
    assert rows[11].cluster_id == 10 and not rows[11].is_keeper
    assert rows[12].cluster_size == 3
    assert rows[20].is_keeper and rows[21].cluster_size == 2


def test_star_equals_label_prop_on_random_graph(spark):
    # Seeded 60-node, 80-edge random graph checked against a union-find
    # whose root is always the smaller id: component = min reachable node.
    import random

    rng = random.Random(42)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}

    e = _edges(spark, edges)
    got = {
        (r.node, r.component)
        for r in connected_components(e, max_rounds=60).collect()
    }
    assert got == want
