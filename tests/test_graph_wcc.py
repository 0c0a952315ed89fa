"""Unit semantics for the generic graph loops (graph.py: WCC, BFS,
k-core) on crafted graphs — structure the fixture-derived catalog
queries can't guarantee they exercise: multi-hop chains (label must
PROPAGATE, not just copy), rings, direction-independence, nodes absent
from the edge list, and graphs that need exactly each loop's round
bound (the bound the DuckDB oracles rely on: BFS_MAX_HOPS is the
oracle's CTE depth, KCORE_MAX_ROUNDS its unroll depth)."""

from __future__ import annotations

import pytest

from dbms_query_optimizer_spark.operators import graph
from dbms_query_optimizer_spark.operators.graph import (
    bfs_hops,
    kcore,
    weakly_connected_components,
)


def _components(spark, edges: list[tuple], schema: str = "src long, dst long") -> dict:
    df = spark.createDataFrame(edges, schema)
    return {
        r["node"]: r["component"]
        for r in weakly_connected_components(df).collect()
    }


def test_chain_propagates_min_label_multi_hop(spark):
    # path 1-2-3-4-5: diameter 4 forces >1 propagation round
    comp = _components(spark, [(2, 1), (3, 2), (4, 3), (5, 4)])
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_string_chain_takes_lexicographic_min_name(spark):
    # entity_resolution runs WCC over part names: the min sits at the far
    # end of the chain, and "apple" < "apple pie" < "banana" by string order
    names = ["kiwi", "banana", "fig", "apple pie", "apple"]
    comp = _components(
        spark, list(zip(names, names[1:])), "src string, dst string"
    )
    assert comp == {n: "apple" for n in names}


def test_two_components_and_direction_independence(spark):
    # edges given in mixed orientations; components must ignore direction
    comp = _components(spark, [(1, 2), (3, 2), (10, 11), (12, 11)])
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_ring_converges(spark):
    comp = _components(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert set(comp.values()) == {1} and len(comp) == 4


def _path(spark, n: int):
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")


def test_wcc_converges_at_exactly_max_iters(spark):
    # path 0..7. Round 1 labels every node with its min neighbor (offset
    # 1); each later round's message + pointer jump takes offset d to
    # 2d + 1, so after rounds 1, 2, 3 the offsets are 1, 3, 7 and node 7
    # reaches 0 in round 3. Round 4 improves nothing: 4 rounds exactly.
    comp = {
        r["node"]: r["component"]
        for r in weakly_connected_components(_path(spark, 8), max_iters=4).collect()
    }
    assert comp == {i: 0 for i in range(8)}
    with pytest.raises(RuntimeError, match="did not converge in 3 iterations"):
        weakly_connected_components(_path(spark, 8), max_iters=3)


def test_bfs_allows_hops_up_to_the_bound(spark, monkeypatch):
    # bfs_hops reads BFS_MAX_HOPS at call time: a node at exactly the
    # bound is representable by the oracle's CTE, one hop more is not
    monkeypatch.setattr(graph, "BFS_MAX_HOPS", 3)
    got = {r["node"]: r["hops"] for r in bfs_hops(_path(spark, 4), 0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    with pytest.raises(RuntimeError, match="beyond 3 hops"):
        bfs_hops(_path(spark, 5), 0)


def test_bfs_source_without_edges_is_alone_at_hop_zero(spark):
    got = {r["node"]: r["hops"] for r in bfs_hops(_path(spark, 3), 99).collect()}
    assert got == {99: 0}


def test_kcore_converges_at_exactly_max_rounds(spark):
    # triangle 1-2-3 with the tail 3-4-5-6: under k=2 the tail peels one
    # node a round from its end (6, then 5, then 4), so the cascade
    # needs exactly 3 peel rounds
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    assert _core(spark, edges, k=2, max_rounds=3) == {1: 2, 2: 2, 3: 2}
    with pytest.raises(RuntimeError, match="shedding nodes after 2 rounds"):
        _core(spark, edges, k=2, max_rounds=2)


def test_max_iters_raises_on_long_chain(spark):
    # a 10-node path needs 5 rounds (offsets 1, 3, 7, 15, then the
    # confirming round; see the exact-bound test); max_iters=2 must fail loudly
    # rather than return a half-propagated labeling
    df = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 10)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        weakly_connected_components(df, max_iters=2)


def _core(spark, edges, k=2, max_rounds=8):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["core_degree"]
        for r in kcore(df, k=k, max_rounds=max_rounds).collect()
    }


def test_kcore_cascade_peels_multi_round(spark):
    # triangle 1-2-3 with a tail 3-4-5: node 5 (deg 1) drops round 0,
    # node 4 cascades round 1; the surviving 2-core is exactly the
    # triangle with in-core degree 2 everywhere
    got = _core(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], k=2)
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_whole_graph_can_dissolve(spark):
    # a path has no 2-core: endpoints peel inward until nothing is left
    got = _core(spark, [(1, 2), (2, 3), (3, 4)], k=2)
    assert got == {}


def test_kcore_k1_keeps_every_edged_node(spark):
    got = _core(spark, [(1, 2), (3, 4)], k=1)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_kcore_raises_past_round_bound(spark):
    # a 12-node path cascades ~6 rounds under k=2; max_rounds=2 must
    # fail loudly rather than return a half-peeled "core"
    edges = [(i, i + 1) for i in range(1, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="shedding"):
        kcore(df, k=2, max_rounds=2).collect()


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_kcore_matches_python_reference_on_random_graphs(spark, seed):
    """Randomized cross-check: the distributed delta-decrement peel must
    equal a direct Python simultaneous-peel on the same graph — cores,
    AND in-core degrees. Seeded (not hypothesis) so each example's
    Spark loop cost is paid a bounded number of times."""
    import random

    rng = random.Random(seed)
    nodes = list(range(1, 25))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for _ in range(40)
            for a, b in [(rng.choice(nodes), rng.choice(nodes))]
            if a != b
        }
    )

    # python reference: simultaneous peel to fixpoint
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    k = 2
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    want = {n: len(adj[n] & alive) for n in alive}

    got = _core(spark, edges, k=k)
    assert got == want, f"seed={seed}"
