"""Lineage-bounding contract for iterative operators: raising the
iteration count must NOT grow the logical plan. The shared
graph._frontier_loop (behind weakly_connected_components, bfs_hops and
kcore) truncates with localCheckpoint every round; graph_pagerank (r11)
runs its power iteration driver-local over the collected |types|^2
transition matrix, so its plan is a constant-size createDataFrame
regardless of iteration count — the same contract, satisfied
structurally."""

from __future__ import annotations

import pytest

from dbms_query_optimizer_spark.operators.graph import (
    PR_ITERATIONS,
    _pagerank,
    bfs_hops,
    kcore,
    q_graph_pagerank,
    weakly_connected_components,
)


def _plan_size(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_pagerank_plan_depth_bounded(spark, sf_dir):
    # 4x the iteration count must not grow the final plan: the iteration
    # state never enters the DataFrame lineage.
    short = _plan_size(_pagerank(spark, sf_dir, PR_ITERATIONS))
    long = _plan_size(_pagerank(spark, sf_dir, 4 * PR_ITERATIONS))
    assert long <= short * 1.5, (short, long)


def test_pagerank_checkpoint_preserves_values(spark, sf_dir):
    # values must be identical to the DuckDB-oracle-verified formulation,
    # which test_queries_oracle.py pins — here just pin determinism
    # across runs.
    a = {r["node"]: r["pagerank"] for r in q_graph_pagerank(spark, sf_dir).collect()}
    b = {r["node"]: r["pagerank"] for r in q_graph_pagerank(spark, sf_dir).collect()}
    assert a == b and len(a) > 0
    assert abs(sum(a.values()) - 1.0) < 1e-3  # ranks form a distribution


@pytest.mark.parametrize(
    "op",
    [
        weakly_connected_components,
        lambda edges: bfs_hops(edges, 0),
        # a path has no 2-core: it peels from both ends, n / 2 rounds
        lambda edges: kcore(edges, k=2, max_rounds=20),
    ],
    ids=["wcc", "bfs_hops", "kcore"],
)
def test_graph_loop_plan_depth_bounded(spark, op):
    # a 20-node path takes more rounds than a 4-node one; the returned
    # frame must not carry those rounds in its plan
    def path(n):
        edges = [(i, i + 1) for i in range(n - 1)]
        return op(spark.createDataFrame(edges, "src long, dst long"))

    short = _plan_size(path(4))
    long = _plan_size(path(20))
    assert long <= short * 1.5, (short, long)
