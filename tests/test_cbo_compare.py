"""Catalyst CBO vs reference Selinger DP on the same join graph.

The DP is optimal under the reference cost model over all left-deep orders,
so Catalyst's CBO-chosen order can never cost less under that model — the
cross-optimizer analog of the OrderJoinsTest plan-property assertions
(reference optimizer_test.cc:414-500).
"""

from __future__ import annotations

import pytest

from dbms_query_optimizer_spark.engine import TABLES, load_tables
from dbms_query_optimizer_spark.plans.cbo_compare import (
    EXAMPLE_JOINS as JOINS,
    catalyst_join_order,
    reference_cost_of_order,
    table_order_of_plan,
)
from dbms_query_optimizer_spark.plans.planner import JoinOptimizer
from dbms_query_optimizer_spark.plans.stats import TableStats

INVOLVED = ["customer", "orders", "lineitem", "nation"]


@pytest.fixture(scope="module")
def stats(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return {name: TableStats.from_dataframe(t[name], columns=[]) for name in INVOLVED}


def test_catalyst_order_never_beats_dp(spark, sf_dir, stats):
    sels = {name: 1.0 for name in INVOLVED}
    dp_plan = JoinOptimizer(JOINS, TABLES).order_joins(stats, sels)
    dp_cost = reference_cost_of_order(
        table_order_of_plan(dp_plan), JOINS, stats, sels, TABLES
    )
    assert dp_cost < float("inf")

    cat_order = catalyst_join_order(spark, sf_dir, JOINS)
    assert sorted(cat_order) == sorted(INVOLVED)
    cat_cost = reference_cost_of_order(cat_order, JOINS, stats, sels, TABLES)

    assert dp_cost <= cat_cost, (
        f"DP order {table_order_of_plan(dp_plan)} (cost {dp_cost:.3g}) must not "
        f"lose to Catalyst order {cat_order} (cost {cat_cost:.3g})"
    )


def test_catalyst_order_is_connected(spark, sf_dir, stats):
    """CBO must not introduce cross products on a connected join graph."""
    cat_order = catalyst_join_order(spark, sf_dir, JOINS)
    sels = {name: 1.0 for name in INVOLVED}
    assert reference_cost_of_order(cat_order, JOINS, stats, sels, TABLES) < float("inf")


def test_plan_memo_dump_invariants(spark, sf_dir):
    """The memo dump (cbo_plan_memo) must cover every enumerable subset:
    2^n - 1 rows, exactly one cross-product rejection (the disconnected
    {customer=nation, orders=lineitem} pair), and cost monotonicity on
    every cached subset — the invariant the DP's pruning relies on."""
    from dbms_query_optimizer_spark.operators.relational import q_cbo_plan_memo

    rows = {r["subset"]: r for r in q_cbo_plan_memo(spark, sf_dir).collect()}
    assert len(rows) == 7  # 2^3 - 1 subsets of the 3-join fixture
    rejected = [k for k, r in rows.items() if r["best_order"] == "cross-product-rejected"]
    assert rejected == ["customer=nation & orders=lineitem"]
    assert rows[rejected[0]]["est_card"] is None
    for k, r in rows.items():
        if k in rejected:
            continue
        assert r["cost_ge_prefix"] is True, k
        assert r["est_card"] > 0, k
        # the winning order must name n_joins + 1 tables
        assert len(r["best_order"].split(" -> ")) == r["n_joins"] + 1, k
