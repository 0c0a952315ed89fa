"""Catalyst-CBO vs reference-DP comparison harness (SURVEY §7.2 stretch).

The reference's Selinger DP (``join_optimizer.cc:108-137``) is re-implemented
in :mod:`.planner`; Spark ships its own cost-based join reorderer
(``CostBasedJoinReorder``, enabled by ``spark.sql.cbo.enabled`` +
``spark.sql.cbo.joinReorder.enabled``, driven by ANALYZE-collected catalog
stats). This module runs the SAME join graph through both optimizers and
costs both chosen orders under the reference cost model, so tests can assert
the DP's optimality property: no order Catalyst picks may beat the DP's
order under the model the DP optimizes.

Catalyst needs catalog tables (not path-based DataFrames) for CBO stats, so
the harness registers the involved parquet files as external tables in a
scratch schema, ANALYZEs them, and reads the reordered leaf sequence out of
the optimized logical plan.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from .planner import JoinOptimizer, LogicalJoinNode
from .stats import TableStats

# The paper's example join graph, customer-orders-lineitem-nation, as the
# CBO entries (cbo_ordered_join, cbo_vs_dp_report, cbo_plan_memo) and
# tests/test_cbo_compare.py plan it.
EXAMPLE_JOINS = (
    LogicalJoinNode("customer", "orders", "c_custkey", "o_custkey"),
    LogicalJoinNode("orders", "lineitem", "o_orderkey", "l_orderkey"),
    LogicalJoinNode("customer", "nation", "c_nationkey", "n_nationkey"),
)

_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


def catalyst_join_order(
    spark: SparkSession,
    sf_dir: str,
    joins: list[LogicalJoinNode],
    schema: str = "cbo_cmp",
) -> list[str]:
    """Let Catalyst's CBO reorder the join graph; return its leaf order.

    Tables are registered as external parquet tables over the testdata files
    (no copy), ANALYZEd for row counts + column stats, and the join graph is
    submitted as one SQL inner-join chain in *declaration* order — any
    difference in the optimized plan's leaf order is Catalyst's reordering.
    """
    involved: list[str] = []
    for j in joins:
        for t in (j.left_table, j.right_table):
            if t not in involved:
                involved.append(t)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    for t in involved:
        spark.sql(f"DROP TABLE IF EXISTS {schema}.{t}")
        spark.sql(
            f"CREATE TABLE {schema}.{t} USING parquet "
            f"LOCATION '{sf_dir}/{t}.parquet'"
        )
        spark.sql(f"ANALYZE TABLE {schema}.{t} COMPUTE STATISTICS FOR ALL COLUMNS")

    conds = " AND ".join(
        f"{j.left_table}.{j.left_field} = {j.right_table}.{j.right_field}"
        for j in joins
    )
    from_clause = ", ".join(f"{schema}.{t} AS {t}" for t in involved)
    sql = f"SELECT COUNT(*) AS n FROM {from_clause} WHERE {conds}"

    saved = {k: spark.conf.get(k, None) for k in _CBO_CONFS}
    try:
        for k, v in _CBO_CONFS.items():
            spark.conf.set(k, v)
        plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    leaf_order = re.findall(rf"Relation (?:\w+\.)?{schema}\.(\w+)", plan)
    # leaves appear in the tree's left-to-right (outer-to-inner) order
    seen: list[str] = []
    for t in leaf_order:
        if t not in seen:
            seen.append(t)
    return seen


def table_order_of_plan(plan: list[LogicalJoinNode]) -> list[str]:
    """The base-table sequence a left-deep plan joins in."""
    order: list[str] = []
    for j in plan:
        for t in (j.left_table, j.right_table):
            if t not in order:
                order.append(t)
    return order


def reference_cost_of_order(
    order: list[str],
    joins: list[LogicalJoinNode],
    stats: dict[str, TableStats],
    filter_selectivities: dict[str, float],
    pk_columns: dict[str, str | None],
) -> float:
    """Cost a left-deep join over ``order`` under the reference model
    (scan cost ``table_stats.cc:228-231``, NLJ join cost
    ``join_optimizer.cc:53``, cardinality ``join_optimizer.cc:76-92``),
    with the accumulated plan always the outer operand.

    Returns ``inf`` if the order needs a cross product.
    """
    opt = JoinOptimizer(joins, pk_columns)
    acc = None
    used: list[LogicalJoinNode] = []
    joined = {order[0]}
    for t in order[1:]:
        edge = next(
            (
                j
                for j in joins
                if j not in used
                and {j.left_table, j.right_table} & joined
                and t in (j.left_table, j.right_table)
            ),
            None,
        )
        if edge is None:
            return float("inf")
        # orient the edge so the accumulated side is t1 (outer)
        j = edge if edge.right_table == t else edge.swap_inner_outer()
        acc = opt._join_step(acc, j, stats, filter_selectivities)
        used.append(edge)
        joined.add(t)
    return acc[0] if acc else stats[order[0]].estimate_scan_cost()
