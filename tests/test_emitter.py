"""Spark-side planning-layer tests: distributed stats builder, emitter
correctness (same rows as a hand-built ``DataFrame.join`` chain), plan-shape
checks, broadcast joins in the physical plan, and the emitter's Py4J
traffic per join.
"""

from __future__ import annotations

import contextlib
import gc

import py4j.clientserver
import py4j.protocol
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from dbms_query_optimizer_spark.engine import TABLES, load_tables
from dbms_query_optimizer_spark.plans.emitter import emit_plan, explain_string
from dbms_query_optimizer_spark.plans.pipeline import FilterSpec, plan_and_emit
from dbms_query_optimizer_spark.plans.planner import LogicalJoinNode
from dbms_query_optimizer_spark.plans.stats import PredicateType, TableStats

EQ = PredicateType.EQ
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tables(spark):
    return load_tables(spark, SF)


@pytest.fixture(scope="module")
def joins():
    return [
        LogicalJoinNode("customer", "orders", "c_custkey", "o_custkey", EQ),
        LogicalJoinNode("orders", "lineitem", "o_orderkey", "l_orderkey", EQ),
        LogicalJoinNode("customer", "nation", "c_nationkey", "n_nationkey", EQ),
    ]


def test_table_stats_from_dataframe(tables):
    stats = TableStats.from_dataframe(tables["orders"])
    assert stats.num_tuples == tables["orders"].count()
    assert stats.num_pages >= 1
    # scan cost model: 2 * io * pages
    assert stats.estimate_scan_cost() == 2 * 100 * stats.num_pages
    # histogram built for numeric cols only
    assert "o_orderkey" in stats.histograms
    assert "o_totalprice" in stats.histograms
    assert "o_orderstatus" not in stats.histograms
    # all rows landed in the o_orderkey histogram
    assert stats.histograms["o_orderkey"].ntups == stats.num_tuples

    # selectivity sanity against true fractions
    h = stats.histograms["o_totalprice"]
    true_frac = tables["orders"].filter(F.col("o_totalprice") < 150000).count() / stats.num_tuples
    est = h.estimate_selectivity(PredicateType.LT, 150000)
    assert est == pytest.approx(true_frac, abs=0.05)


def test_pipeline_matches_direct_join(spark, tables, joins):
    planned = plan_and_emit(
        tables,
        joins,
        filters=[FilterSpec("orders", "o_totalprice", PredicateType.LT, 150000)],
        pk_columns=TABLES,
    )
    assert len(planned.plan) == len(joins)

    got = (
        planned.df.groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_name")
        .collect()
    )
    want = (
        tables["customer"]
        .join(tables["orders"].filter(F.col("o_totalprice") < 150000),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(tables["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(tables["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_name")
        .collect()
    )
    assert got == want


def test_plan_avoids_fact_table_outermost(tables, joins):
    """Semantic plan property in the reference's test style
    (optimizer_test.cc:492): the biggest table (lineitem) must not be the
    outer base relation of the left-deep tree."""
    planned = plan_and_emit(tables, joins, pk_columns=TABLES)
    first = planned.plan[0]
    assert first.left_table != "lineitem"


def test_broadcast_hint_in_physical_plan(tables, joins):
    """The emitter adds no hint: Spark's own size estimate against
    ``autoBroadcastJoinThreshold`` picks the broadcast for these
    sf0.001 sides."""
    planned = plan_and_emit(tables, joins, pk_columns=TABLES)
    txt = explain_string(planned.df, "formatted")
    assert "BroadcastHashJoin" in txt


def test_extra_edge_becomes_filter(tables):
    """A join predicate whose tables are already joined degrades to a filter."""
    plan = [
        LogicalJoinNode("customer", "orders", "c_custkey", "o_custkey", EQ),
        LogicalJoinNode("customer", "orders", "c_nationkey", "o_custkey", PredicateType.NE),
    ]
    df = emit_plan(tables, plan)
    n = df.count()
    want = (
        tables["customer"]
        .join(tables["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("c_nationkey") != F.col("o_custkey"))
        .count()
    )
    assert n == want


def _ranges(spark, n: int, width: int = 2) -> dict:
    """``n`` small frames ``t{i}`` with columns ``t{i}_c{k}``."""
    return {
        f"t{i}": spark.range(12).select(
            *((F.col("id") * (k + 1) % (5 + i)).alias(f"t{i}_c{k}") for k in range(width))
        )
        for i in range(n)
    }


def _chain(n: int) -> list[LogicalJoinNode]:
    return [LogicalJoinNode(f"t{i}", f"t{i + 1}", f"t{i}_c0", f"t{i + 1}_c1") for i in range(n)]


def _same_rows(got, want) -> None:
    assert got.columns == want.columns
    rows = sorted(got.collect())
    assert rows == sorted(want.collect())
    assert rows, "an empty result compares nothing"


def test_emitted_chain_matches_join_chain(spark):
    t = _ranges(spark, 14)
    want = t["t0"]
    for i in range(13):
        want = want.join(t[f"t{i + 1}"], F.col(f"t{i}_c0") == F.col(f"t{i + 1}_c1"))
    _same_rows(emit_plan(t, _chain(13)), want)


def test_emitted_ne_extra_edge_matches_join_chain(spark):
    t = _ranges(spark, 3)
    plan = _chain(2) + [LogicalJoinNode("t0", "t2", "t0_c1", "t2_c0", PredicateType.NE)]
    want = (
        t["t0"].join(t["t1"], F.col("t0_c0") == F.col("t1_c1"))
        .join(t["t2"], F.col("t1_c0") == F.col("t2_c1"))
        .filter(F.col("t0_c1") != F.col("t2_c0"))
    )
    _same_rows(emit_plan(t, plan), want)


def test_emitted_non_equi_join_matches_join_chain(spark):
    t = _ranges(spark, 3)
    plan = [
        LogicalJoinNode("t0", "t1", "t0_c0", "t1_c1"),
        LogicalJoinNode("t2", "t1", "t2_c1", "t1_c0", PredicateType.LT),
    ]
    want = (
        t["t0"].join(t["t1"], F.col("t0_c0") == F.col("t1_c1"))
        .join(t["t2"], F.col("t2_c1") < F.col("t1_c0"))
    )
    _same_rows(emit_plan(t, plan), want)


def test_emitted_lt_filter_matches_join_chain(spark):
    t = _ranges(spark, 3)
    want = (
        t["t0"].join(t["t1"].filter(F.col("t1_c0") < 3), F.col("t0_c0") == F.col("t1_c1"))
        .join(t["t2"], F.col("t1_c0") == F.col("t2_c1"))
    )
    _same_rows(emit_plan(t, _chain(2), filters={"t1": "`t1_c0` < 3"}), want)
    spec = FilterSpec("t1", "t1_c0", PredicateType.LT, 3)
    assert spec.sql() == "`t1_c0` < 3"


def test_emitted_quoted_column_names_match_join_chain(spark):
    odd = {"a": "a`b c", "b": "b.key"}
    t = {
        name: spark.range(6).select(F.col("id").alias(col), (F.col("id") % 2).alias(f"{name}_v"))
        for name, col in odd.items()
    }
    plan = [LogicalJoinNode("a", "b", odd["a"], odd["b"])]
    spec = FilterSpec("a", odd["a"], PredicateType.GE, 2)
    a, b = F.col("`a``b c`"), F.col("`b.key`")  # the names, quoted by hand
    want = t["a"].filter(a >= 2).join(t["b"], a == b)
    _same_rows(emit_plan(t, plan, filters={"a": spec.sql()}), want)


@contextlib.contextmanager
def py4j_traffic():
    """Count Py4J commands sent and distinct DataFrames constructed inside
    the block. The collector is paused so that no proxy-delete command
    falls inside it, and any that do are not counted."""
    send = py4j.clientserver.JavaClient.send_command
    init = ClassicDataFrame.__init__
    delete = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME
    seen = {"commands": 0, "frames": []}

    def counting_send(client, command, *args, **kwargs):
        if not command.startswith(delete):
            seen["commands"] += 1
        return send(client, command, *args, **kwargs)

    def counting_init(df, *args, **kwargs):
        # the classic constructor runs __init__ twice on one object
        if all(f is not df for f in seen["frames"]):
            seen["frames"].append(df)
        init(df, *args, **kwargs)

    gc.disable()
    py4j.clientserver.JavaClient.send_command = counting_send
    ClassicDataFrame.__init__ = counting_init
    try:
        yield seen
    finally:
        py4j.clientserver.JavaClient.send_command = send
        ClassicDataFrame.__init__ = init
        gc.enable()


def test_emit_py4j_round_trips_per_join(spark):
    """A 13-join chain with filters is one analysed plan: under 10 Py4J
    round trips per join and one DataFrame. Building it with
    ``DataFrame.join`` and Column conditions takes about 40 per join (every
    ``F.col`` and Column operator records its call site over Py4J) and one
    analysed DataFrame per join."""
    t = _ranges(spark, 14)
    plan = _chain(13)
    filters = {"t3": "`t3_c0` < 4", "t9": "`t9_c1` > 1 AND `t9_c0` <> 2"}
    emit_plan(t, plan, filters=filters)  # warm the JVM-side classes
    with py4j_traffic() as seen:
        df = emit_plan(t, plan, filters=filters)
    assert isinstance(df, ClassicDataFrame)
    assert seen["commands"] < 10 * len(plan), seen["commands"]
    assert len(seen["frames"]) == 1


def test_engine_sql_entry(spark, sf_dir):
    """SQL runs over the views ``load_tables`` registers — the entry
    point the reference never had (its queries arrive pre-parsed)."""
    from dbms_query_optimizer_spark.engine import load_tables

    load_tables(spark, sf_dir)
    row = spark.sql(
        """
        SELECT r_name, COUNT(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY n DESC, r_name LIMIT 1
        """
    ).collect()[0]
    assert row.n >= 1 and isinstance(row.r_name, str)
