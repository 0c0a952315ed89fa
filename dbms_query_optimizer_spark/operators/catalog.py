"""Central query/oracle catalog.

Maps query name -> (callable(spark, sf_dir) -> DataFrame, oracle SQL | None).
``__spark_entry__`` re-exports this; tests iterate it for DuckDB parity.
Entries keep registration order, so ``flagship_join_agg`` (the entry
query) comes first.

Oracle-SQL rules (driver contract):
- DuckDB dialect, runnable against views named after the testdata tables.
- Column names must match the Spark result exactly (compare sorts columns
  by name before hashing) — every computed column is aliased identically on
  both sides.
- Float aggregates are rounded on BOTH sides so summation-order differences
  between engines can't flip the value hash.
- ``None`` oracle => non-SQL-expressible; driver records rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import relational as R

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark callable, duckdb oracle sql | None)
CATALOG: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    if name in CATALOG:
        raise ValueError(f"duplicate query name {name}")
    CATALOG[name] = (fn, oracle)


# ---------------------------------------------------------------- relational

register(
    "flagship_join_agg",
    R.q_flagship_join_agg,
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM customer
    JOIN orders ON c_custkey = o_custkey AND o_totalprice < 100000.0
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

register(
    "cbo_ordered_join",
    R.q_cbo_ordered_join,
    """
    SELECT n_name, COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_totalprice < 150000
    GROUP BY n_name
    ORDER BY n_name
    """,
)

register(
    "scan",
    R.q_scan,
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)

register(
    "filter_predicates",
    R.q_filter_predicates,
    """
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_size >= 10 AND p_size <= 40 AND p_size <> 13
      AND p_retailprice > 900.0 AND p_retailprice < 1800.0
      AND p_brand = 'Brand#3'
    ORDER BY p_partkey
    """,
)

register(
    "projection",
    R.q_projection,
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS gross_price
    FROM lineitem
    """,
)

register(
    "agg_global",
    R.q_agg_global,
    """
    SELECT COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price
    FROM orders
    """,
)

register(
    "agg_grouped",
    R.q_agg_grouped,
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE), 6) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

register(
    "join_inner",
    R.q_join_inner,
    """
    SELECT s_suppkey, s_name, n_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ORDER BY s_suppkey
    """,
)

register(
    "join_nonequi",
    R.q_join_nonequi,
    """
    SELECT r_regionkey, r_name, COUNT(*) AS n_greater
    FROM region JOIN nation ON n_nationkey > r_regionkey
    GROUP BY r_regionkey, r_name
    ORDER BY r_regionkey
    """,
)

register(
    "join_multiway",
    R.q_join_multiway,
    """
    SELECT r_name, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name
    ORDER BY r_name
    """,
)

register(
    "join_left_outer",
    R.q_join_left_outer,
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_big_orders
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) big
      ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

register(
    "join_full_outer",
    R.q_join_full_outer,
    """
    SELECT c_custkey, c_acctbal, o_custkey, n_recent_orders
    FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7500.0) rich
    FULL OUTER JOIN (
        SELECT o_custkey, COUNT(*) AS n_recent_orders
        FROM orders WHERE o_orderdate >= DATE '2001-01-01'
        GROUP BY o_custkey
    ) recent ON c_custkey = o_custkey
    ORDER BY c_custkey NULLS FIRST, o_custkey NULLS FIRST
    """,
)

register(
    "join_semi",
    R.q_join_semi,
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
)

register(
    "join_anti",
    R.q_join_anti,
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
)

register(
    "join_null_aware_anti",
    R.q_join_null_aware_anti,
    R.SQL_NULL_AWARE_ANTI,
)

register(
    "distinct",
    R.q_distinct,
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders ORDER BY o_orderstatus, o_orderpriority
    """,
)

register(
    "sort_limit",
    R.q_sort_limit,
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
)

register(
    "topk_per_group",
    R.q_topk_per_group,
    """
    SELECT c_mktsegment, c_custkey, c_name, c_acctbal, rk
    FROM (
        SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey ASC
               ) AS rk
        FROM customer
    )
    WHERE rk <= 3
    ORDER BY c_mktsegment, rk
    """,
)

register(
    "window_running",
    R.q_window_running,
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 3
    """,
)

register("window_range_frame", R.q_window_range_frame, R.ORACLE_WINDOW_RANGE_FRAME)

register("merge_upsert", R.q_merge_upsert, R.ORACLE_MERGE_UPSERT)

register("latest_per_key", R.q_latest_per_key, R.ORACLE_LATEST_PER_KEY)

register("join_salted_skew", R.q_join_salted_skew, R.ORACLE_JOIN_SALTED_SKEW)

register("unpivot_metrics", R.q_unpivot_metrics, R.ORACLE_UNPIVOT_METRICS)

register("agg_array_ordered", R.q_agg_array_ordered, R.ORACLE_AGG_ARRAY_ORDERED)

register("incremental_agg_merge", R.q_incremental_agg_merge, R.ORACLE_INCREMENTAL_AGG_MERGE)

register(
    "set_ops",
    R.q_set_ops,
    """
    WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT nationkey, 'both' AS side FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
    UNION ALL
    SELECT nationkey, 'customer_only' AS side FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
    UNION ALL
    SELECT nationkey, 'supplier_only' AS side FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
    ORDER BY nationkey, side
    """,
)

register(
    "rollup",
    R.q_rollup,
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)

register(
    "cube",
    R.q_cube,
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)

register("approx_aggs", R.q_approx_aggs, R.ORACLE_APPROX_AGGS)

register("approx_hll_mergeable", R.q_approx_hll_mergeable, R.ORACLE_APPROX_HLL_MERGEABLE)

register(
    "exact_distinct_counts",
    R.q_exact_distinct_counts,
    """
    SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    """,
)

register(
    "expressions",
    R.q_expressions,
    """
    SELECT o_orderkey,
           YEAR(o_orderdate) AS o_year,
           MONTH(o_orderdate) AS o_month,
           UPPER(o_orderstatus) AS status_upper,
           SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
           LENGTH(o_orderpriority) AS prio_len,
           ROUND(SQRT(o_totalprice), 4) AS price_sqrt,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
)

register(
    "having",
    R.q_having,
    """
    SELECT l_suppkey, COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 50
    ORDER BY l_suppkey
    """,
)

register(
    "subquery_in",
    R.q_subquery_in,
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)
    ORDER BY o_orderkey
    """,
)

register("subquery_not_exists", R.q_subquery_not_exists, R.ORACLE_SUBQUERY_NOT_EXISTS)

register("agg_filtered", R.q_agg_filtered, R.ORACLE_AGG_FILTERED)

register("global_row_number", R.q_global_row_number, R.ORACLE_GLOBAL_ROW_NUMBER)

register("rollup_grouping_id", R.q_rollup_grouping_id, R.ORACLE_ROLLUP_GROUPING_ID)

register("band_join_lookup", R.q_band_join_lookup, R.ORACLE_BAND_JOIN_LOOKUP)

register("monthly_growth", R.q_monthly_growth, R.ORACLE_MONTHLY_GROWTH)

register("conform_union", R.q_conform_union, R.ORACLE_CONFORM_UNION)

register("dedup_keep_best", R.q_dedup_keep_best, R.ORACLE_DEDUP_KEEP_BEST)

register("data_quality_report", R.q_data_quality_report, R.ORACLE_DATA_QUALITY_REPORT)

register("scd2_build", R.q_scd2_build, R.ORACLE_SCD2_BUILD)

register("window_share_of_total", R.q_window_share_of_total, R.ORACLE_WINDOW_SHARE_OF_TOTAL)

register(
    "correlated_scalar_subquery",
    R.q_correlated_scalar_subquery,
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 2 * (
        SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o.o_orderkey
    """,
)

register(
    "pivot",
    R.q_pivot,
    """
    SELECT o_orderstatus,
           NULLIF(COUNT(*) FILTER (WHERE prio = '1'), 0) AS p1,
           NULLIF(COUNT(*) FILTER (WHERE prio = '2'), 0) AS p2,
           NULLIF(COUNT(*) FILTER (WHERE prio = '3'), 0) AS p3,
           NULLIF(COUNT(*) FILTER (WHERE prio = '4'), 0) AS p4,
           NULLIF(COUNT(*) FILTER (WHERE prio = '5'), 0) AS p5
    FROM (SELECT o_orderstatus, SUBSTRING(o_orderpriority, 1, 1) AS prio FROM orders)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)

register(
    "recursive_cte_ancestors",
    R.q_recursive_cte_ancestors,
    R.ORACLE_RECURSIVE_CTE_ANCESTORS,
)

register(
    "values_inline",
    R.q_values_inline,
    """
    SELECT v.band_name, COUNT(*) AS n
    FROM orders o
    JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
         AS v(status, band_name)
      ON o.o_orderstatus = v.status
    GROUP BY v.band_name
    ORDER BY v.band_name
    """,
)


# ------------------------------------------------------------- text analysis

from . import text as TXT  # noqa: E402

for _name, (_fn, _sql) in TXT.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------------------------- dedup

from . import dedup as DD  # noqa: E402

for _name, (_fn, _sql) in DD.oracles().items():
    register(_name, _fn, _sql)

# -------------------------------------------------------- similarity search

from . import similarity as SIM  # noqa: E402

for _name, (_fn, _sql) in SIM.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------------- multimodal columns

from . import multimodal as MM  # noqa: E402

for _name, (_fn, _sql) in MM.oracles().items():
    register(_name, _fn, _sql)

# ---------------------- scalar-function families / grouping sets / lateral

from . import scalar_funcs as SF  # noqa: E402

for _name, (_fn, _sql) in SF.oracles().items():
    register(_name, _fn, _sql)

# --------------------------------------------------- pandas UDF / UDAF

from . import udfs as UDF  # noqa: E402

for _name, (_fn, _sql) in UDF.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------------ sampling / splits

from . import sampling as SMP  # noqa: E402

for _name, (_fn, _sql) in SMP.oracles().items():
    register(_name, _fn, _sql)

# --------------------------------------------- composite corpus pipeline

from . import corpus_prep as CP  # noqa: E402

for _name, (_fn, _sql) in CP.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------ temporal joins / rollup

from . import temporal as TMP  # noqa: E402

for _name, (_fn, _sql) in TMP.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------- source/sink connectors

from . import sources_queries as SRC  # noqa: E402

for _name, (_fn, _sql) in SRC.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------- event-time / streaming

from ..streaming import windows as SW  # noqa: E402

for _name, (_fn, _sql) in SW.oracles().items():
    register(_name, _fn, _sql)

from ..streaming import stateful as SST  # noqa: E402

for _name, (_fn, _sql) in SST.oracles().items():
    register(_name, _fn, _sql)

# ------------------------- incremental view maintenance (delta joins)

register(
    "incremental_join_view",
    R.q_incremental_join_view,
    R.ORACLE_INCREMENTAL_JOIN_VIEW,
)

register(
    "join_shuffle_hash",
    R.q_join_shuffle_hash,
    R.ORACLE_JOIN_SHUFFLE_HASH,
)

register(
    "scd2_point_in_time",
    R.q_scd2_point_in_time,
    R.ORACLE_SCD2_POINT_IN_TIME,
)

register(
    "stats_selectivity_report",
    R.q_stats_selectivity_report,
    R.ORACLE_STATS_SELECTIVITY_REPORT,
)
register(
    "stats_equidepth_histogram",
    R.q_stats_equidepth_histogram,
    R.ORACLE_STATS_EQUIDEPTH_HISTOGRAM,
)
register(
    "join_cardinality_audit",
    R.q_join_cardinality_audit,
    R.ORACLE_JOIN_CARDINALITY_AUDIT,
)

register("cbo_vs_dp_report", R.q_cbo_vs_dp_report, R.ORACLE_CBO_VS_DP_REPORT)
register("cbo_plan_memo", R.q_cbo_plan_memo, R.ORACLE_CBO_PLAN_MEMO)
register(
    "stats_histogram_dump",
    R.q_stats_histogram_dump,
    R.ORACLE_STATS_HISTOGRAM_DUMP,
)

register(
    "stats_histogram_2d_dump",
    R.q_stats_histogram_2d_dump,
    R.ORACLE_STATS_HISTOGRAM_2D_DUMP,
)

register("market_basket_pairs", R.q_market_basket_pairs, R.ORACLE_MARKET_BASKET_PAIRS)
register("recsys_item_cosine", R.q_recsys_item_cosine, R.ORACLE_RECSYS_ITEM_COSINE)

# -------------------------------- corpus prep: decontaminate/chunk/pack

from . import pipeline_prep as PP  # noqa: E402

for _name, (_fn, _sql) in PP.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------- corpus governance / audit / robust stats

from . import governance as GOV  # noqa: E402

for _name, (_fn, _sql) in GOV.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------- iterative graph ops

from . import graph as GR  # noqa: E402

for _name, (_fn, _sql) in GR.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------------- classic TPC-H suite

from . import tpch as TPCH  # noqa: E402

for _name, (_fn, _sql) in TPCH.oracles().items():
    register(_name, _fn, _sql)

# ------------------------------------------- geospatial (grid-blocked)

from . import geo as GEO  # noqa: E402

for _name, (_fn, _sql) in GEO.oracles().items():
    register(_name, _fn, _sql)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in CATALOG.items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in CATALOG.items() if sql is not None}
