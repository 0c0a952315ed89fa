"""Relational query surface.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; each has a
matching ANSI-SQL oracle in ``__spark_entry__.oracle_sql()``. Together they
cover the reference's operator inventory (SURVEY.md §2.1) and the categories
the reference lacks but a complete engine needs (§2.2): projection, filter,
every join type, aggregation, distinct, sort/limit/top-k, set ops, window
functions, cube/rollup, approximate aggregates.

Scale notes (these run against ~100 TB in production):
- Filters and projections are expressed declaratively so Catalyst pushes
  them into the Parquet scan (PushedFilters / ReadSchema pruning).
- Dimension tables (region/nation/supplier/part at TPC-H-ish ratios) are
  broadcast explicitly; fact-fact joins (orders⋈lineitem) shuffle on the
  join key and benefit from AQE skew handling.
- Aggregates use built-in functions only — whole-stage codegen end to end;
  no Python in the hot path.

Reference parity citations are in each docstring (file:line relative to
/root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import track_persist
from ..engine import load_tables
from ..functions.numeric import charge_expr, davg_double, dec, disc_price_expr, dsum_double


def q_flagship_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: customer ⋈ orders ⋈ lineitem + filter + grouped aggregates.

    The OrderJoinsTest query shape (reference
    ``test/unit/optimizer/optimizer_test.cc:415-416``: multi-way equi-join +
    one filter + aggregate) transliterated onto the TPC-H-ish testdata. Joins
    a PK side to an FK side twice — exercising every branch of the reference
    cardinality model (``join_optimizer.cc:76-92``).

    Scale: customer⋈orders shuffles on custkey, orders⋈lineitem on orderkey;
    both keys are near-uniform so no salting needed. The o_totalprice filter
    pushes to the orders scan before the join.
    """
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_totalprice") < 100000.0)
    joined = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum_double(dec("l_extendedprice"), 2).alias("sum_price"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


def q_cbo_ordered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-ordered 4-way join — the reference's full lifecycle.

    Runs the complete pipeline re-expressed from the reference: histogram
    stats built by Spark jobs (table_stats.cc:156-213), filter selectivity
    from the histogram (table_stats.cc:262-268), Selinger DP join ordering
    (join_optimizer.cc:108-137), and the chosen left-deep order emitted as
    one Catalyst join plan without hints, so Spark's own size estimate picks
    each join's algorithm. The result is order-independent, so the DuckDB
    oracle checks semantics while the plan shape is checked by
    tests/test_emitter.py.
    """
    from ..engine import TABLES
    from ..plans.cbo_compare import EXAMPLE_JOINS
    from ..plans.pipeline import FilterSpec, plan_and_emit
    from ..plans.stats import PredicateType as P

    planned = plan_and_emit(
        load_tables(spark, sf_dir),
        EXAMPLE_JOINS,
        filters=[FilterSpec("orders", "o_totalprice", P.LT, 150000)],
        pk_columns=TABLES,
    )
    return (
        planned.df.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_double(disc_price_expr(), 4).alias("revenue"),
        )
        .orderBy("n_name")
    )


def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SeqScan parity: full scan of a table (reference src/operators/seq_scan.cc:14-86).

    In Spark a sequential scan is the Parquet relation itself; every field is
    returned, as SeqScan does (``seq_scan.cc:67-70``).
    """
    t = load_tables(spark, sf_dir)
    return t["nation"].select("n_nationkey", "n_name", "n_regionkey")


def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate vocabulary parity: EQ NE LT LE GT GE (seq_scan.h:19-26).

    One query exercising all six comparison operators the reference defines;
    expressed declaratively so every predicate reaches the Parquet scan.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .filter(
            (F.col("p_size") >= 10)
            & (F.col("p_size") <= 40)
            & (F.col("p_size") != 13)
            & (F.col("p_retailprice") > 900.0)
            & (F.col("p_retailprice") < 1800.0)
            & (F.col("p_brand") == "Brand#3")
        )
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with computed columns (absent in reference — SURVEY §2.2).

    Column pruning: ReadSchema should contain exactly the four source columns.
    """
    t = load_tables(spark, sf_dir)
    # Rounding scale == the exact decimal precision of the true value
    # (price 2dp × discount 2dp → 4dp; × tax 2dp → 6dp): the result is a
    # decimal-grid point, never a rounding-halfway case, so Spark and the
    # DuckDB oracle produce bit-identical doubles.
    return t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
        ).alias("gross_price"),
    )


def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate — COUNT/MIN/MAX/SUM/AVG.

    Parity: the reference's TableStats pass-1 is exactly a global
    min/max/count aggregate per column (table_stats.cc:177-192); its test
    queries imply COUNT (optimizer_test.cc:553,599).
    """
    t = load_tables(spark, sf_dir)
    return t["orders"].agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        davg_double(dec("o_totalprice"), 4).alias("avg_price"),
    )


def q_agg_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped aggregation with many aggregates.

    Map-side partial aggregation + final aggregation are automatic; the
    two grouping columns are low-cardinality so the shuffle is tiny
    regardless of input scale.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_double(dec("l_quantity"), 2).alias("sum_qty"),
            dsum_double(dec("l_extendedprice"), 2).alias("sum_base_price"),
            dsum_double(disc_price_expr(), 4).alias("sum_disc_price"),
            dsum_double(charge_expr(), 6).alias("sum_charge"),
            davg_double(dec("l_quantity"), 4).alias("avg_qty"),
            davg_double(dec("l_extendedprice"), 4).alias("avg_price"),
            davg_double(dec("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join, PK→FK (LogicalJoinNode with op==EQ, join_optimizer.h:17-48).

    nation is tiny → broadcast hint removes the shuffle entirely; at 100 TB
    the supplier side streams through map-side hash probes.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def q_join_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join — the reference's op != EQ case (join_optimizer.h:25).

    Its cardinality model estimates 0.3·card1·card2 for these
    (join_optimizer.cc:88-89) — a warning that output explodes; we keep one
    side broadcast-small so Spark's BroadcastNestedLoopJoin stays cheap.
    Query: for each region, count nations whose key is strictly greater.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["region"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") > F.col("r_regionkey"))
        .groupBy("r_regionkey", "r_name")
        .agg(F.count(F.lit(1)).alias("n_greater"))
        .orderBy("r_regionkey")
    )


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join chain — the OrderJoinsTest shape (optimizer_test.cc:414-500).

    region ⋈ nation ⋈ customer ⋈ orders with a filter, aggregated per
    region. Dimensions broadcast; only customer⋈orders shuffles.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("r_name")
    )


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (absent in reference — SURVEY §2.2 'Semi/anti/outer')."""
    t = load_tables(spark, sf_dir)
    big_orders = t["orders"].filter(F.col("o_totalprice") > 300000.0)
    return (
        t["customer"]
        .join(big_orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_big_orders"),
        )
        .orderBy("c_mktsegment")
    )


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: high-value customers vs recent-order customers —
    rows survive from either side with NULLs on the other.

    Scale: full outer can't broadcast (both sides must see unmatched rows
    of the other), so this is the one join type that always shuffles both
    sides; keys here are unique per side, so no skew.
    """
    t = load_tables(spark, sf_dir)
    rich = (
        t["customer"]
        .filter(F.col("c_acctbal") > 7500.0)
        .select("c_custkey", "c_acctbal")
    )
    recent = (
        t["orders"]
        .filter(F.col("o_orderdate") >= "2001-01-01")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_recent_orders"))
    )
    return (
        rich.join(recent, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .select("c_custkey", "c_acctbal", "o_custkey", "n_recent_orders")
        .orderBy(
            F.col("c_custkey").asc_nulls_first(), F.col("o_custkey").asc_nulls_first()
        )
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers having at least one urgent order."""
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no urgent orders.

    (Filtered to urgent orders so the result is non-empty at every test
    scale factor — an all-customers anti join matches vacuously.)
    """
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


# Shared by the Spark side and the DuckDB oracle verbatim: the whole
# point is that BOTH engines implement the same three-valued logic.
# "risky" suppliers report their nation only below the -100 dead-band;
# mildly-negative suppliers yield NULL — so NOT IN silently returns
# ZERO rows whenever any NULL is present (x <> NULL is UNKNOWN), while
# the null-safe formulations keep matching. The four variants over
# identical data pin that contrast as data, not prose.
SQL_NULL_AWARE_ANTI = """
WITH risky AS (
    SELECT CASE WHEN s_acctbal > -100 THEN NULL ELSE s_nationkey END
               AS bad_nation
    FROM supplier WHERE s_acctbal < 0
)
SELECT 'anti_join_left' AS variant, COUNT(*) AS n_rows
FROM customer c
LEFT JOIN (SELECT DISTINCT bad_nation FROM risky
           WHERE bad_nation IS NOT NULL) r
  ON c.c_nationkey = r.bad_nation
WHERE r.bad_nation IS NULL
UNION ALL
SELECT 'not_exists' AS variant, COUNT(*) AS n_rows
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM risky r
                  WHERE r.bad_nation = c.c_nationkey)
UNION ALL
SELECT 'not_in' AS variant, COUNT(*) AS n_rows
FROM customer
WHERE c_nationkey NOT IN (SELECT bad_nation FROM risky)
UNION ALL
SELECT 'not_in_guarded' AS variant, COUNT(*) AS n_rows
FROM customer
WHERE c_nationkey NOT IN (SELECT bad_nation FROM risky
                          WHERE bad_nation IS NOT NULL)
ORDER BY variant
"""


def q_join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware anti join — the three-valued-logic corner of the join
    family that plain ``left_anti`` (``q_join_anti``) never exercises:
    ``NOT IN`` over a subquery that can produce NULL. One NULL in the
    set makes every ``x NOT IN`` predicate UNKNOWN, so the variant
    returns zero rows, while NOT EXISTS / guarded NOT IN / left-join-
    is-null keep their (identical) counts. Returns all four variant
    counts side by side; Spark and the oracle run the SAME SQL text,
    so the hash match certifies both engines implement the standard.

    Physical-plan note: Spark compiles the unguarded NOT IN to a
    null-aware anti join (BroadcastHashJoin ... isNullAwareAntiJoin /
    BroadcastNestedLoopJoin fallback) — the build side must broadcast,
    which is fine at any scale because it is an already-aggregated
    nation-domain set, not the supplier corpus.
    """
    load_tables(spark, sf_dir)
    return spark.sql(SQL_NULL_AWARE_ANTI)


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (hash aggregate without aggregates) — SURVEY §2.2."""
    t = load_tables(spark, sf_dir)
    return t["orders"].select("o_orderstatus", "o_orderpriority").distinct().orderBy(
        "o_orderstatus", "o_orderpriority"
    )


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Spark TakeOrderedAndProject (no full sort at scale)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window — the scalable top-k idiom.

    Window shuffles once on the partition key; rank filter prunes to K rows
    per group before anything leaves the executors.
    """
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        t["customer"]
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal", "rk")
        .orderBy("c_mktsegment", "rk")
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) window aggregate per partition key."""
    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        t["lineitem"]
        .filter(F.col("l_suppkey") <= 3)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum(dec("l_quantity")).over(w).cast("double"), 2).alias("running_qty"),
        )
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-customer trailing-30-day order
    stats (vs the ROWS frames of ``window_running``).

    RANGE frames are value-based — all peers within [ts-30d, ts] join the
    frame regardless of row position, the semantics ROWS frames cannot
    express. Spark's rangeBetween needs a numeric ordering key, so the
    frame is anchored on epoch seconds; DuckDB expresses the same frame
    natively as RANGE INTERVAL 30 DAY PRECEDING (both bounds inclusive in
    both engines).

    Scale: one shuffle on o_custkey; frame evaluation is a per-partition
    sorted sliding aggregate — no self-join, no state beyond the 30-day
    frame buffer.
    """
    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_seconds(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-30 * 86400, 0)
    )
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.round(
            F.sum(dec("o_totalprice")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            4,
        ).alias("avg_price_30d"),
    )


ORACLE_WINDOW_RANGE_FRAME = """
    SELECT o_orderkey, o_custkey, o_orderdate,
           COUNT(*) OVER w AS n_orders_30d,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 4) AS avg_price_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot merge (CDC upsert): apply a deterministic change-set to the
    orders table and aggregate the merged state.

    The reference's write path updates records in place by TID
    (``src/heap/heap_file.cc:151-257``); with immutable datasets the
    Spark-idiomatic equivalent is merge-on-write — changed rows replace
    their old versions, unchanged rows carry over (anti-join + union), and
    the job writes a new snapshot atomically. Here the change-set is
    derived in-query (every 10th order gets a 10% price bump) so the
    result oracles exactly.

    Scale: the anti-join shuffles base and updates on the key once; with a
    bucketed base table it is shuffle-free on the base side. Update
    arithmetic stays in exact decimal.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    bump = F.lit(1.1).cast("decimal(3,2)")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (dec("o_totalprice") * bump).alias("price"),
    )
    carried = (
        orders.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
        .select("o_orderkey", "o_orderstatus", dec("o_totalprice").alias("price"))
    )
    merged = updates.unionByName(carried, allowMissingColumns=False)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_double(F.col("price"), 4).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_MERGE_UPSERT = """
    WITH updates AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2)) AS price
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
        SELECT o_orderstatus, price FROM updates
        UNION ALL
        SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(price) AS DOUBLE), 4) AS sum_price
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT — SURVEY §2.2 'Set operations'.

    Nationkeys that have customers or suppliers, tagged by which side.
    """
    t = load_tables(spark, sf_dir)
    cust_nations = t["customer"].select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp_nations = t["supplier"].select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cust_nations.intersect(supp_nations).withColumn("side", F.lit("both"))
    cust_only = cust_nations.exceptAll(supp_nations).withColumn("side", F.lit("customer_only"))
    supp_only = supp_nations.exceptAll(cust_nations).withColumn("side", F.lit("supplier_only"))
    return both.unionByName(cust_only).unionByName(supp_only).orderBy("nationkey", "side")


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.2 'grouping sets / cube / rollup')."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the scale path for distinct counts/quantiles.

    ``approx_count_distinct`` (HyperLogLog++) and ``percentile_approx``
    replace exact shuffles with mergeable sketches — the only sane way to
    compute these at 100 TB. Sketch outputs are implementation-defined, so
    the query emits the EXACT values (engine-independent) alongside
    booleans asserting each sketch landed inside its error bound: HLL at
    rsd=0.01 within ±5 % (5σ) of the exact distinct count, and the approx
    median checked by RANK — the fraction of rows at-or-below the sketch's
    value must sit within ±1 % of 0.5 (percentile_approx guarantees rank
    error ≤ 1/accuracy = 1e-4). The DuckDB oracle computes the exact side
    and literal TRUEs, so any bound violation flips a hash-checked column.
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    # Exact distincts and sketches in SEPARATE aggregates, joined as
    # 1-row frames: mixing COUNT(DISTINCT) with non-distinct aggregates
    # in one plan routes the sketch buffers through the multi-phase
    # distinct rewrite's Expand (measured 23x slower for the identical
    # result — 1s + 1s apart vs 23s combined at sf0.1). Two scans of the
    # fact table beat one scan through the pathological plan shape.
    exact = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    sketch = li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("a_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("a_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a_med"),
    )
    stats = exact.crossJoin(sketch)
    # Rank-check pass: one extra scan joined to the broadcast 1-row stats.
    ranked = (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(stats))
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.first("n_orders").alias("n_orders"),
            F.first("n_parts").alias("n_parts"),
            F.first("a_orders").alias("a_orders"),
            F.first("a_parts").alias("a_parts"),
            (
                F.sum(
                    F.when(F.col("l_extendedprice") <= F.col("a_med"), 1).otherwise(0)
                )
                / F.count(F.lit(1))
            ).alias("med_rank_frac"),
        )
    )
    return ranked.select(
        "n_rows",
        "n_orders",
        "n_parts",
        (
            F.abs(F.col("a_orders") - F.col("n_orders")) <= 0.05 * F.col("n_orders")
        ).alias("orders_within_bound"),
        (
            F.abs(F.col("a_parts") - F.col("n_parts")) <= 0.05 * F.col("n_parts")
        ).alias("parts_within_bound"),
        (F.abs(F.col("med_rank_frac") - 0.5) <= 0.01).alias("median_within_bound"),
    )


ORACLE_APPROX_AGGS = """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           TRUE AS orders_within_bound,
           TRUE AS parts_within_bound,
           TRUE AS median_within_bound
    FROM lineitem
"""


def q_exact_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact companion to q_approx_aggs (oracle-checkable)."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: string / date / math / conditional.

    The reference's type system is int-only (SURVEY §1.2); a complete engine
    needs the scalar vocabulary. All JVM-side built-ins — no UDFs.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .filter(F.col("o_orderkey") <= 500)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            F.upper("o_orderstatus").alias("status_upper"),
            F.substring("o_orderpriority", 1, 1).alias("prio_code"),
            F.length("o_orderpriority").alias("prio_len"),
            F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
            F.when(F.col("o_totalprice") > 200000, "high")
            .when(F.col("o_totalprice") > 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
        )
        .orderBy("o_orderkey")
    )


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_double(dec("l_extendedprice"), 2).alias("sum_price"),
        )
        .filter(F.col("n_items") > 50)
        .orderBy("l_suppkey")
    )


def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery shape via SQL (Catalyst rewrites to a semi join)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0
        )
        ORDER BY o_orderkey
        """
    )


def q_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into a join).

    Orders costing above their customer's average order price.
    """
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > 2 * (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o.o_orderkey
        """
    )


def q_subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS (Catalyst decorrelates to a left-anti join):
    customers with no 1995 order. Completes the subquery family next to
    IN (semi) and the correlated scalar."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= DATE '1995-01-01'
              AND o.o_orderdate <  DATE '1996-01-01'
        )
        ORDER BY c_custkey
        """
    )


ORACLE_SUBQUERY_NOT_EXISTS = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= DATE '1995-01-01'
      AND o.o_orderdate <  DATE '1996-01-01'
)
ORDER BY c_custkey
"""


def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause): several
    differently-filtered aggregates in ONE pass over the fact — the
    alternative is N scans or N joins. Expressed as when()-guarded
    aggregates so all conditions evaluate inside the same partial agg."""
    t = load_tables(spark, sf_dir)
    price = dec("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.round(
                F.sum(
                    F.when(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"), price)
                ).cast("double"),
                2,
            ).alias("price_since_95"),
            F.round(
                F.sum(F.when(F.col("l_quantity") < 10, price)).cast("double"), 2
            ).alias("price_small_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_AGG_FILTERED = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
             FILTER (WHERE l_shipdate >= TIMESTAMP '1995-01-01') AS DOUBLE), 2)
           AS price_since_95,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
             FILTER (WHERE l_quantity < 10) AS DOUBLE), 2) AS price_small_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


GLOBAL_ROWNUM_PARTS = 16


def distributed_row_number(
    df: DataFrame,
    order_cols,
    pid,
    n_parts: int,
    rn_col: str = "rn",
    return_total: bool = False,
    counts: dict[int, int] | None = None,
):
    """Global ``row_number() OVER (ORDER BY order_cols)`` WITHOUT the
    single-partition window (WindowExec's "No Partition Defined" trap).

    ``pid`` must be an integer Column in ``[0, n_parts)`` that is a pure
    function of the LEADING sort key and monotone non-decreasing in the
    sort order — i.e. explicit, deterministic range buckets. (Computing it
    from ``spark_partition_id()`` after ``repartitionByRange`` is NOT safe:
    the offsets branch and the numbering branch would each sample their own
    partitioner, and disagreeing boundaries silently corrupt every offset.)

    Shape: one hash shuffle on ``_pid`` (disjoint ordered key ranges) and
    a partition-local sort + row_number in parallel. The cumulative
    offsets are n_parts scalars — like ``range_bucket``'s quantile cuts
    they are computed by one driver-side metadata action (a groupBy-count
    of n_parts rows) and injected as a literal map lookup, so the plan
    carries NO global window, no SinglePartition exchange, and no join.
    Cross-partition coordination touches n_parts rows, not N — the plan
    survives 100 TB.

    ``return_total=True`` returns ``(df, total_rows)`` — the total is a
    free by-product of the offsets action, saving ``exact_ntile``
    callers a separate full count() job over the same frame.
    """
    parts = df.withColumn("_pid", pid).repartition(n_parts, "_pid")
    # the offsets job aggregates the pid EXPRESSION directly (map-side
    # partial agg -> n_parts rows cross the wire) instead of reusing
    # ``parts``, whose plan would shuffle the full frame just to count
    # bucket sizes — pid is deterministic, so the counts are identical.
    # Callers ranking one frame by several keys pass precomputed
    # ``counts`` (one fused conditional-sum job) and skip the action.
    if counts is None:
        counts = dict(
            df.select(pid.alias("_pid"))
            .groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
    assert all(p is not None for p in counts), (
        "distributed_row_number: pid must never be NULL — NULL sort keys "
        "need an explicit bucket (see range_bucket's NULL mapping)"
    )
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    if not offsets:  # empty input: keep the expression well-formed
        offsets = {0: 0}
    # keys/values cast explicitly: a literal offset past 2^31 would
    # otherwise flip that entry to LongType and make create_map's value
    # types inconsistent
    offset_map = F.create_map(
        *[
            c
            for p, off in offsets.items()
            for c in (
                F.lit(p).cast("int"),
                F.lit(off).cast("long"),
            )
        ]
    )
    w_local = W.partitionBy("_pid").orderBy(*order_cols)
    out = (
        parts.withColumn(
            rn_col,
            F.row_number().over(w_local) + F.element_at(offset_map, F.col("_pid")),
        )
        .drop("_pid")
    )
    if return_total:
        return out, acc
    return out


def distributed_prefix_agg(
    df: DataFrame,
    order_col: str,
    val_col: str,
    pid,
    n_parts: int,
    kind: str = "sum",
    out_col: str = "_prefix",
    descending: bool = False,
) -> DataFrame:
    """EXCLUSIVE prefix aggregate (running ``sum`` or ``max`` over all
    STRICTLY-PRECEDING rows) of ``val_col`` in the global ``order_col``
    order, without the single-partition window — the prefix-scan sibling
    of :func:`distributed_row_number` with the same ``pid`` contract
    (monotone range buckets from :func:`range_bucket`; equal keys must
    share a bucket, and ``order_col`` must be unique per row so the
    within-bucket order is total).

    Shape: one hash shuffle on ``_pid`` + parallel partition-local
    prefix windows; the cross-bucket carry is n_parts scalars collected
    to the driver and re-emitted as a literal map (no join, no second
    corpus pass). First-overall row gets NULL for ``max`` and 0 for
    ``sum``-with-coalesce, matching the window form.
    """
    assert kind in ("sum", "max")
    fn = F.sum if kind == "sum" else F.max
    d = df.withColumn("_pid", pid)
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w_loc = (
        W.partitionBy("_pid").orderBy(oc).rowsBetween(W.unboundedPreceding, -1)
    )
    local = d.withColumn("_loc", fn(val_col).over(w_loc))
    tots = {
        r["_pid"]: r["_t"]
        for r in d.groupBy("_pid").agg(fn(val_col).alias("_t")).collect()
    }
    offs: dict[int, object] = {}
    acc = None
    for p in range(n_parts):
        offs[p] = acc
        t = tots.get(p)
        if kind == "sum":
            acc = (acc or 0) + (t or 0)
        elif t is not None:
            acc = t if acc is None or t > acc else acc
    entries = []
    for p in range(n_parts):
        entries += [F.lit(p), F.lit(offs[p]).cast("long")]
    off = F.create_map(*entries)[F.col("_pid")]
    if kind == "sum":
        combined = F.coalesce(F.col("_loc"), F.lit(0)) + F.coalesce(
            off, F.lit(0)
        )
    else:
        combined = F.greatest(F.col("_loc"), off)
    return local.withColumn(out_col, combined).drop("_loc", "_pid")


def range_bucket(
    df: DataFrame,
    col_name: str,
    n_parts: int,
    descending: bool = False,
    cuts: list | None = None,
):
    """Monotone range-bucket expression for a NUMERIC sort key, for use as
    ``distributed_row_number``'s ``pid``: driver-computed approx-quantile
    cuts (n_parts-1 scalars) make the bucket a pure function of the key.
    Equal keys always land in the same bucket, so any tie-break column may
    follow in ``order_cols``. ``descending=True`` buckets for a DESC sort.

    NULL keys map to the bucket matching Spark's DEFAULT null placement
    for each direction — ``asc`` puts nulls first (bucket 0), ``desc``
    puts nulls last (bucket n_parts-1) — so ``order_cols`` built with
    plain ``.asc()``/``.desc()`` stay consistent; a caller using
    ``asc_nulls_last``/``desc_nulls_first`` must supply its own pid.
    approxQuantile ignores NULLs, so the cuts are unaffected.
    """
    if n_parts <= 1:
        return F.lit(0)
    if cuts is None:
        qs = [i / n_parts for i in range(1, n_parts)]
        cuts = df.stat.approxQuantile(col_name, qs, 0.001)
    # callers with several keyed ranks over ONE frame pass precomputed
    # ``cuts`` from a single multi-column approxQuantile action
    # (identical per-column sketch), collapsing n driver jobs into one
    c = F.col(col_name)
    if descending:
        expr = sum(((c < F.lit(x)).cast("int") for x in reversed(cuts)), F.lit(0))
        null_bucket = n_parts - 1
    else:
        expr = sum(((c > F.lit(x)).cast("int") for x in cuts), F.lit(0))
        null_bucket = 0
    return F.when(c.isNull(), F.lit(null_bucket)).otherwise(expr)


def exact_ntile(rn_col: str, n: int, k: int):
    """Exact ``NTILE(k)`` from a global 1-based rank and the frame size
    ``n`` (one count scalar): the first ``n % k`` buckets hold
    ``n DIV k + 1`` rows, the rest ``n DIV k`` — pure integer arithmetic,
    identical to the window function on every engine, no window needed.
    """
    q, r = divmod(n, k)
    big = r * (q + 1)
    if q == 0:
        return F.col(rn_col).cast("int")
    return (
        F.when(
            F.col(rn_col) <= F.lit(big),
            F.expr(f"CAST(({rn_col} + {q}) DIV {q + 1} AS INT)"),
        ).otherwise(
            F.expr(f"CAST({r} + ({rn_col} - {big} + {q} - 1) DIV {q} AS INT)")
        )
    )


def q_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-ordered row numbers WITHOUT a single-partition window.

    ``row_number() OVER (ORDER BY k)`` collapses to one partition — the
    classic scale trap. The distributed form: range-partition on the key
    (so partitions hold disjoint, ordered key ranges), number rows within
    each partition in parallel, then add each partition's cumulative
    offset (a per-partition count — GLOBAL_ROWNUM_PARTS rows — broadcast
    back). Same result as the global window, but the only full-data
    operations are one range shuffle and a partition-local sort; the
    cross-partition coordination handles N_partitions rows, not N.
    """
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang")
    pid = range_bucket(docs, "doc_id", GLOBAL_ROWNUM_PARTS)
    return (
        distributed_row_number(docs, ["doc_id"], pid, GLOBAL_ROWNUM_PARTS)
        .select("doc_id", "lang", "rn")
        .orderBy("doc_id")
    )


ORACLE_GLOBAL_ROW_NUMBER = """
SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
FROM documents
ORDER BY doc_id
"""


def q_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators: subtotal rows are identified by
    the grouping flags, not by fragile NULL-vs-real-NULL inspection —
    the way BI consumers distinguish aggregation levels."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORACLE_ROLLUP_GROUPING_ID = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q_window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total analytics (ratio_to_report): each segment's revenue
    share of the global total and its share within its nation — two
    unbounded-window divisions computed without re-joining the aggregate
    back (one pass, no self-join). Shares are exact-decimal ratios rounded
    identically on both engines."""
    t = load_tables(spark, sf_dir)
    seg = (
        t["customer"]
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.sum(dec("c_acctbal")).alias("_bal"))
    )
    w_all = W.partitionBy()
    w_nation = W.partitionBy("c_nationkey")
    return seg.select(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("_bal").cast("double"), 2).alias("balance"),
        (
            F.floor(
                (F.col("_bal").cast("double") / F.sum("_bal").over(w_all).cast("double"))
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("share_global"),
        (
            F.floor(
                (F.col("_bal").cast("double") / F.sum("_bal").over(w_nation).cast("double"))
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("share_nation"),
    ).orderBy("c_nationkey", "c_mktsegment")


ORACLE_WINDOW_SHARE_OF_TOTAL = """
WITH seg AS (
    SELECT c_nationkey, c_mktsegment,
           SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS _bal
    FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment,
       ROUND(CAST(_bal AS DOUBLE), 2) AS balance,
       FLOOR(CAST(_bal AS DOUBLE) / CAST(SUM(_bal) OVER () AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS share_global,
       FLOOR(CAST(_bal AS DOUBLE) / CAST(SUM(_bal) OVER (PARTITION BY c_nationkey) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS share_nation
FROM seg
ORDER BY c_nationkey, c_mktsegment
"""


def q_conform_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema harmonization: two heterogeneous sources (customer, supplier)
    conformed into one 'parties' dimension — per-source column mapping,
    a discriminator column, and a shared surrogate key space (source-tagged
    so keys can't collide). The integration step every multi-source
    pipeline runs before joins; unionByName keeps it map-side only."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("party_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.round(dec("c_acctbal").cast("double"), 2).alias("balance"),
        F.lit("customer").alias("kind"),
    )
    supp = t["supplier"].select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("party_id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.round(dec("s_acctbal").cast("double"), 2).alias("balance"),
        F.lit("supplier").alias("kind"),
    )
    return cust.unionByName(supp).orderBy("party_id")


ORACLE_CONFORM_UNION = """
SELECT 'C' || c_custkey AS party_id, c_name AS name, c_nationkey AS nationkey,
       ROUND(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE), 2) AS balance,
       'customer' AS kind
FROM customer
UNION ALL
SELECT 'S' || s_suppkey, s_name, s_nationkey,
       ROUND(CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE), 2), 'supplier'
FROM supplier
ORDER BY party_id
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven dedup: within each content-fingerprint cluster keep
    the HIGHEST-QUALITY copy (longest text, doc_id as tiebreak), not
    merely the first-seen — the survivorship rule of a real corpus
    compaction. The fingerprint is the 40-char prefix hash (prefix
    collisions form real multi-doc clusters in the testdata, so the
    policy is actually exercised: ~24 docs drop at sf0.01). One shuffle
    on the fingerprint; WindowGroupLimit prunes map-side."""
    docs = load_tables(spark, sf_dir)["documents"]
    key = F.md5(
        F.lower(F.substring(F.col("text"), 1, 40)).cast("binary")
    ).alias("chash")
    w = W.partitionBy("chash").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", "n_chars", key)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "chash")
        .orderBy("doc_id")
    )


ORACLE_DEDUP_KEEP_BEST = """
SELECT doc_id, lang, n_chars, chash
FROM (
    SELECT doc_id, lang, n_chars, md5(lower(substr(text, 1, 40))) AS chash,
           ROW_NUMBER() OVER (
               PARTITION BY md5(lower(substr(text, 1, 40)))
               ORDER BY n_chars DESC, doc_id ASC
           ) AS rn
    FROM documents
)
WHERE rn = 1
ORDER BY doc_id
"""


def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly rollup, then lag() on the
    AGGREGATED frame (months, not orders) — the window never touches raw
    rows, so its single-partition ordering is over a few dozen rows no
    matter the fact size. Growth is quantized with floor(x+0.5) on both
    engines (Spark and DuckDB round ties differently)."""
    t = load_tables(spark, sf_dir)
    monthly = (
        t["orders"]
        .groupBy(F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"))
        .agg(F.sum(dec("o_totalprice")).alias("_rev"), F.count(F.lit(1)).alias("n_orders"))
    )
    w = W.orderBy("month")
    prev = F.lag("_rev").over(w)
    return monthly.select(
        "month",
        "n_orders",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        (
            F.floor(
                (
                    (F.col("_rev").cast("double") - prev.cast("double"))
                    / prev.cast("double")
                )
                * 1e4
                + 0.5
            )
            / 1e4
        ).alias("mom_growth"),
    ).orderBy("month")


ORACLE_MONTHLY_GROWTH = """
WITH monthly AS (
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS _rev,
           COUNT(*) AS n_orders
    FROM orders GROUP BY month
)
SELECT month, n_orders,
       ROUND(CAST(_rev AS DOUBLE), 2) AS revenue,
       FLOOR(CAST((_rev - LAG(_rev) OVER (ORDER BY month)) AS DOUBLE)
             / CAST(LAG(_rev) OVER (ORDER BY month) AS DOUBLE) * 1e4 + 0.5) / 1e4
           AS mom_growth
FROM monthly
ORDER BY month
"""


PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 300_000.0),
    ("luxury", 300_000.0, 1e12),
]


def q_band_join_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-banding lookup: each order assigned to its price band via
    a BETWEEN join (lo <= price < hi) against a tiny band table.

    The non-equi containment join has no hash-join form; with a band table
    of single-digit rows the right plan at ANY fact scale is a broadcast
    nested loop — per-row band resolution fused into the scan, no shuffle
    until the per-band rollup. (Only when the range side grows large does
    the bucketed range join, `range_join_bucketed`, take over.)
    """
    t = load_tables(spark, sf_dir)
    bands = spark.createDataFrame(
        PRICE_BANDS, "band string, lo double, hi double"
    )
    o = t["orders"]
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(dec("o_totalprice")).cast("double"), 2).alias(
                "band_revenue"
            ),
        )
        .orderBy("band")
    )


ORACLE_BAND_JOIN_LOOKUP = """
WITH bands(band, lo, hi) AS (
    VALUES ('budget', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
           ('premium', 150000.0, 300000.0), ('luxury', 300000.0, 1e12)
)
SELECT band, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS band_revenue
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
"""


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate data validation: one row per constraint, value = number
    of violating rows (0 = constraint holds). Covers the expectation
    classes a pipeline checks before promoting a batch: key uniqueness,
    referential integrity, null rate, domain range.

    Scale: each check is an independent aggregate over one scan (counts
    push map-side); the orphan check is the only join and its build side
    is the distinct customer keys. The union is N_checks rows.
    """
    t = load_tables(spark, sf_dir)
    orders, customer = t["orders"], t["customer"]

    dup_keys = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("value"))
        .select(F.lit("dup_orderkey_rows").alias("check_name"), "value")
    )
    null_cust = orders.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("value")
    ).select(F.lit("null_custkey_rows").alias("check_name"), "value")
    orphans = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("orphan_order_rows").alias("check_name"), "value")
    )
    bad_price = orders.agg(
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("value")
    ).select(F.lit("nonpositive_price_rows").alias("check_name"), "value")
    bad_status = orders.agg(
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias("value")
    ).select(F.lit("unknown_status_rows").alias("check_name"), "value")

    return (
        dup_keys.unionByName(null_cust)
        .unionByName(orphans)
        .unionByName(bad_price)
        .unionByName(bad_status)
        .orderBy("check_name")
    )


ORACLE_DATA_QUALITY_REPORT = """
SELECT check_name, CAST(value AS BIGINT) AS value FROM (
    -- SUM over BIGINT widens to HUGEINT in DuckDB and would drag the whole
    -- unioned column to int128 (hashes differently from Spark's bigint)
    SELECT 'dup_orderkey_rows' AS check_name, COALESCE(SUM(n), 0) AS value
    FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'null_custkey_rows', COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
    UNION ALL
    SELECT 'orphan_order_rows', COUNT(*) FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'nonpositive_price_rows', COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
    UNION ALL
    SELECT 'unknown_status_rows',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) FROM orders
)
ORDER BY check_name
"""


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: each user's
    purchase events become validity intervals — value effective from its
    event until the next one (open-ended for the latest). One shuffle on
    the entity key; lead() is partition-local after it."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.round("value", 2).alias("value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            (F.lead("ts").over(w).isNull()).alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


ORACLE_SCD2_BUILD = """
SELECT user_id,
       ROUND(value, 2) AS value,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from
"""


BASKET_TOP_K = 50


def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise frequent-itemset mining (market-basket support counts):
    the top-BASKET_TOP_K part pairs most often bought in the SAME order.
    The pair generator is a self-join on the order key — safe at any
    scale because its fan-out is items-per-order choose 2 (TPC-H ≤ 7
    lines/order ⇒ ≤ 21 pairs), bounded per basket regardless of corpus
    size; support counting is a map-side-combinable groupBy on the pair,
    and the rank window runs AFTER the top-k limit (the zipf_token_rank
    discipline — never a corpus-sized global sort). Distinct-ifying
    partkeys first keeps duplicate part lines from inflating support.
    """
    li = load_tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = li.toDF("okey", "part_a")
    b = li.toDF("okey", "part_b")
    pairs = a.join(b, "okey").filter(F.col("part_a") < F.col("part_b"))
    top = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(BASKET_TOP_K)
    )
    rk = F.row_number().over(
        W.orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
    )
    return top.withColumn("rnk", rk).orderBy("rnk")


RECSYS_MIN_CO = 3  # minimum co-interaction support
RECSYS_TOP_K = 50
# Hub guard: users with more than this many distinct items are dropped
# BEFORE the pair self-join. The pair fan-out is (items-per-user choose
# 2), so one 10^5-item power user is 5×10^9 pairs through a single join
# key at web scale; hyperactive users also carry near-zero collaborative
# signal (they co-occur with everything). 64 sits at ~p95-p99 of the
# TPC-H test distribution (sf0.001 max=66, sf0.01 max=90), so the cap
# BINDS at test scale and the oracle hash pins its exact semantics.
RECSYS_MAX_ITEMS_PER_USER = 64


def q_recsys_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ("customers who bought X also
    bought"): cosine similarity over the binary user×item interaction
    matrix, cos(a,b) = |U_a∩U_b| / √(|U_a|·|U_b|) — the popularity
    normalization that separates this from ``q_market_basket_pairs``'s
    raw support (two blockbusters co-occur with everything; cosine
    surfaces genuinely coupled niche items).

    Pair fan-out is bounded per user by (items-per-user choose 2) — the
    basket argument, one level up — and hard-bounded by the shipped hub
    cap: users above RECSYS_MAX_ITEMS_PER_USER distinct items are
    filtered out before the self-join (the same hub treatment as
    ``graph_degree_distribution`` documents), so per-key fan-out is
    ≤ (cap choose 2) regardless of corpus skew. Item norms are computed
    over the SAME capped matrix, so the output stays a true cosine of
    the matrix actually joined. Counts are exact integers; cosine is ONE
    IEEE expression over them; the top-k sort key is the 9-dp-rounded
    cosine (identical double both engines) with key tie-breaks, and the
    re-rank window runs AFTER the limit (zipf discipline). The capped
    interaction frame is persist()ed (lineage intact — fault-tolerant at
    cluster scale, unlike localCheckpoint) because it feeds item norms
    plus both pair sides.
    """
    t = load_tables(spark, sf_dir)
    ui_all = (
        t["orders"]
        .join(t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    kept = (
        ui_all.groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items") <= RECSYS_MAX_ITEMS_PER_USER)
        .select("u")
    )
    # Tracked: the harness unpersists after the consuming action.
    # Persisted PRE-PARTITIONED on u (guide §2.4): the pair self-join
    # below joins this frame to itself on u, so caching it already
    # hash-partitioned lets both join sides reuse the cached layout —
    # the join's two per-side Exchanges disappear from the plan and the
    # only remaining corpus shuffle is the (part_a, part_b) aggregate.
    ui = track_persist(ui_all.join(kept, "u").repartition("u"))
    na = ui.groupBy("item").agg(F.count(F.lit(1)).alias("n_u"))
    a = ui.toDF("u", "part_a")
    b = ui.toDF("u", "part_b")
    co = (
        a.join(b, "u")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= RECSYS_MIN_CO)
    )
    joined = (
        co.join(na.toDF("part_a", "n_a"), "part_a")
        .join(na.toDF("part_b", "n_b"), "part_b")
    )
    cos = F.col("co").cast("double") / F.sqrt(
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    top = (
        joined.select("part_a", "part_b", "n_a", "n_b", "co", cos.alias("cosine"))
        .orderBy(F.round(F.col("cosine"), 9).desc(), "part_a", "part_b")
        .limit(RECSYS_TOP_K)
    )
    rk = F.row_number().over(
        W.orderBy(F.round(F.col("cosine"), 9).desc(), "part_a", "part_b")
    )
    return top.withColumn("rnk", rk).orderBy("rnk")


ORACLE_RECSYS_ITEM_COSINE = f"""
WITH ui_all AS (
    SELECT DISTINCT o_custkey AS u, l_partkey AS item
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), kept AS (
    SELECT u FROM ui_all GROUP BY u
    HAVING COUNT(*) <= {RECSYS_MAX_ITEMS_PER_USER}
), ui AS (
    SELECT ui_all.u, ui_all.item FROM ui_all JOIN kept ON ui_all.u = kept.u
), na AS (
    SELECT item, CAST(COUNT(*) AS BIGINT) AS n_u FROM ui GROUP BY item
), co AS (
    SELECT a.item AS part_a, b.item AS part_b, CAST(COUNT(*) AS BIGINT) AS co
    FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= {RECSYS_MIN_CO}
), scored AS (
    SELECT part_a, part_b, x.n_u AS n_a, y.n_u AS n_b, co,
           CAST(co AS DOUBLE)
               / sqrt(CAST(x.n_u AS DOUBLE) * CAST(y.n_u AS DOUBLE)) AS cosine
    FROM co JOIN na x ON co.part_a = x.item JOIN na y ON co.part_b = y.item
), top AS (
    SELECT * FROM scored
    ORDER BY ROUND(cosine, 9) DESC, part_a, part_b
    LIMIT {RECSYS_TOP_K}
)
SELECT part_a, part_b, n_a, n_b, co, cosine,
       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(cosine, 9) DESC, part_a, part_b)
            AS INT) AS rnk
FROM top
ORDER BY rnk
"""


ORACLE_MARKET_BASKET_PAIRS = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS okey, l_partkey FROM lineitem
),
top AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
    FROM items a JOIN items b ON a.okey = b.okey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT {BASKET_TOP_K}
)
SELECT part_a, part_b, support,
       ROW_NUMBER() OVER (ORDER BY support DESC, part_a, part_b) AS rnk
FROM top
ORDER BY rnk
"""


def q_cbo_vs_dp_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both optimizers on ONE join graph, made observable: the reference
    Selinger DP (plans/planner.py, join_optimizer.cc:108-137 semantics)
    and Catalyst's own CostBasedJoinReorder (ANALYZE-fed) each choose an
    order for customer⋈orders⋈lineitem⋈nation; both orders are then
    costed under the REFERENCE model. The DP is optimal over left-deep
    orders under that model, so its cost must be ≤ Catalyst's — the
    cross-optimizer invariant tests/test_cbo_compare.py enforces; this
    entry surfaces the orders and the optimality invariant as data.
    Stats collection is distributed (TableStats two-job build, Catalyst
    ANALYZE); only the O(2^n) enumeration over 4 tables runs on the
    driver — optimizer work, not data work.

    Hash-checkable since round 6. What the oracle pins is only what this
    repo controls: the DP's chosen order (a deterministic function of the
    seeded testdata's relative table sizes, verified stable across
    sf0.001/0.01/0.1), the Selinger optimality contract
    ``dp_cost_le_catalyst`` (the DP is optimal over left-deep orders
    under its own model, so Catalyst's order can never beat it there),
    and a validity bit for Catalyst's order (it must be a permutation of
    the four involved tables). Catalyst's CONCRETE order is deliberately
    NOT in the hashed output — it belongs to Spark's CBO + ANALYZE
    stats, so pinning it as a literal would couple the driver hash to
    the Spark version with no defect in this repo. A DP regression that
    picks a worse order flips the order string or the boolean and fails
    the driver hash. (Raw model costs are SF-dependent and live in
    tests/test_cbo_compare.py instead.)
    """
    from ..engine import TABLES
    from ..plans.cbo_compare import (
        EXAMPLE_JOINS as joins,
        catalyst_join_order,
        reference_cost_of_order,
        table_order_of_plan,
    )
    from ..plans.planner import JoinOptimizer
    from ..plans.stats import TableStats

    involved = table_order_of_plan(joins)
    t = load_tables(spark, sf_dir)
    stats = {n: TableStats.from_dataframe(t[n], columns=[]) for n in involved}
    sels = {n: 1.0 for n in involved}

    dp_order = table_order_of_plan(JoinOptimizer(joins, TABLES).order_joins(stats, sels))
    dp_cost = reference_cost_of_order(dp_order, joins, stats, sels, TABLES)
    cat_order = catalyst_join_order(spark, sf_dir, joins)
    cat_cost = reference_cost_of_order(cat_order, joins, stats, sels, TABLES)

    ok = bool(dp_cost <= cat_cost)
    cat_valid = sorted(cat_order) == sorted(involved)
    rows = [
        (
            "reference_dp",
            " -> ".join(dp_order),
            ok,
            cat_valid,
        )
    ]
    return spark.createDataFrame(
        rows,
        "optimizer string, dp_join_order string, "
        "dp_cost_le_catalyst boolean, catalyst_order_valid boolean",
    )


ORACLE_CBO_VS_DP_REPORT = """
    SELECT optimizer, dp_join_order, dp_cost_le_catalyst,
           catalyst_order_valid
    FROM (VALUES
        ('reference_dp', 'nation -> customer -> orders -> lineitem',
         TRUE, TRUE)
    ) AS t(optimizer, dp_join_order, dp_cost_le_catalyst,
           catalyst_order_valid)
"""


def q_cbo_plan_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN surface for the Selinger DP: the full PlanCache memo as a
    table — one row per enumerated join subset with the winning
    subplan's order, its modeled output cardinality, and the DP's
    monotonicity invariant (a subset's best cost can never undercut the
    prefix subplan it extends). The reference keeps its memo internal to
    the search (join_optimizer.h:64-112 PlanCache, populated at
    join_optimizer.cc:108-137); this dump makes the core artifact
    inspectable, not just exercised — the per-subset view a
    human reads to see WHY the final order won, including the
    cross-product-rejected subset the DP refuses to cache
    (join_optimizer.cc:262-266).

    Fixture: the same 3-join graph as ``cbo_ordered_join`` (7 subsets,
    one of them disconnected). Hash contract (the ``cbo_vs_dp_report``
    discipline — pin only what the repo controls): subset labels, the
    winning ORDER per subset, and the monotonicity bit are deterministic
    functions of the seeded testdata's relative table sizes (verified
    stable across sf0.001/0.01/0.1); the cardinalities are exact model
    outputs the oracle recomputes from COUNT(*) via the PK-aware
    cardinality rules (PK side collapses to the other side's count —
    join_optimizer.cc:76-92). Raw modeled COSTS are page-geometry
    dependent (parquet byte sizes) and deliberately NOT in the hash;
    their invariant rides in ``cost_ge_prefix`` instead. Stats are the
    distributed two-job build; the DP itself runs on the driver in tens
    of microseconds for these 3 joins, O(2^n) in joins, never in data.
    """
    from itertools import combinations

    from ..engine import TABLES
    from ..plans.cbo_compare import EXAMPLE_JOINS as joins, table_order_of_plan
    from ..plans.planner import JoinOptimizer
    from ..plans.stats import TableStats

    involved = table_order_of_plan(joins)
    t = load_tables(spark, sf_dir)
    stats = {n: TableStats.from_dataframe(t[n], columns=[]) for n in involved}
    sels = {n: 1.0 for n in involved}

    opt = JoinOptimizer(joins, TABLES)
    opt.order_joins(stats, sels)
    memo = opt.last_plan_cache

    rows = []
    for size in range(1, len(joins) + 1):
        for subset in map(frozenset, combinations(joins, size)):
            key = " & ".join(
                sorted(f"{j.left_table}={j.right_table}" for j in subset)
            )
            cc = memo.get(subset)
            if cc is None:
                rows.append((key, size, "cross-product-rejected", None, None))
                continue
            # the plan's last join may be the swapped orientation of an
            # original; map it back to recover the prefix subset it extends
            last = cc.plan[-1]
            orig_last = next(
                j for j in subset if j == last or j.swap_inner_outer() == last
            )
            prefix = frozenset(subset - {orig_last})
            if prefix:
                pcc = memo.get(prefix)
                ge = bool(pcc is not None and cc.cost >= pcc.cost)
            else:
                ge = True  # size-1: extends a base-relation scan
            rows.append(
                (key, size, " -> ".join(table_order_of_plan(cc.plan)), cc.card, ge)
            )
    return spark.createDataFrame(
        rows,
        "subset string, n_joins int, best_order string, "
        "est_card long, cost_ge_prefix boolean",
    ).orderBy("n_joins", "subset")


# The memo's structure (orders, the rejected subset, monotonicity) is
# pinned literally; cardinalities are recomputed from COUNT(*) through
# the same PK-aware model the DP uses, so the oracle stays correct at
# every SF.
ORACLE_CBO_PLAN_MEMO = """
    SELECT subset, n_joins, best_order, est_card, cost_ge_prefix
    FROM (VALUES
        ('customer=nation', 1, 'nation -> customer',
         (SELECT COUNT(*) FROM customer), TRUE),
        ('customer=orders', 1, 'customer -> orders',
         (SELECT COUNT(*) FROM orders), TRUE),
        ('orders=lineitem', 1, 'orders -> lineitem',
         (SELECT COUNT(*) FROM lineitem), TRUE),
        ('customer=nation & customer=orders', 2,
         'nation -> customer -> orders',
         (SELECT COUNT(*) FROM orders), TRUE),
        ('customer=nation & orders=lineitem', 2,
         'cross-product-rejected', CAST(NULL AS BIGINT),
         CAST(NULL AS BOOLEAN)),
        ('customer=orders & orders=lineitem', 2,
         'customer -> orders -> lineitem',
         (SELECT COUNT(*) FROM lineitem), TRUE),
        ('customer=nation & customer=orders & orders=lineitem', 3,
         'nation -> customer -> orders -> lineitem',
         (SELECT COUNT(*) FROM lineitem), TRUE)
    ) AS t(subset, n_joins, best_order, est_card, cost_ge_prefix)
    ORDER BY n_joins, subset
"""


CARD_BUCKETS = 64  # histogram resolution for the bucketized join estimate


def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-cardinality model audited against ground truth in one
    report: |customer ⋈ supplier on nationkey| estimated (a) by the reference's
    uniform formula n_a·n_b / max(V(a),V(b))
    (join_optimizer.cc:157-169 semantics) and (b) by a 64-bucket
    key-histogram product Σ_b cnt_a[b]·cnt_b[b] — the refinement every
    real optimizer layers on — both compared to the EXACT join count.
    The estimation surface as a hash-checked query, complementing
    ``q_stats_selectivity_report`` (predicate selectivity) with the
    join side of §4.1.

    The exact count is computed WITHOUT materializing the join:
    Σ_key cnt_a·cnt_b over the key-grouped counts (the algebraic
    identity of equi-join cardinality); the ORACLE computes it as an
    actual JOIN COUNT(*), so the hash check also certifies the
    identity. All counts, NDVs, and estimates are exact BIGINTs; the
    two error ratios are single IEEE divisions.

    Scale shape: two grouped counts (map-side combined) + a join of the
    two per-key count frames (bounded by NDV) + a 64-row bucket join —
    never the raw×raw join.
    """
    t = load_tables(spark, sf_dir)
    a = t["customer"].groupBy(F.col("c_nationkey").alias("key")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = t["supplier"].groupBy(F.col("s_nationkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    tot_a = a.agg(
        F.sum("ca").alias("n_a"), F.count(F.lit(1)).alias("ndv_a")
    )
    tot_b = b.agg(
        F.sum("cb").alias("n_b"), F.count(F.lit(1)).alias("ndv_b")
    )
    actual = (
        a.join(b, "key")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("actual"))
    )
    # per-bucket histogram estimate: Σ_b ba·bb DIV max(va, vb) — the
    # uniform formula applied inside each of the 64 key buckets
    est_bucket = (
        a.groupBy((F.col("key") % CARD_BUCKETS).alias("bkt"))
        .agg(F.sum("ca").alias("ba"), F.count(F.lit(1)).alias("va"))
        .join(
            b.groupBy((F.col("key") % CARD_BUCKETS).alias("bkt")).agg(
                F.sum("cb").alias("bb"), F.count(F.lit(1)).alias("vb")
            ),
            "bkt",
        )
        .agg(
            F.sum(
                F.expr("(ba * bb) DIV greatest(va, vb)")
            ).alias("est_bucket")
        )
    )
    return (
        tot_a.crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(actual))
        .crossJoin(F.broadcast(est_bucket))
        .select(
            "n_a",
            "n_b",
            "ndv_a",
            "ndv_b",
            F.expr("(n_a * n_b) DIV greatest(ndv_a, ndv_b)").alias(
                "est_uniform"
            ),
            "est_bucket",
            "actual",
            (
                F.expr("(n_a * n_b) DIV greatest(ndv_a, ndv_b)").cast("double")
                / F.col("actual").cast("double")
            ).alias("err_uniform"),
            (
                F.col("est_bucket").cast("double")
                / F.col("actual").cast("double")
            ).alias("err_bucket"),
        )
    )


ORACLE_JOIN_CARDINALITY_AUDIT = f"""
WITH ta AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS ndv_a
    FROM customer
), tb AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS ndv_b
    FROM supplier
), act AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS actual
    FROM customer JOIN supplier ON c_nationkey = s_nationkey
), eb AS (
    SELECT CAST(SUM((ba * bb) // GREATEST(va, vb)) AS BIGINT) AS est_bucket
    FROM (SELECT c_nationkey % {CARD_BUCKETS} AS bkt,
                 CAST(COUNT(*) AS BIGINT) AS ba,
                 CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS va
          FROM customer GROUP BY 1) x
    JOIN (SELECT s_nationkey % {CARD_BUCKETS} AS bkt,
                 CAST(COUNT(*) AS BIGINT) AS bb,
                 CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS vb
          FROM supplier GROUP BY 1) y USING (bkt)
)
SELECT n_a, n_b, ndv_a, ndv_b,
       CAST((n_a * n_b) // GREATEST(ndv_a, ndv_b) AS BIGINT) AS est_uniform,
       est_bucket,
       actual,
       CAST((n_a * n_b) // GREATEST(ndv_a, ndv_b) AS DOUBLE)
           / CAST(actual AS DOUBLE) AS err_uniform,
       CAST(est_bucket AS DOUBLE) / CAST(actual AS DOUBLE) AS err_bucket
FROM ta, tb, act, eb
"""


STATS_PROBE_GRID = {
    "p_size": [12, 25, 38],
    "p_partkey": [400, 1000, 1600],
}


def q_stats_selectivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimizer's statistics layer made observable: build the
    reference-model ``TableStats`` (equi-width int histograms,
    table_stats.cc:61-139 formulas — two distributed jobs) over part,
    then report estimated vs ACTUAL selectivity for a predicate grid,
    all six comparison ops × interior probe points per column. Actuals
    come from ONE conditional-aggregation pass (no per-predicate scans).
    Hash-checkable driver form: the ACTUAL match counts are exact
    integers (one conditional-aggregation pass, no per-predicate scans)
    the oracle reproduces in SQL, and the estimator's quality is pinned
    as the boolean ``est_within_005`` (|est − actual| ≤ 0.05) that the
    oracle asserts TRUE — so a regression in the §4.1 estimation
    formulas flips the hash. tests/test_estimation_accuracy.py bounds
    the error tighter (0.06 on interior probes); at sf0.001/sf0.01 the
    measured 6-dp error on this grid is exactly 0.
    """
    from ..plans.stats import PredicateType, TableStats

    cols = list(STATS_PROBE_GRID)
    part = load_tables(spark, sf_dir)["part"].select(*cols)
    stats = TableStats.from_dataframe(part, columns=cols)

    ops = list(PredicateType)
    probes = [
        (c, op, v) for c in cols for op in ops for v in STATS_PROBE_GRID[c]
    ]
    sym = {
        PredicateType.EQ: "==", PredicateType.NE: "!=",
        PredicateType.LT: "<", PredicateType.LE: "<=",
        PredicateType.GT: ">", PredicateType.GE: ">=",
    }
    aggs = [
        F.sum(
            F.when(F.expr(f"{c} {sym[op]} {v}"), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(f"a{i}")
        for i, (c, op, v) in enumerate(probes)
    ] + [F.count(F.lit(1)).alias("n")]
    actual = part.agg(*aggs).collect()[0]
    n_rows = int(actual["n"])

    rows = []
    for i, (c, op, v) in enumerate(probes):
        est = stats.estimate_selectivity(c, op, v)
        n_match = int(actual[f"a{i}"])
        rows.append(
            (c, op.name, v, n_match, n_rows,
             abs(est - n_match / n_rows) <= 0.05)
        )
    return spark.createDataFrame(
        rows,
        "col_name string, op string, constant int, n_match long, "
        "n_rows long, est_within_005 boolean",
    ).orderBy("col_name", "op", "constant")


EQUIDEPTH_BUCKETS = 16


def q_stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram over o_totalprice — the
    statistics structure real optimizers prefer to the reference's
    equi-width IntHistogram (table_stats.cc builds width-uniform bins;
    depth-uniform bins bound per-bucket selectivity error by 1/B
    regardless of skew). Bucket boundaries are EXACT order statistics:
    the global rank comes from the distributed range-partitioned
    row_number (no single-partition window), the bucket from
    ``exact_ntile``'s closed-form integer arithmetic, and lo/hi are
    input VALUES selected, never computed — so the histogram is
    bit-identical on any engine and the oracle can pin it by hash.

    Scale shape: one range shuffle + partition-local sort for the rank,
    one map-side-combining aggregate to B rows. This is how you build
    the stats table FOR the planner at 100 TB without funneling the
    column through one task.
    """
    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_totalprice"
    )
    pid = range_bucket(orders, "o_totalprice", EQUIDEPTH_BUCKETS)
    ranked, n = distributed_row_number(
        orders,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        pid,
        EQUIDEPTH_BUCKETS,
        return_total=True,
    )
    return (
        ranked.withColumn(
            "bucket", exact_ntile("rn", n, EQUIDEPTH_BUCKETS)
        )
        .groupBy("bucket")
        .agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("bucket")
    )


ORACLE_STATS_EQUIDEPTH_HISTOGRAM = f"""
WITH ranked AS (
    SELECT o_totalprice,
           NTILE({EQUIDEPTH_BUCKETS}) OVER (
               ORDER BY o_totalprice, o_orderkey
           ) AS bucket
    FROM orders
)
SELECT CAST(bucket AS INT) AS bucket,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM ranked
GROUP BY bucket
ORDER BY bucket
"""


def _stats_probe_values_sql() -> str:
    from ..plans.stats import PredicateType

    return ", ".join(
        f"('{c}', '{op.name}', {v})"
        for c in STATS_PROBE_GRID
        for op in PredicateType
        for v in STATS_PROBE_GRID[c]
    )


ORACLE_STATS_SELECTIVITY_REPORT = f"""
WITH probes(col_name, op, constant) AS (
    VALUES {_stats_probe_values_sql()}
), vals AS (
    SELECT col_name, op, constant,
           CASE col_name WHEN 'p_size' THEN p.p_size
                         ELSE p.p_partkey END AS v
    FROM part p CROSS JOIN probes
)
SELECT col_name, op, constant,
       CAST(SUM(CASE op
           WHEN 'EQ' THEN CASE WHEN v =  constant THEN 1 ELSE 0 END
           WHEN 'NE' THEN CASE WHEN v <> constant THEN 1 ELSE 0 END
           WHEN 'LT' THEN CASE WHEN v <  constant THEN 1 ELSE 0 END
           WHEN 'LE' THEN CASE WHEN v <= constant THEN 1 ELSE 0 END
           WHEN 'GT' THEN CASE WHEN v >  constant THEN 1 ELSE 0 END
           ELSE           CASE WHEN v >= constant THEN 1 ELSE 0 END
       END) AS BIGINT) AS n_match,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS est_within_005
FROM vals
GROUP BY col_name, op, constant
ORDER BY col_name, op, constant
"""


HIST_DUMP_COLUMNS = ["o_custkey", "o_totalprice"]  # one int, one double


def q_stats_histogram_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN surface for IntHistogram — the reference's other core
    artifact (table_stats.cc:15-56, tested at optimizer_test.cc:146-365)
    made inspectable the way cbo_plan_memo exposes the PlanCache: every
    bucket of the stats build over two orders columns (one integral, one
    double — the floor path), as (col, bucket, lo, cnt) rows.

    The Spark side runs the REAL distributed two-job TableStats build
    (plans/stats.py) and dumps the resulting driver-side histograms (the
    reference's O(1)-space contract: 100 counters per column, so the
    dump is a 200-row createDataFrame, not a query over data). The
    DuckDB oracle recomputes every bucket from scratch with the same
    §4.1 semantics — span = max(1.0, (1 + max - min)/buckets) over
    floored values, bucket = least(floor((v - min)/span), buckets-1) —
    so the hash check certifies the distributed bucket assignment
    bit-for-bit against an independent engine. ``lo`` (the bucket's
    left edge, min + bucket*span) is emitted UNROUNDED: both engines
    compute it with the identical IEEE ops in the same order, and no
    summation is involved, so the doubles are bit-identical by
    construction.
    """
    from ..plans.stats import NUM_HIST_BINS, TableStats

    orders = load_tables(spark, sf_dir)["orders"]
    stats = TableStats.from_dataframe(orders, columns=HIST_DUMP_COLUMNS)
    rows = []
    for c in HIST_DUMP_COLUMNS:
        h = stats.histograms[c]
        for b in range(NUM_HIST_BINS):
            rows.append((c, b, h.min_v + b * h.span, h.counts[b]))
    return spark.createDataFrame(
        rows, "col string, bucket int, lo double, cnt long"
    ).orderBy("col", "bucket")


def _oracle_histogram_dump() -> str:
    from ..plans.stats import NUM_HIST_BINS

    nb = NUM_HIST_BINS
    parts = []
    for c in HIST_DUMP_COLUMNS:
        parts.append(
            f"""
SELECT '{c}' AS col, CAST(s.bucket AS INT) AS bucket,
       m.mn + s.bucket * m.span AS lo,
       CAST(COALESCE(c_{c}.cnt, 0) AS BIGINT) AS cnt
FROM (SELECT range AS bucket FROM range({nb})) s
CROSS JOIN (
    SELECT mn, GREATEST(1.0, (1.0 + mx - mn) / {nb}) AS span
    FROM (SELECT MIN(CAST(FLOOR({c}) AS BIGINT)) AS mn,
                 MAX(CAST(FLOOR({c}) AS BIGINT)) AS mx
          FROM orders WHERE {c} IS NOT NULL)
) m
LEFT JOIN (
    SELECT LEAST(CAST(FLOOR((CAST(FLOOR({c}) AS BIGINT) - t.mn) / t.span)
                      AS BIGINT), {nb - 1}) AS bucket,
           COUNT(*) AS cnt
    FROM orders
    CROSS JOIN (
        SELECT mn, GREATEST(1.0, (1.0 + mx - mn) / {nb}) AS span
        FROM (SELECT MIN(CAST(FLOOR({c}) AS BIGINT)) AS mn,
                     MAX(CAST(FLOOR({c}) AS BIGINT)) AS mx
              FROM orders WHERE {c} IS NOT NULL)
    ) t
    WHERE {c} IS NOT NULL
    GROUP BY 1
) c_{c} ON c_{c}.bucket = s.bucket"""
        )
    return (
        "SELECT col, bucket, lo, cnt FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY col, bucket"
    )


ORACLE_STATS_HISTOGRAM_DUMP = _oracle_histogram_dump()


HIST2D_BINS = 16  # 16×16 grid → 256 dump rows


def q_stats_histogram_2d_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN surface for Int2DHistogram — the joint-distribution grid
    this engine adds beyond the reference's per-column histograms
    (``plans/stats.py:149``; the reference's independence assumption
    ``sel(A∧B)=sel(A)·sel(B)`` is exactly what the grid corrects). Dumps
    every (bucket_x, bucket_y) cell of the (o_custkey, o_totalprice)
    grid with its left edges and count, zero cells included — the raw
    material for a conjunctive-selectivity audit.

    The Spark side runs the real two-job distributed build (min/max
    aggregate + a cell groupBy whose shuffle is ≤ buckets² rows after
    map-side combine — row-count independent, the TableStats O(1)-space
    contract), then dumps the driver-side counters as a 256-row
    createDataFrame. The DuckDB oracle recomputes every cell from
    scratch with the identical span/clamp semantics; ``lo_x``/``lo_y``
    are emitted UNROUNDED because both engines derive them with the
    same IEEE ops in the same order (the ``stats_histogram_dump``
    contract).
    """
    from ..plans.stats import Int2DHistogram

    orders = load_tables(spark, sf_dir)["orders"]
    h = Int2DHistogram.from_dataframe(
        orders, "o_custkey", "o_totalprice", buckets=HIST2D_BINS
    )
    rows = []
    for bx in range(HIST2D_BINS):
        for by in range(HIST2D_BINS):
            rows.append(
                (
                    bx,
                    by,
                    h.min_x + bx * h.span_x,
                    h.min_y + by * h.span_y,
                    h.counts.get((bx, by), 0),
                )
            )
    return spark.createDataFrame(
        rows, "bucket_x int, bucket_y int, lo_x double, lo_y double, cnt long"
    ).orderBy("bucket_x", "bucket_y")


def _oracle_histogram_2d_dump() -> str:
    nb = HIST2D_BINS
    return f"""
WITH m AS (
    SELECT mnx, mxx, mny, mxy,
           GREATEST(1.0, (1.0 + mxx - mnx) / {nb}) AS span_x,
           GREATEST(1.0, (1.0 + mxy - mny) / {nb}) AS span_y
    FROM (SELECT MIN(CAST(FLOOR(o_custkey) AS BIGINT)) AS mnx,
                 MAX(CAST(FLOOR(o_custkey) AS BIGINT)) AS mxx,
                 MIN(CAST(FLOOR(o_totalprice) AS BIGINT)) AS mny,
                 MAX(CAST(FLOOR(o_totalprice) AS BIGINT)) AS mxy
          FROM orders)
), cells AS (
    SELECT LEAST(CAST(FLOOR((CAST(FLOOR(o_custkey) AS BIGINT) - m.mnx)
                            / m.span_x) AS BIGINT), {nb - 1}) AS bucket_x,
           LEAST(CAST(FLOOR((CAST(FLOOR(o_totalprice) AS BIGINT) - m.mny)
                            / m.span_y) AS BIGINT), {nb - 1}) AS bucket_y,
           COUNT(*) AS cnt
    FROM orders CROSS JOIN m
    GROUP BY 1, 2
), grid AS (
    SELECT gx.range AS bucket_x, gy.range AS bucket_y
    FROM range({nb}) gx CROSS JOIN range({nb}) gy
)
SELECT CAST(g.bucket_x AS INT) AS bucket_x,
       CAST(g.bucket_y AS INT) AS bucket_y,
       m.mnx + g.bucket_x * m.span_x AS lo_x,
       m.mny + g.bucket_y * m.span_y AS lo_y,
       CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
FROM grid g CROSS JOIN m
LEFT JOIN cells c
  ON c.bucket_x = g.bucket_x AND c.bucket_y = g.bucket_y
ORDER BY bucket_x, bucket_y
"""


ORACLE_STATS_HISTOGRAM_2D_DUMP = _oracle_histogram_2d_dump()


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: every click event
    is priced with the purchase value VALID AT ITS TIMESTAMP
    (valid_from <= ts < valid_to, open-ended current row) — the
    as-of-correct fact⋈dimension join that prevents time-travel leakage
    in feature pipelines. Physically an equi-join on the entity key with
    the interval predicate applied post-join: a user's dimension rows are
    few (their own change history), so the per-key fan-out is bounded by
    history length, never by fact volume; each fact matches at most one
    interval because intervals partition the timeline. Aggregated per
    user so the result is entity-sized.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    scd = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("d_user"),
            dec(F.round("value", 2)).alias("d_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = clicks.join(
        scd,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count("valid_from").alias("n_priced"),
            F.round(F.sum("d_value").cast("double"), 2).alias("sum_priced_value"),
        )
        .orderBy("user_id")
    )


ORACLE_SCD2_POINT_IN_TIME = """
WITH scd AS (
    SELECT user_id AS d_user,
           CAST(ROUND(value, 2) AS DECIMAL(12,2)) AS d_value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM events
    WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.user_id,
       COUNT(*) AS n_clicks,
       COUNT(s.valid_from) AS n_priced,
       ROUND(CAST(SUM(s.d_value) AS DOUBLE), 2) AS sum_priced_value
FROM clicks c
LEFT JOIN scd s
  ON s.d_user = c.user_id
 AND s.valid_from <= c.ts
 AND (s.valid_to IS NULL OR c.ts < s.valid_to)
GROUP BY c.user_id
ORDER BY c.user_id
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status, one column per priority class."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .withColumn("prio", F.substring("o_orderpriority", 1, 1))
        .groupBy("o_orderstatus")
        .pivot("prio", ["1", "2", "3", "4", "5"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({str(i): f"p{i}" for i in range(1, 6)})
        .orderBy("o_orderstatus")
    )


def q_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation joined against a table (constant-folding path)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT v.band_name, COUNT(*) AS n
        FROM orders o
        JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
             AS v(status, band_name)
          ON o.o_orderstatus = v.status
        GROUP BY v.band_name
        ORDER BY v.band_name
        """
    )


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key: each user's most recent event.

    The universal pipeline "current state" operator (CDC compaction, last
    profile snapshot). One shuffle on the partition key; row_number over a
    (ts, event_id) descending order with the unique event_id as tiebreak so
    the selected row is engine-deterministic. At scale this beats a
    groupBy(max)+self-join formulation: one pass, no second join of the
    fact table.
    """
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


ORACLE_LATEST_PER_KEY = """
SELECT user_id, event_id, ts, event_type, value
FROM (
    SELECT user_id, event_id, ts, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted join, value-identical to the plain join.

    functions/joins.py::salted_join splits each join key across 8 salted
    shuffle partitions (deterministic xxhash64 salt on the fact side, 8×
    replication of the dim side), so one hot key can no longer pin a whole
    stage on a single task. The oracle is the UNSALTED join — proving the
    rewrite is semantics-preserving is the point of the check.
    """
    from ..functions.joins import salted_join

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    orders = t["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, on="l_orderkey", n_salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_double(disc_price_expr(), 4).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_JOIN_SALTED_SKEW = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-flag aggregate back to long
    (flag, metric, value) form — the inverse of q_pivot, closing the
    reshape pair. The unpivot is a Generate over an already-tiny
    aggregate; all heavy lifting stays in the partial+final agg."""
    t = load_tables(spark, sf_dir)
    wide = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            dsum_double(dec("l_quantity"), 2).alias("sum_qty"),
            dsum_double(dec("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).cast("double").alias("n_items"),
        )
    )
    return wide.unpivot(
        "l_returnflag",
        ["sum_qty", "sum_price", "n_items"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")


ORACLE_UNPIVOT_METRICS = """
WITH wide AS (
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
           CAST(COUNT(*) AS DOUBLE) AS n_items
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_items))
ORDER BY l_returnflag, metric
"""


def q_approx_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Spark 3.5 Datasketches HllSketch): build one
    sketch per order-priority segment, then union the segment sketches into
    a global distinct-customer estimate — WITHOUT rescanning the data.

    This is the sketch pre-aggregation contract that makes distinct counts
    cheap at 100 TB: per-partition/day sketches are stored bytes, and any
    rollup (day→month, segment→global) is a sketch union, not a rescan.

    Hash-checkable since round 6 (the ``stats_selectivity_report``
    boolean trick): the raw estimate is Datasketches-implementation-
    defined so SQL can't reproduce it, but ``n_segments`` and the EXACT
    global distinct count are oracle values, and ``est_within_5pct``
    pins the accuracy contract (|union estimate − exact| / exact <
    0.05 — comfortably inside lgK=12's ~1.6% RSE; the same bound
    tests/test_queries_oracle.py asserts). A broken union or a
    mis-built per-segment sketch blows the 5% envelope and fails the
    driver hash; through round 5 this entry was rows-only.
    """
    t = load_tables(spark, sf_dir)
    per_segment = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    merged = per_segment.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    exact = t["orders"].agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return merged.crossJoin(exact).select(
        "n_segments",
        "exact_customers",
        (
            F.abs(F.col("_approx") - F.col("exact_customers"))
            / F.col("exact_customers")
            < F.lit(0.05)
        ).alias("est_within_5pct"),
    )


ORACLE_APPROX_HLL_MERGEABLE = """
    SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_segments,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS est_within_5pct
    FROM orders
"""


def q_agg_array_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered ARRAY_AGG: each customer's order keys as a sorted array.

    collect_list's order is partition-nondeterministic, so the sort happens
    explicitly AFTER collection (sort_array) — the only way an array-valued
    aggregate can be reproducible under shuffling, and the exact mirror of
    the oracle's list(x ORDER BY x). Arrays stay JVM-side; one shuffle on
    the group key. The array is emitted serialized (comma-joined) because
    the driver's comparator canonicalizes via pandas sort, which cannot
    order list-valued cells.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"),
                ",",
            ).alias("order_keys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


ORACLE_AGG_ARRAY_ORDERED = """
SELECT o_custkey,
       array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-flag aggregate
    built from the pre-1998 "snapshot" is advanced by the 1998+ "delta"
    WITHOUT rescanning the snapshot rows — the two partial-aggregate sets
    union and re-combine on the group key, exactly how a 100 TB rollup is
    maintained batch over batch (only mergeable partials — counts and
    decimal sums — ever cross a batch boundary; averages derive at read
    time). The oracle aggregates the full table in one pass: the merged
    result must be value-identical.
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    cut = F.lit("1998-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.sum(dec("l_quantity")).alias("p_qty"),
            F.sum(disc_price_expr()).alias("p_rev"),
            F.count(F.lit(1)).alias("p_n"),
        )

    snapshot = partials(li.filter(F.col("l_shipdate") < cut))
    delta = partials(li.filter(F.col("l_shipdate") >= cut))
    return (
        snapshot.unionAll(delta)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("p_qty").cast("double"), 2).alias("sum_qty"),
            F.round(F.sum("p_rev").cast("double"), 4).alias("revenue"),
            F.sum("p_n").alias("n_items"),
            F.round(
                (F.sum("p_qty") / F.sum("p_n")).cast("double"), 4
            ).alias("avg_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_INCREMENTAL_AGG_MERGE = """
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) / COUNT(*) AS DOUBLE), 4) AS avg_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance via delta-join decomposition.

    A materialized orders⋈lineitem revenue-by-month view built from the
    pre-1998 snapshot of BOTH inputs is advanced when each side receives a
    delta (orders split on o_orderdate, lineitem on l_shipdate — the
    splits genuinely overlap, so every term is non-empty). With
    A = A_old ∪ ΔA and B = B_old ∪ ΔB the refreshed view is

        V_old ⊕ ΔA⋈B_old ⊕ A_old⋈ΔB ⊕ ΔA⋈ΔB

    — three delta-sized joins instead of one full re-join, the algebra
    every incremental/streaming materialized view engine applies. Only
    mergeable partials (counts, exact-decimal sums) cross the batch
    boundary, so ⊕ is a re-aggregation on the group key. At 100 TB the
    snapshot sides stay bucketed by orderkey and each delta term becomes
    a co-located probe of a small delta against one bucketed snapshot;
    the full re-join the oracle runs is exactly the cost this avoids.
    The oracle joins and aggregates the complete tables in one pass: the
    incrementally-maintained view must be value-identical.
    """
    t = load_tables(spark, sf_dir)
    cut = F.lit("1998-01-01").cast("timestamp")
    o = t["orders"].select("o_orderkey", "o_orderdate")
    li = t["lineitem"].select("l_orderkey", "l_shipdate", disc_price_expr().alias("_rev"))
    o_old = o.filter(F.col("o_orderdate") < cut)
    o_new = o.filter(F.col("o_orderdate") >= cut)
    l_old = li.filter(F.col("l_shipdate") < cut)
    l_new = li.filter(F.col("l_shipdate") >= cut)

    def partials(odf: DataFrame, ldf: DataFrame) -> DataFrame:
        return (
            odf.join(ldf, odf["o_orderkey"] == ldf["l_orderkey"])
            .groupBy(F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"))
            .agg(F.sum("_rev").alias("p_rev"), F.count(F.lit(1)).alias("p_n"))
        )

    merged = (
        partials(o_old, l_old)  # V_old
        .unionAll(partials(o_new, l_old))
        .unionAll(partials(o_old, l_new))
        .unionAll(partials(o_new, l_new))
    )
    return (
        merged.groupBy("month")
        .agg(
            F.round(F.sum("p_rev").cast("double"), 4).alias("revenue"),
            F.sum("p_n").alias("n_items"),
        )
        .orderBy("month")
    )


ORACLE_INCREMENTAL_JOIN_VIEW = """
SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY month
ORDER BY month
"""


def q_join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join, explicitly hinted — the middle physical strategy
    between broadcast (build side must fit every executor) and sort-merge
    (both sides pay a full sort). At 100 TB it is the right pick for a
    fact ⋈ mid-size-dimension join: both sides shuffle on the key, the
    smaller side's PARTITION (not the whole table) is hashed in memory,
    and no sort happens at all. Catalyst would choose SMJ here by
    default; the hint pins the hash build so the plan property test can
    hold the strategy. Same result set as the unhinted join — strategy
    choice must never change values (the oracle checks that)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"].hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_JOIN_SHUFFLE_HASH = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_recursive_cte_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``WITH RECURSIVE`` (Spark 4): ancestor-path enumeration over
    the implicit binary hierarchy parent(k) = k DIV 2 on part keys.

    The reference has no recursion anywhere; SQL-level recursion is the
    one query shape the rest of this catalog reaches for driver loops to
    express (``dedup_components``, ``graph_pagerank``). Here the engine's
    own fixpoint operator does it: each iteration is one distributed step,
    and the iteration count is bounded by the hierarchy depth —
    log2(max key), ~20 levels at any scale, each a map-only projection of
    the shrinking frontier. The DuckDB oracle runs the identical recursion
    (dialect difference: integer division spells ``DIV`` vs ``//``).
    """
    load_tables(spark, sf_dir)  # registers the part view
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
            SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
            UNION ALL
            SELECT node, cur DIV 2, depth + 1 FROM anc WHERE cur > 1
        )
        SELECT node AS p_partkey,
               CAST(MAX(depth) AS BIGINT) AS depth,
               COUNT(*) AS n_ancestors,
               CAST(MIN(cur) AS BIGINT) AS root_key
        FROM anc
        GROUP BY node
        ORDER BY p_partkey
        """
    )


ORACLE_RECURSIVE_CTE_ANCESTORS = """
WITH RECURSIVE anc AS (
    SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
    UNION ALL
    SELECT node, cur // 2, depth + 1 FROM anc WHERE cur > 1
)
SELECT node AS p_partkey,
       CAST(MAX(depth) AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors,
       CAST(MIN(cur) AS BIGINT) AS root_key
FROM anc
GROUP BY node
ORDER BY p_partkey
"""
