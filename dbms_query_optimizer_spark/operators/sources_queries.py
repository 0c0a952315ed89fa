"""Catalog queries exercising the CSV/JSON connectors end-to-end.

Each query exports testdata through a non-parquet format and reads it back
under the written frame's own schema (explicit, so no inference pass), so
the correctness gate covers the full write -> file -> schema-explicit read
path. The oracle runs on the original parquet views — values must survive
the format roundtrip bit-for-bit (floats are aggregated through DECIMAL on
both sides, as everywhere else).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import fixture_dir, track_persist
from ..engine import load_tables
from ..functions.numeric import dec, dsum_double
from ..sources import (
    read_csv,
    read_json,
    read_orc,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
)
from ..streaming.startup import drain_to_memory

def _stage_concurrent(table, frames: list[DataFrame]) -> None:
    """Insert each frame as its own committed transaction, with the
    STAGING WRITES submitted concurrently and the commits serialized in
    list order.

    r12 (guide §2.6): the multi-commit fixtures ran N single-task write
    jobs back-to-back, leaving 31 cores idle for N job latencies —
    measured as the dominant cost of every quartile-fixture query
    (txn_delete_mor: 19 sequential driver jobs, 2.4 s of construct for
    0.36 s of query). Staging writes are independent Spark jobs over
    private staging dirs, so a small thread pool overlaps them; commits
    stay sequential because each bumps the manifest version and the
    version order is part of the fixture contract. Insert-only
    transactions carry no expected_base, so concurrent staging has no
    conflict window; constraint Observations ride each write unchanged.
    The final table (files, stats, blooms, version order) is identical
    to the sequential loop's. If any insert or commit raises, every
    transaction not yet finished is aborted (its staging dir removed)
    before the error propagates."""
    from concurrent.futures import ThreadPoolExecutor

    txns = [table.begin() for _ in frames]
    try:
        with ThreadPoolExecutor(max_workers=min(4, max(1, len(frames)))) as pool:
            list(pool.map(lambda tf: tf[0].insert(tf[1]), zip(txns, frames)))
        for t in txns:
            t.commit()
    except BaseException:
        for t in txns:
            if not t._done:  # committed, or auto-aborted by a constraint
                t.abort()
        raise


def _quartile_orders(spark: SparkSession, sf_dir: str, kind: str):
    """The quartile-clustered orders fixture shared by the zone-map
    ``txn_*`` queries: a fresh manifest table at ``fixture_dir(sf_dir,
    kind, "orders")`` whose four commits each hold one key quartile of a
    3-column orders projection (one file each, committed in quartile
    order). Returns the table, the projection and the five quartile
    bounds ``q`` (quartile i is ``q[i] <= o_orderkey < q[i+1]``).

    The projection is cached (r11): the max-key probe and all four
    quartile insert jobs scan it — five parquet decodes become one. The
    staging writes overlap and the commits stay in quartile order
    (guide §2.6; see ``_stage_concurrent`` — table state identical to
    the serial loop)."""
    from ..sources.manifest import TransactionalTable

    orders = track_persist(
        load_tables(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
    )
    # quartile bounds from the key domain — a metadata-scale collect
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    q = [(i * (mx + 1)) // 4 for i in range(5)]

    root = fixture_dir(sf_dir, kind, "orders")
    table = TransactionalTable.create(root, orders.schema)
    _stage_concurrent(
        table,
        [
            orders.filter(
                (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
            ).coalesce(1)
            for lo, hi in zip(q, q[1:])
        ],
    )
    return table, orders, q


def q_source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation + region through the CSV sink/source, then a broadcast join
    and per-region nation count."""
    t = load_tables(spark, sf_dir)
    nation_dir = fixture_dir(sf_dir, "csv", "nation")
    region_dir = fixture_dir(sf_dir, "csv", "region")
    write_csv(t["nation"], nation_dir, target_files=1)
    write_csv(t["region"], region_dir, target_files=1)
    nation = read_csv(spark, nation_dir, t["nation"].schema)
    region = read_csv(spark, region_dir, t["region"].schema)
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("r_name")
    )


ORACLE_SOURCE_CSV_SCAN = """
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
"""


def q_source_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer through the JSON-lines sink/source, then a per-segment
    aggregate. Doubles survive JSON because Spark prints them round-trip
    (shortest repr that parses back exactly)."""
    t = load_tables(spark, sf_dir)
    cust_dir = fixture_dir(sf_dir, "json", "customer")
    write_json(t["customer"], cust_dir, target_files=4)
    customer = read_json(spark, cust_dir, t["customer"].schema)
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum_double(dec("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SOURCE_JSON_SCAN = """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_acctbal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


def q_source_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet write, then a partition-PRUNED read.

    events are written partitioned by event_type (the writers'
    ``partition_by``); the read filters to two types, which Spark resolves
    against directory names — PartitionFilters in the scan node, zero I/O
    for the other partitions. This is the coarse-grained pruning layer that
    makes 100 TB tables queryable: a selective partition predicate reduces
    the scan to the matching directories before any file is opened.
    """
    t = load_tables(spark, sf_dir)
    ev_dir = fixture_dir(sf_dir, "parquet_part", "events")
    write_parquet(
        t["events"], ev_dir, partition_by=["event_type"], target_files=4
    )
    ev = spark.read.parquet(ev_dir)
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


ORACLE_SOURCE_PARTITIONED_SCAN = """
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    ORDER BY event_type
"""


def q_source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier through the ORC sink/source (Spark's other bundled columnar
    format), then a per-nation aggregate. Exercises the vectorized ORC
    reader + its predicate pushdown the same way the parquet path does."""
    t = load_tables(spark, sf_dir)
    supp_dir = fixture_dir(sf_dir, "orc", "supplier")
    write_orc(t["supplier"], supp_dir, target_files=2)
    supplier = read_orc(spark, supp_dir, t["supplier"].schema)
    return (
        supplier.filter(F.col("s_acctbal") > 0)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum_double(dec("s_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("s_nationkey")
    )


ORACLE_SOURCE_ORC_SCAN = """
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_acctbal
    FROM supplier
    WHERE s_acctbal > 0
    GROUP BY s_nationkey
    ORDER BY s_nationkey
"""


EVENT_WEIGHTS = [
    ("click", 1.0),
    ("view", 0.5),
    ("purchase", 10.0),
    ("signup", 2.0),
    ("error", 0.0),
]


def q_dpp_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the partitioned fact's scan is pruned at
    RUNTIME by the dim's filter result, not by any literal predicate.

    The events fact (hive-partitioned by event_type) joins a 5-row weight
    dim filtered to weight >= 1. No static predicate touches the fact, yet
    Spark injects ``dynamicpruningexpression(...)`` into the scan's
    PartitionFilters, reusing the dim's broadcast (SubqueryAdaptiveBroadcast)
    to resolve which directories to read — the 'error'/'view' partitions
    are never opened. On a 100 TB date-partitioned fact joined to a
    filtered date dim this is the difference between scanning 3 days and
    scanning 10 years; ``tests/test_sources.py`` asserts the
    dynamicpruning expression is present in the executed plan.
    """
    t = load_tables(spark, sf_dir)
    ev_dir = fixture_dir(sf_dir, "parquet_part", "events")
    write_parquet(
        t["events"], ev_dir, partition_by=["event_type"], target_files=4
    )
    fact = spark.read.parquet(ev_dir)
    dim = spark.createDataFrame(EVENT_WEIGHTS, "event_type string, weight double")
    return (
        fact.join(dim.filter(F.col("weight") >= 1.0), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_DPP_JOIN_PRUNED = """
    WITH dim(event_type, weight) AS (
        VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
               ('signup', 2.0), ('error', 0.0)
    )
    SELECT e.event_type, COUNT(*) AS n_events,
           ROUND(SUM(e.value * d.weight), 2) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    WHERE d.weight >= 1.0
    GROUP BY e.event_type
    ORDER BY e.event_type
"""


N_BINARY_DOCS = 50


def q_source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingestion via the ``binaryFile`` source — the multimodal
    on-ramp (image/audio/video land as whole files, not rows).

    A fixed 50-doc fixture is exported as one .txt file per document, read
    back as ``(path, modificationTime, length, content: binary)``, and the
    binary payload is verified value-level: id parsed from the path, md5
    over the raw bytes, byte length. At scale the source streams file
    splits to executors (``maxPartitionBytes`` chunks the listing, content
    loads lazily per task) — the same plumbing ``multimodal.py`` feeds its
    Arrow decode plane with. Fixture creation is a driver-side loop over
    exactly 50 tiny rows — deliberate: it builds test INPUT files; the
    query's read path is fully distributed.
    """
    t = load_tables(spark, sf_dir)
    out_dir = fixture_dir(sf_dir, "binaryfile", "documents")
    os.makedirs(out_dir)
    rows = (
        t["documents"]
        .filter(F.col("doc_id") < N_BINARY_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        # explicit utf-8: platform-default encoding would diverge from the
        # oracle's byte semantics (or raise) the day text goes non-ASCII
        with open(
            os.path.join(out_dir, f"{r.doc_id}.txt"), "w", encoding="utf-8"
        ) as f:
            f.write(r.text)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out_dir)
    )
    return (
        files.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.md5(F.col("content")).alias("content_md5"),
            F.col("length").alias("n_bytes"),
        )
        .orderBy("doc_id")
    )


ORACLE_SOURCE_BINARYFILE_SCAN = f"""
    SELECT doc_id, md5(text) AS content_md5,
           -- byte length (octet_length over the utf-8 encoding), matching
           -- binaryFile's `length`; length(text) counts characters
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE doc_id < {N_BINARY_DOCS}
    ORDER BY doc_id
"""


def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: two parquet generations (gen 2 adds
    ``o_orderpriority``) unioned by ``mergeSchema`` into one view with
    NULLs for the missing column.

    The mechanism a long-lived ingestion dataset depends on: old files
    are never rewritten when a column is added; the reader reconciles
    footers per file. Schema merging is a listing-time operation over
    footers only — data files are still scanned once, with column pruning
    intact per generation.
    """
    t = load_tables(spark, sf_dir)
    out_dir = fixture_dir(sf_dir, "evolve", "orders")
    gen1 = (
        t["orders"]
        .filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    gen2 = (
        t["orders"]
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )
    write_parquet(gen1, os.path.join(out_dir, "gen=1"))
    write_parquet(gen2, os.path.join(out_dir, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_dir, "gen=1"), os.path.join(out_dir, "gen=2")
    )
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("(pre-schema)")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("priority")
    )


ORACLE_SOURCE_SCHEMA_EVOLUTION = """
    SELECT COALESCE(CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END,
                    '(pre-schema)') AS priority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price
    FROM orders
    GROUP BY 1
    ORDER BY priority
"""


N_SYNTH_ROWS = 10_000


def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector built on Spark 4's Python Data Source API: the
    ``synthevents`` generator source (sources/python_datasource.py)
    registered, scanned with 8 input partitions, and aggregated.

    The source's value function is pure-per-row-id and split-invariant,
    so the DuckDB oracle reproduces the entire dataset from ``range()``
    — the check covers the connector's schema, partitioning, and
    executor-side read path value-for-value. (The reference's analog is
    the raw segment-file "connector" at buffer_manager.cc:80-85.)
    """
    del sf_dir  # generator source — no testdata input
    from ..sources.python_datasource import register

    register(spark)
    df = (
        spark.read.format("synthevents")
        .option("rows", str(N_SYNTH_ROWS))
        .option("partitions", "8")
        .load()
    )
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("amount").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_amount"),
            F.max("row_id").alias("max_row_id"),
        )
        .orderBy("kind")
    )


ORACLE_SOURCE_PYTHON_DATASOURCE = f"""
    SELECT kind,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(amount AS DECIMAL(12,2))) AS DOUBLE) AS sum_amount,
           MAX(row_id) AS max_row_id
    FROM (
        SELECT i AS row_id,
               ['view','click','purchase','signup','error'][(i % 5) + 1] AS kind,
               CAST((i * 37) % 1000 AS DOUBLE) / 4.0 AS amount
        FROM (SELECT UNNEST(range(0, {N_SYNTH_ROWS})) AS i)
    )
    GROUP BY kind
    ORDER BY kind
"""


def q_source_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the Python Data Source API: documents written
    through the custom ``jsondirsink`` connector (executor-side staged
    part files, driver-side job-atomic rename publish — the two-phase
    commit every file sink owes its reader), then read back and
    aggregated per language. The oracle aggregates the source table
    directly, so a lost, doubled, or truncated partition breaks the
    value hash — the exactly-once write contract checked end to end.
    Completes the connector surface: batch read + stream read
    (``source_python_datasource`` / ``source_python_stream``) + write.
    """
    from ..sources.python_datasource import register

    register(spark)
    out = fixture_dir(sf_dir, "pysink", "documents")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    (
        docs.repartition(8)
        .write.format("jsondirsink")
        .mode("append")
        .option("path", out)
        .save()
    )
    landed = spark.read.schema("doc_id long, lang string, n_chars long").json(
        f"{out}/*.jsonl"
    )
    return (
        landed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


ORACLE_SOURCE_PYTHON_DATASINK = """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""


ADVISOR_BUCKETS = 8  # files a range-clustered rewrite would produce


def q_cluster_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-design advisor: for every candidate CLUSTER key, how much
    file skipping would a range-clustered rewrite buy for range queries
    on every QUERY column? Clustering by c partitions rows into B
    equal-count files; a range predicate on column d then skips a file
    whose d-min/max band misses the range — so the expected scan
    fraction is the files' average d-band width relative to d's global
    span. span_ratio(c→d) = Σ_buckets span_d / (B · global_span_d):
    ≈ 1/B on the diagonal (clustering by d always serves d), < 1 off
    the diagonal exactly when c ORDERS d (correlated columns — the
    orderkey/orderdate correlation every append-only fact table has),
    ≈ 1 for uncorrelated pairs (clustering by c buys d nothing). The
    decision `write_sorted_parquet` / `write_zorder_parquet` callers
    make, measured instead of guessed — the physical-design complement
    of the §4.1 selectivity estimator.

    All quantities exact: columns quantize to integer units (cents /
    epoch days), bucket ids come from the DISTRIBUTED rank +
    closed-form ``exact_ntile`` (equal keys split deterministically by
    the orderkey tie-break, mirrored in the oracle's ROW_NUMBER), spans
    are integer max−min, and the ratio is ONE IEEE division. Shape per
    candidate: one distributed rank + one B-row grouped min/max pass —
    B·|candidates|·|columns| result rows, corpus touched |candidates|
    times.
    """
    from pyspark.sql import Window as W

    from .relational import exact_ntile, range_bucket

    orders = load_tables(spark, sf_dir)["orders"]
    cols = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_totalprice_c": F.round(F.col("o_totalprice") * 100).cast("long"),
        "o_orderdate_d": F.datediff(
            F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date")
        ).cast("long"),
    }
    base = track_persist(
        orders.select(*[expr.alias(name) for name, expr in cols.items()])
    )  # reused once per candidate key; lineage kept intact (persist, not
    # localCheckpoint: recomputable on executor loss, no storage pinned
    # beyond the LRU cache); tracked so the harness unpersists after the
    # consuming action (cache.release_tracked)
    names = list(cols)
    globals_row = base.agg(
        *[
            (F.max(n) - F.min(n)).alias(f"gspan_{n}")
            for n in names
        ]
    )
    # r11 (guide §1.2/§2.3): the four candidate ranks previously paid
    # 2 driver actions EACH (a per-column approxQuantile pass + a
    # per-bucket counts pass). Fuse them: ONE multi-column
    # approxQuantile job (identical per-column cuts) and ONE map-side
    # conditional-sum job covering all 4×8 bucket counts, then hand
    # both to range_bucket/distributed_row_number — 8 corpus actions
    # become 2, and the 4 rank+span branches stay lazy until the final
    # job executes them as parallel stages.
    qs = [i / 8 for i in range(1, 8)]
    all_cuts = base.stat.approxQuantile(names, qs, 0.001)
    pids = {
        ckey: range_bucket(base, ckey, 8, cuts=all_cuts[i])
        for i, ckey in enumerate(names)
    }
    cnt_row = base.agg(
        *[
            F.sum((pids[ckey] == p).cast("long")).alias(f"_c_{i}_{p}")
            for i, ckey in enumerate(names)
            for p in range(8)
        ]
    ).collect()[0]
    counts_by = {
        ckey: {p: int(cnt_row[f"_c_{i}_{p}"]) for p in range(8)}
        for i, ckey in enumerate(names)
    }
    # r12 (guide §2.3/§2.4): ONE composite-key rank pass instead of four.
    # The four candidate ranks are independent sorts of the same frame,
    # so the classic fusion applies: explode each row into 4
    # (cluster_col, pid, val) legs and rank them all under ONE window
    # partitioned by (cluster_col, pid) — the same disjoint-ordered-
    # range trick as distributed_row_number, with the offset map keyed
    # by the composite "<candidate>#<pid>". The r11 plan ran 4 separate
    # repartition+sort+window+groupBy chains (one per candidate, ~16
    # stages); this plan is 1 exchange + 1 sort + 2 aggregations.
    # Shuffle bytes are identical (4 legs × N rows either way); what
    # disappears is 3× the stage/task-launch floor — and at cluster
    # scale, 3 full exchanges of the corpus projection.
    n_total = sum(counts_by[names[0]].values())
    offset_entries = []
    for ckey in names:
        acc = 0
        for p in sorted(counts_by[ckey]):
            offset_entries += [
                F.lit(f"{ckey}#{p}"),
                F.lit(acc).cast("long"),
            ]
            acc += counts_by[ckey][p]
        assert acc == n_total, "advisor: per-candidate counts disagree"
    offset_map = F.create_map(*offset_entries)

    legs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(ckey).alias("ck"),
                    pids[ckey].cast("int").alias("pid"),
                    F.col(ckey).cast("long").alias("val"),
                )
                for ckey in names
            ]
        )
    )
    ex = base.select(*names, legs.alias("c")).select(
        *names,
        F.col("c.ck").alias("cluster_col"),
        F.col("c.pid").alias("_pid"),
        F.col("c.val").alias("val"),
    )
    w_loc = W.partitionBy("cluster_col", "_pid").orderBy("val", "o_orderkey")
    ranked = ex.withColumn(
        "_rn",
        F.row_number().over(w_loc)
        + F.element_at(
            offset_map,
            F.concat_ws("#", "cluster_col", F.col("_pid").cast("string")),
        ),
    )
    per_bucket = (
        ranked.select(
            "cluster_col",
            exact_ntile("_rn", n_total, ADVISOR_BUCKETS).alias("bkt"),
            *names,
        )
        .groupBy("cluster_col", "bkt")
        .agg(*[(F.max(q) - F.min(q)).alias(f"span_{q}") for q in names])
    )
    sums = per_bucket.groupBy("cluster_col").agg(
        *[F.sum(f"span_{q}").alias(f"ssum_{q}") for q in names]
    )
    out = sums.crossJoin(F.broadcast(globals_row)).selectExpr(
        "cluster_col",
        f"stack({len(names)}, "
        + ", ".join(f"'{q}', ssum_{q}, gspan_{q}" for q in names)
        + ") AS (query_col, sum_bucket_span, global_span)",
    )
    return out.select(
        "cluster_col",
        "query_col",
        "sum_bucket_span",
        "global_span",
        (
            F.col("sum_bucket_span").cast("double")
            / (
                F.lit(float(ADVISOR_BUCKETS))
                * F.col("global_span").cast("double")
            )
        ).alias("span_ratio"),
    ).orderBy("cluster_col", "query_col")


def _oracle_cluster_key_advisor() -> str:
    names = ["o_orderkey", "o_custkey", "o_totalprice_c", "o_orderdate_d"]
    parts = []
    for ckey in names:
        spans = ", ".join(
            f"CAST(MAX({q}) - MIN({q}) AS BIGINT) AS span_{q}" for q in names
        )
        parts.append(
            f"""pb_{ckey} AS (
    SELECT NTILE({ADVISOR_BUCKETS}) OVER (ORDER BY {ckey}, o_orderkey) AS bkt,
           *
    FROM base
), spans_{ckey} AS (
    SELECT bkt, {spans}
    FROM (SELECT bkt, {", ".join(names)} FROM pb_{ckey}) GROUP BY bkt
)"""
        )
    # rebuild the per-cluster stacks against the span tables
    stacks = []
    for ckey in names:
        for q in names:
            stacks.append(
                f"SELECT '{ckey}' AS cluster_col, '{q}' AS query_col, "
                f"CAST(SUM(span_{q}) AS BIGINT) AS sum_bucket_span "
                f"FROM spans_{ckey}"
            )
    union = "\n    UNION ALL\n    ".join(stacks)
    gspans = ", ".join(
        f"CAST(MAX({q}) - MIN({q}) AS BIGINT) AS gspan_{q}" for q in names
    )
    gcase = " ".join(
        f"WHEN query_col = '{q}' THEN gspan_{q}" for q in names
    )
    return f"""
WITH base AS (
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS o_totalprice_c,
           CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS o_orderdate_d
    FROM orders
), g AS (
    SELECT {gspans} FROM base
), {", ".join(parts)},
stacked AS (
    {union}
)
SELECT cluster_col, query_col, sum_bucket_span,
       CAST(CASE {gcase} END AS BIGINT) AS global_span,
       CAST(sum_bucket_span AS DOUBLE)
           / ({ADVISOR_BUCKETS}.0 * CAST(CASE {gcase} END AS DOUBLE))
           AS span_ratio
FROM stacked, g
ORDER BY cluster_col, query_col
"""


def q_source_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered write → 2-D-selective read, end to end: orders
    rewritten Morton-interleaved on (o_custkey, o_totalprice) into 8
    files, then a query selective on BOTH dimensions aggregates the
    survivors. Because every file carries a bounded min/max band on ALL
    z-ordered columns (tests/test_zorder.py pins the band property),
    either predicate alone skips most files from footer stats — the
    lakehouse OPTIMIZE ZORDER layout expressed with stock Spark
    operators. The oracle runs the same predicate on the original table:
    layout must never change results.
    """
    from ..sources.writers import write_zorder_parquet

    t = load_tables(spark, sf_dir)
    zdir = fixture_dir(sf_dir, "zorder", "orders")
    write_zorder_parquet(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        zdir,
        cols=["o_custkey", "o_totalprice"],
        num_files=8,
    )
    z = spark.read.parquet(zdir)
    return (
        z.filter((F.col("o_custkey") < 300) & (F.col("o_totalprice") < 50000.0))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
    )


ORACLE_SOURCE_ZORDER_SCAN = """
    SELECT COUNT(*) AS n_orders,
           MIN(o_orderkey) AS min_orderkey,
           MAX(o_orderkey) AS max_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
    FROM orders
    WHERE o_custkey < 300 AND o_totalprice < 50000.0
"""


N_SYNTH_STREAM_ROWS = 2000
SYNTH_STREAM_BATCH = 500


def q_source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom connector: the ``synthevents`` source read through
    Spark 4's Python DataSourceStreamReader — row-id offsets, four
    micro-batches of SYNTH_STREAM_BATCH rows, each batch split into
    executor-side partitions, drained synchronously into a memory sink.

    The offset log makes each batch replayable and the read is a pure
    function of the row range, so the streamed union of micro-batches
    must equal the batch dataset — the DuckDB range() oracle verifies
    the full connector surface (offsets, per-batch partitioning,
    executor read) value-for-value.
    """
    del sf_dir  # generator source — no testdata input
    from ..sources.python_datasource import register

    register(spark)

    def stream() -> DataFrame:
        return (
            spark.readStream.format("synthevents")
            .option("rows", str(N_SYNTH_STREAM_ROWS))
            .option("rowsPerBatch", str(SYNTH_STREAM_BATCH))
            .option("partitions", "4")
            .load()
        )

    return (
        drain_to_memory(stream, "append")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("amount").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_amount"),
            F.max("row_id").alias("max_row_id"),
        )
        .orderBy("kind")
    )


ORACLE_SOURCE_PYTHON_STREAM = f"""
    SELECT kind,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(amount AS DECIMAL(12,2))) AS DOUBLE) AS sum_amount,
           MAX(row_id) AS max_row_id
    FROM (
        SELECT i AS row_id,
               ['view','click','purchase','signup','error'][(i % 5) + 1] AS kind,
               CAST((i * 37) % 1000 AS DOUBLE) / 4.0 AS amount
        FROM (SELECT UNNEST(range(0, {N_SYNTH_STREAM_ROWS})) AS i)
    )
    GROUP BY kind
    ORDER BY kind
"""


BUCKET_N = 4


def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketed tables: both sides written
    ``bucketBy(4, key).sortBy(key)``, then sort-merge joined with ZERO
    Exchange operators (tests/test_skew_bucketing.py pins the plan).

    THE static answer to the repeated-join-key problem at 100 TB: pay the
    shuffle once at write time, then every subsequent join on the bucket
    key reads co-located buckets directly. The merge hint pins SMJ so a
    broadcast conversion can't mask whether bucketing actually removed
    the exchanges. Table names are derived from the sf tag so reruns
    overwrite deterministically.
    """
    t = load_tables(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    lt, ot = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    # saveAsTable(overwrite) only replaces tables the CURRENT catalog
    # knows, and a location left by an earlier session raises
    # LOCATION_ALREADY_EXISTS; so drop from the catalog and write each
    # table at a fresh fixture path, whatever the session's warehouse.
    for tbl in (lt, ot):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        t["lineitem"]
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(BUCKET_N, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .option("path", fixture_dir(sf_dir, "bucketed", lt))
        .saveAsTable(lt)
    )
    (
        t["orders"]
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(BUCKET_N, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .option("path", fixture_dir(sf_dir, "bucketed", ot))
        .saveAsTable(ot)
    )
    return (
        spark.table(lt)
        .hint("merge")
        .join(spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_double(dec("l_quantity"), 2).alias("sum_qty"),
            dsum_double(dec("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_BUCKETED_COLOCATED_JOIN = """
    SELECT o_orderstatus,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


def q_txn_write_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional write path, end-to-end through the manifest commit
    log (sources/manifest.py — the observable contract of the reference's
    transaction surface, test/unit/log/log_manager_test.cc:249-300):
    txn1 commits one slice of orders, txn2 stages another slice and
    ABORTS, txn3 commits a third slice. The read resolves the latest
    committed manifest, so the result must contain exactly the two
    committed slices — abort invisibility verified at the value level by
    the DuckDB oracle over the equivalent predicate.

    Scale: the data plane is ordinary distributed parquet writes; only
    the O(KB) manifest commit serializes through the driver.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 0))
    t1.commit()
    t2 = table.begin()
    t2.insert(orders.filter(F.col("o_orderkey") % 10 == 1))
    t2.abort()
    t3 = table.begin()
    t3.insert(orders.filter(F.col("o_orderkey") % 10 == 2))
    t3.commit()
    # fresh open = the recovery path readers take after a crash
    return TransactionalTable(root).read(spark).orderBy("o_orderkey")


ORACLE_TXN_WRITE_READ = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 IN (0, 2)
    ORDER BY o_orderkey
"""


def q_txn_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committed merge-on-read MERGE through the manifest log — the
    counterpart of the reference's in-place heap update with before-image
    logging (reference: src/heap/heap_file.cc:151-257): v1 commits the
    o_orderkey%10==5 slice of orders across many small files; a second
    transaction merges a source that UPDATES half of them (%20==5, price
    +1000) and INSERTS the %10==6 slice: the source is appended and a
    deletion vector removes the replaced rows from the files holding a
    matched key, so no data file is rewritten and reads apply the vector.
    The read is a fresh recovery-path open of the
    latest manifest; the oracle recomputes the post-merge state from the
    base table, so matched-update, unmatched-insert, and untouched-row
    semantics are all value-checked.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_merge", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    # many small files, so the merge's vector spans several of them
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 5).repartition(8))
    t1.commit()

    updates = orders.filter(F.col("o_orderkey") % 20 == 5).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = orders.filter(F.col("o_orderkey") % 10 == 6)
    t2 = table.begin()
    t2.merge(spark, updates.unionByName(inserts), "o_orderkey")
    t2.commit()

    return TransactionalTable(root).read(spark).orderBy("o_orderkey")


ORACLE_TXN_MERGE_UPSERT = """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 20 = 5 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 10 IN (5, 6)
    ORDER BY o_orderkey
"""


def q_txn_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION through the manifest log: v1 commits
    the o_orderkey%10==7 slice of orders, v2 MERGEs a corrupting update
    (+9999 on every row), v3 = restore(1) rolls the data back as a NEW
    commit (sources/manifest.py restore — metadata-only; the reference's
    abort path restores before-images, src/log/log_manager.cc:16-23
    contract, and over immutable files the before-image is the old
    manifest itself). The read is a fresh recovery-path open, so the
    result must be the ORIGINAL v1 rows; n_versions=3 is emitted as a
    column and pinned by the oracle, proving the rollback was an
    auditable forward commit, not a manifest rewrite."""
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_restore", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 7).repartition(4))
    t1.commit()

    corrupt = orders.filter(F.col("o_orderkey") % 10 == 7).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(9999.0)
    )
    t2 = table.begin()
    t2.merge(spark, corrupt, "o_orderkey")
    t2.commit()

    table.restore(1)
    reader = TransactionalTable(root)  # fresh open = recovery path
    return (
        reader.read(spark)
        .withColumn("n_versions", F.lit(reader.latest_version()))
        .orderBy("o_orderkey")
    )


ORACLE_TXN_RESTORE = """
    SELECT o_orderkey, o_custkey, o_totalprice, 3 AS n_versions
    FROM orders
    WHERE o_orderkey % 10 = 7
    ORDER BY o_orderkey
"""


def q_txn_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two committed versions
    (sources/manifest.py ``changes``): v1 commits the o_orderkey%10==5
    slice of orders across 8 files, v2 MERGEs an update of half of them
    (%20==5, price +1000) plus the %10==6 slice as inserts. The feed
    over (v1, v2] must contain the updated rows as delete+insert pairs
    (old and new values), the inserted slice as inserts, and — the sharp
    edge — NONE of the unchanged rows (%20==15) of the files the merge's
    deletion vector touched: those files re-enter the diff because their
    vector stack changed, and the exceptAll row diff cancels their
    surviving rows. Only the changed files are ever scanned, so the feed
    costs O(churn), not O(table)."""
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_changes", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 5).repartition(8))
    t1.commit()

    updates = orders.filter(F.col("o_orderkey") % 20 == 5).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = orders.filter(F.col("o_orderkey") % 10 == 6)
    t2 = table.begin()
    t2.merge(spark, updates.unionByName(inserts), "o_orderkey")
    t2.commit()

    return (
        TransactionalTable(root)
        .changes(spark, 1, 2)
        .orderBy("o_orderkey", "_change_type", "o_totalprice")
    )


ORACLE_TXN_CHANGES = """
    WITH feed AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
               'insert' AS _change_type
        FROM orders WHERE o_orderkey % 20 = 5
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, 'insert'
        FROM orders WHERE o_orderkey % 10 = 6
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, 'delete'
        FROM orders WHERE o_orderkey % 20 = 5
    )
    SELECT * FROM feed
    ORDER BY o_orderkey, _change_type, o_totalprice
"""


def q_txn_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE with metadata-first file discovery
    (sources/manifest.py ``Transaction.delete``): four commits load
    orders clustered into key quartiles (one file each); DELETE
    ``o_orderkey >= mid AND o_totalprice < 100000`` must rewrite ONLY
    the two upper-quartile files — the zone maps PROVE the lower two
    hold no matching row, so they are never read (the reference's heap
    delete logs each old tuple, src/heap/heap_file.cc:151-257; over
    immutable files the untouched+old files are the before-image). The
    PRUNING is value-checked: files_rewritten/files_total are emitted
    as columns and pinned at 2/4 by the oracle, alongside the surviving
    rows' aggregate — wrong rows deleted or wrong files touched both
    flip the hash. At 100 TB on a key-clustered layout a DELETE costs
    O(matching files), never a table scan."""
    from ..sources.manifest import TransactionalTable

    table, _, q = _quartile_orders(spark, sf_dir, "txn_delete")

    cut = q[2]
    td = table.begin()
    td.delete(
        spark, [("o_orderkey", ">=", cut), ("o_totalprice", "<", 100000.0)]
    )
    n_rewritten = len(td._replaced)
    td.commit()

    reader = TransactionalTable(table.root)  # fresh open = recovery path
    return reader.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        "n_rows",
        "sum_price",
        F.lit(n_rewritten).alias("files_rewritten"),
        F.lit(4).alias("files_total"),
    )


ORACLE_TXN_DELETE_WHERE = """
    WITH cut AS (
        SELECT (2 * (MAX(o_orderkey) + 1)) // 4 AS mid FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           2 AS files_rewritten,
           4 AS files_total
    FROM orders, cut
    WHERE NOT (o_orderkey >= mid AND o_totalprice < 100000.0)
"""


def q_txn_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete via deletion vectors (sources/manifest.py
    ``Transaction.delete_mor`` — Delta's DV / Iceberg v2 position
    deletes): same quartile-clustered fixture as ``txn_delete_where``,
    same predicate — but the delete writes a small (file, row-position)
    vector instead of rewriting files. Every leg of the MOR contract is
    a value-checked column: ``files_rewritten`` = 0 (NO data file
    changed — the delete cost is the vector, KBs on a 100 TB table),
    ``dv_files`` = 2 (the vectors attach to exactly the two zone-map
    candidate files; the lower quartiles are never scanned),
    the surviving rows' aggregate (reads apply the vector via the
    anti-join), and ``n_rows_after_materialize`` (``materialize_dvs``
    folds the vectors through a COW rewrite and must not change a single
    row — the compaction half of the bargain)."""
    from ..sources.manifest import TransactionalTable

    table, _, q = _quartile_orders(spark, sf_dir, "txn_delete_mor")

    files_before = table.snapshot()["files"]
    cut = q[2]
    td = table.begin()
    td.delete_mor(
        spark, [("o_orderkey", ">=", cut), ("o_totalprice", "<", 100000.0)]
    )
    td.commit()
    snap = table.snapshot()
    files_rewritten = len(set(files_before) ^ set(snap["files"]))
    dv_files = len(snap.get("dvs", {}))

    reader = TransactionalTable(table.root)  # fresh open = recovery path
    agg = reader.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    )
    table.materialize_dvs(spark)
    n_after = TransactionalTable(table.root).read(spark).count()
    return agg.select(
        "n_rows",
        "sum_price",
        F.lit(files_rewritten).alias("files_rewritten"),
        F.lit(dv_files).alias("dv_files"),
        F.lit(n_after).alias("n_rows_after_materialize"),
    )


ORACLE_TXN_DELETE_MOR = """
    WITH cut AS (
        SELECT (2 * (MAX(o_orderkey) + 1)) // 4 AS mid FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           0 AS files_rewritten,
           2 AS dv_files,
           COUNT(*) AS n_rows_after_materialize
    FROM orders, cut
    WHERE NOT (o_orderkey >= mid AND o_totalprice < 100000.0)
"""


def q_txn_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL / retention delete with TIME-ZONE pruning: events land in four
    commits clustered by calendar quartile, then DELETE ``ts < cutoff``
    (the retention policy every event/training-data store runs) — the
    manifest's TIMESTAMP zone maps (epoch-microsecond min/max harvested
    from the parquet footers) must PROVE the two newer quartiles hold no
    expired row, so only the two old files are rewritten and the recent
    ones are never read. On a 100 TB time-partitioned table this is the
    difference between a retention sweep costing O(expired files) and a
    nightly full-table scan. files_rewritten/files_total are pinned at
    2/4 by the oracle alongside the survivors' aggregate."""
    import datetime as dt
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_retention", "events")

    # INT96 (the legacy parquet default) writes no timestamp min/max, which
    # would blind the time zone maps — force stats-bearing micros under any
    # host session (the driver's doesn't set it). Scoped: the prior value
    # is restored once the writes are committed, so the session-global
    # conf doesn't leak into later parquet writes in the same process.
    _prior_tst = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        # cached (r11): the span probe and all four quartile insert
        # jobs scan this projection — five decodes become one
        ev = track_persist(
            load_tables(spark, sf_dir)["events"].select(
                "event_id", "ts", "value"
            )
        )
        lo, hi = ev.agg(
            F.min(F.to_date("ts")), F.max(F.to_date("ts"))
        ).collect()[0]
        span = (hi - lo).days + 1
        bounds = [lo + dt.timedelta(days=(span * i) // 4) for i in range(5)]

        table = TransactionalTable.create(root, ev.schema)
        # staging writes overlapped, commits in window order (guide
        # §2.6; see _stage_concurrent — table state identical)
        _stage_concurrent(
            table,
            [
                ev.filter(
                    (F.to_date("ts") >= F.lit(bounds[i]))
                    & (
                        F.to_date("ts") < F.lit(bounds[i + 1])
                        if i < 3
                        else F.lit(True)
                    )
                ).coalesce(1)
                for i in range(4)
            ],
        )

        cutoff = dt.datetime.combine(bounds[2], dt.time.min)
        td = table.begin()
        td.delete(spark, ("ts", "<", cutoff))
        n_rewritten = len(td._replaced)
        td.commit()
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", _prior_tst)

    reader = TransactionalTable(root)  # fresh open = recovery path
    return reader.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("value"), 2).alias("sum_value"),
    ).select(
        "n_rows",
        "sum_value",
        F.lit(n_rewritten).alias("files_rewritten"),
        F.lit(4).alias("files_total"),
    )


ORACLE_TXN_RETENTION_DELETE = """
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS lo,
               datediff('day', MIN(CAST(ts AS DATE)),
                        MAX(CAST(ts AS DATE))) + 1 AS span
        FROM events
    ), cut AS (
        SELECT CAST(lo + CAST((span * 2) // 4 AS INT) AS TIMESTAMP) AS cutoff
        FROM bounds
    )
    SELECT COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_value,
           2 AS files_rewritten,
           4 AS files_total
    FROM events, cut
    WHERE NOT (CAST(date_trunc('microseconds', ts) AS TIMESTAMP) < cutoff)
"""


def q_txn_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMITTED slowly-changing-dimension maintenance: the SCD2 pattern
    (`scd2_build` computes the history SHAPE as a query; this APPLIES a
    change batch to a dimension table transactionally). Every customer
    loads as version 1 / current; a change batch re-segments every 7th
    customer; ONE merge replaces each changed key's rows (a deletion
    vector over the old row, an append of the new ones) with its CLOSED
    v1 row + its new CURRENT v2 row — the merge source
    carrying two rows per key is exactly what makes the existing
    key-replace merge semantics implement SCD2 without a special
    operator. Atomic: a reader sees the whole batch's history or none
    of it, and the pre-change dimension stays time-travel-readable.

    The oracle recomputes the expected post-state from the raw table
    (unchanged keys: one current v1 row; changed keys: one closed v1 +
    one current v2), aggregated with per-bucket key checksums so both
    the row multiplicity AND the membership of each bucket are
    value-checked. Versions are integers — no date nondeterminism.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_scd2", "customer")

    cust = load_tables(spark, sf_dir)["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    dim0 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    table = TransactionalTable.create(f"{root}/dim", dim0.schema)
    t = table.begin()
    t.insert(dim0.coalesce(2))
    t.commit()

    changed = cust.filter(F.col("c_custkey") % 7 == 0)
    closed_v1 = changed.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("version"),
        F.lit(False).alias("is_current"),
    )
    new_v2 = changed.select(
        "c_custkey",
        F.lit("MOVED").alias("segment"),
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    tm = table.begin()
    tm.merge(spark, closed_v1.unionByName(new_v2), "c_custkey")
    tm.commit()

    reader = TransactionalTable(f"{root}/dim")  # fresh open
    dim = reader.read(spark)
    return dim.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("is_current"), 1).otherwise(0)).alias("n_current"),
        F.sum(F.when(~F.col("is_current"), 1).otherwise(0)).alias("n_closed"),
        F.sum(F.when(F.col("version") == 2, F.col("c_custkey"))).alias(
            "v2_key_sum"
        ),
        F.sum(
            F.when(F.col("is_current") & (F.col("version") == 1), F.col("c_custkey"))
        ).alias("v1_current_key_sum"),
    )


ORACLE_TXN_SCD2_APPLY = """
    SELECT (SELECT COUNT(*) FROM customer)
           + (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 = 0)
               AS n_rows,
           (SELECT COUNT(*) FROM customer) AS n_current,
           (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 = 0)
               AS n_closed,
           CAST((SELECT SUM(c_custkey) FROM customer WHERE c_custkey % 7 = 0)
               AS BIGINT) AS v2_key_sum,
           CAST((SELECT SUM(c_custkey) FROM customer WHERE c_custkey % 7 <> 0)
               AS BIGINT) AS v1_current_key_sum
"""


def q_txn_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (Iceberg's WAP pattern) end to end: the base
    table is branched (zero-copy shallow clone), TWO candidate batches
    land on branches — one clean, one failing its audit — and only the
    audited-green branch is PUBLISHED (atomic metadata adoption via
    ``publish_from``). The failing branch never touches main BY
    CONSTRUCTION: there is no undo step to get right, the bad data
    simply never enters the visible lineage.

    Value-checked legs: main's final contents = base + clean batch only
    (the oracle recomputes it), the bad batch's negative prices are
    absent, and publish was metadata-only (files_copied = 0 — the
    branch's files are adopted by reference). The audit here is the
    pipeline-side check (no negative totals, non-empty); table-level
    CHECK constraints (`txn_constraint_gate`) are the schema-side
    complement.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_wap", "orders")

    # cached (r11): the base/bad/good insert jobs each scanned this
    # 3-column projection — three parquet decodes become one
    orders = track_persist(
        load_tables(spark, sf_dir)["orders"].select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
    )
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    good = orders.filter(F.col("o_orderkey") % 2 == 1)
    bad = good.withColumn("o_totalprice", -F.col("o_totalprice"))

    main = TransactionalTable.create(f"{root}/main", orders.schema)
    t = main.begin()
    t.insert(base.coalesce(2))
    t.commit()

    published = 0
    for i, batch in enumerate([bad, good]):
        branch = main.clone(f"{root}/branch{i}")
        tb = branch.begin()
        tb.insert(batch.coalesce(2))
        tb.commit()
        # AUDIT runs against the branch; main is untouched either way
        audit = branch.read(spark).agg(
            F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias(
                "neg"
            ),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if audit.neg == 0 and audit.n > 0:
            main.publish_from(branch)
            published += 1

    reader = TransactionalTable(f"{root}/main")  # fresh open
    return reader.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias(
            "n_negative"
        ),
    ).select(
        "n_rows",
        "sum_price",
        "n_negative",
        F.lit(published).alias("n_published"),
        F.lit(2).alias("n_candidates"),
    )


ORACLE_TXN_WAP_PUBLISH = """
    SELECT COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           0 AS n_negative,
           1 AS n_published,
           2 AS n_candidates
    FROM orders
"""


def q_txn_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic INSERT OVERWRITE by predicate (sources/manifest.py
    ``replace_where`` — Delta's replaceWhere, the idempotent-backfill
    primitive): four commits load orders clustered into key quartiles;
    one transaction then replaces the upper half (``o_orderkey >= mid``)
    with a RECOMPUTED slice (prices doubled) in a single commit — the
    COW delete prunes to the two candidate files via zone maps, the
    replacement rides the same staging, and an Observation on the
    staging write validates every replacement row falls inside the
    predicate (zero extra passes). The read is a fresh recovery-path
    open; the oracle recomputes lower-half-unchanged +
    upper-half-doubled, so both the delete scope and the insert content
    are value-checked."""
    from ..sources.manifest import TransactionalTable

    table, orders, q = _quartile_orders(spark, sf_dir, "txn_replace")

    cut = q[2]
    recomputed = orders.filter(F.col("o_orderkey") >= cut).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2.0
    )
    txn = table.begin()
    txn.replace_where(spark, ("o_orderkey", ">=", cut), recomputed)
    txn.commit()

    return (
        TransactionalTable(table.root).read(spark).orderBy("o_orderkey")
    )


ORACLE_TXN_REPLACE_WHERE = """
    WITH cut AS (
        SELECT (2 * (MAX(o_orderkey) + 1)) // 4 AS mid FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey >= mid THEN o_totalprice * 2.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders, cut
    ORDER BY o_orderkey
"""


def q_txn_erase_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure (sources/manifest.py ``delete_keys``):
    the %10==2 slice of orders is committed across 8 files keyed by
    ORDER, then every row belonging to a SET OF CUSTOMERS (o_custkey %
    97 == 3) is erased in one COW commit — the GDPR flow: a customer's
    rows straddle many files, a semi-join discovers exactly which, only
    those are rewritten as anti-join survivors. The read is a fresh
    recovery-path open; the oracle recomputes base-minus-those-customers,
    value-checking both that every erased customer's row is gone and
    that no bystander row was touched. Erase → vacuum physically drops
    the bytes; pre-erasure versions stay time-travel-readable until
    then (tested in tests/test_manifest_delete_clone.py)."""
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_erase", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 2).repartition(8))
    t1.commit()

    forget = orders.filter(F.col("o_custkey") % 97 == 3).select("o_custkey")
    t2 = table.begin()
    t2.delete_keys(spark, forget, "o_custkey")
    t2.commit()

    return TransactionalTable(root).read(spark).orderBy("o_orderkey")


ORACLE_TXN_ERASE_KEYS = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 = 2 AND o_custkey % 97 <> 3
    ORDER BY o_orderkey
"""


def q_txn_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE + divergence (sources/manifest.py ``clone``): the
    source table commits the o_orderkey%10==1 slice of orders, is cloned
    (zero-copy: the clone's v0 manifest references the source's files),
    then each side commits its OWN extra slice — %10==2 into the source,
    %10==3 into the clone. The per-side aggregates prove both sides see
    the shared base plus only their own divergent commit; any metadata
    bleed between the tables (shared tip, wrong file list) flips the
    hash. Cloning is O(KB) regardless of table size."""
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_clone_src", "orders")
    clone_root = fixture_dir(sf_dir, "txn_clone_dst", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = TransactionalTable.create(root, orders.schema)
    t1 = src.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 1))
    t1.commit()

    dst = src.clone(clone_root)

    t2 = src.begin()
    t2.insert(orders.filter(F.col("o_orderkey") % 10 == 2))
    t2.commit()
    t3 = dst.begin()
    t3.insert(orders.filter(F.col("o_orderkey") % 10 == 3))
    t3.commit()

    def side(name: str, table_root: str) -> DataFrame:
        return (
            TransactionalTable(table_root)
            .read(spark)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
            )
            .select(F.lit(name).alias("side"), "n_rows", "sum_price")
        )

    return side("clone", clone_root).unionByName(side("source", root)).orderBy("side")


def q_txn_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance DRIVEN BY the change
    feed — what ``changes()`` exists for: a grouped aggregate MV over a
    transactional table is refreshed from the row-level delta of one
    commit instead of a full recompute.

    v1 commits the o_orderkey%10==5 slice; the MV (per-orderstatus
    count + decimal price sum) is materialized from v1. v2 MERGEs a
    price update (%20==5, +1000) and inserts the %10==6 slice. The
    refresh reads ONLY changes(1, 2) — inserts contribute +1/+price,
    deletes −1/−price, so an update's delete+insert pair nets the price
    delta exactly (decimal arithmetic, no float drift) — and full-outer
    merges the signed deltas into the MV. The oracle recomputes the
    post-v2 aggregate from scratch: the incrementally-maintained view
    must equal the full recompute to the last digit. Cost scales with
    the CHURN (the one commit's delta), never the table — the reason
    CDF-driven refresh is how every lakehouse maintains MVs at 100 TB."""
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_mv", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 5).repartition(4))
    t1.commit()

    # materialize the MV from v1 (decimal sums: exact under +/-)
    mv1 = (
        table.read(spark, version=1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("dsum"),
        )
    )

    updates = orders.filter(F.col("o_orderkey") % 20 == 5).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = orders.filter(F.col("o_orderkey") % 10 == 6)
    t2 = table.begin()
    t2.merge(spark, updates.unionByName(inserts), "o_orderkey")
    t2.commit()

    # refresh from the delta only: signed contributions per group
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        table.changes(spark, 1, 2)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(sign).alias("d_n"),
            F.sum(sign.cast("decimal(12,2)") * dec("o_totalprice")).alias("d_sum"),
        )
    )
    refreshed = (
        mv1.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                "n_orders"
            ),
            (
                F.coalesce(F.col("dsum"), F.lit(0).cast("decimal(12,2)"))
                + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(12,2)"))
            ).alias("dsum"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return refreshed.select(
        "o_orderstatus",
        "n_orders",
        F.round(F.col("dsum").cast("double"), 2).alias("sum_price"),
    ).orderBy("o_orderstatus")


ORACLE_TXN_INCREMENTAL_MV = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(
               CASE WHEN o_orderkey % 20 = 5 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price
    FROM orders
    WHERE o_orderkey % 10 IN (5, 6)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


def q_streaming_manifest_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional table AS A STREAM (sources/manifest_stream.py —
    the Delta/Iceberg streaming-source analog over the manifest commit
    log): offsets are manifest versions, each micro-batch reads exactly
    the files added by the versions it covers (one InputPartition per
    file, Arrow RecordBatches executor-side), and an aborted transaction
    never reaches the feed. Three insert-only commits of orders slices
    (with an abort in between) are tailed into a memory sink; the
    aggregate must equal the batch union of the committed slices — the
    oracle recomputes it from the base table, value-checking offsets,
    file diffing, executor reads, and abort invisibility end to end."""
    from ..sources.manifest import TransactionalTable
    from ..sources.manifest_stream import register

    root = fixture_dir(sf_dir, "txn_tail", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    for mod in (4, 8):
        t = table.begin()
        t.insert(orders.filter(F.col("o_orderkey") % 10 == mod).repartition(2))
        t.commit()
    bad = table.begin()
    bad.insert(orders.filter(F.col("o_orderkey") % 10 == 9))
    bad.abort()
    t3 = table.begin()
    t3.insert(orders.filter(F.col("o_orderkey") % 100 == 55))
    t3.commit()

    register(spark)
    return (
        drain_to_memory(
            lambda: spark.readStream.format("manifesttail").option("path", root).load(),
            "append",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderkey").alias("n_keys"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
    )


ORACLE_STREAMING_MANIFEST_TAIL = """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price
    FROM orders
    WHERE o_orderkey % 10 IN (4, 8) OR o_orderkey % 100 = 55
"""


ORACLE_TXN_CLONE = """
    SELECT 'clone' AS side, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price
    FROM orders WHERE o_orderkey % 10 IN (1, 3)
    UNION ALL
    SELECT 'source', COUNT(*),
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
    FROM orders WHERE o_orderkey % 10 IN (1, 2)
    ORDER BY side
"""


def q_txn_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping through the manifest (sources/manifest.py
    ``_harvest_stats``/``prune_files``) — the manifest-level analog of the
    reference's histogram-driven selectivity (src/optimizer/
    table_stats.cc): statistics exist so the engine can skip work a
    predicate provably excludes; here whole FILES are excluded before the
    distributed scan is planned, as in every lakehouse format's
    file-stats pruning.

    Four transactions commit orders clustered into key quartiles (one
    file each); the read carries ``where = (o_orderkey >= mid)``, so the
    manifest's footer-harvested min/max must prune exactly the two lower
    quartile files. The PRUNING ITSELF is value-checked: files_read /
    files_total are emitted as columns and the oracle pins them at 2 / 4
    — a bug that reads too many files (no pruning) or too few (wrong
    rows) fails the hash either on the counts or on the aggregates.

    Scale: pruning cost is O(files) driver-side metadata against the
    already-loaded manifest; on a range-clustered 100 TB key it removes
    entire task waves before scheduling.
    """
    from ..sources.manifest import TransactionalTable

    table, _, q = _quartile_orders(spark, sf_dir, "txn_zonemap")

    reader = TransactionalTable(table.root)  # fresh open = recovery path
    cut = q[2]
    df = reader.read(spark, where=("o_orderkey", ">=", cut))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        "n_rows",
        "min_key",
        "sum_price",
        F.lit(reader.last_scan["files_read"]).alias("files_read"),
        F.lit(reader.last_scan["files_total"]).alias("files_total"),
    )


ORACLE_TXN_ZONEMAP_SCAN = """
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           2 AS files_read,
           4 AS files_total
    FROM orders
    WHERE o_orderkey >= (SELECT ((MAX(o_orderkey) + 1) * 2) // 4 FROM orders)
"""


def q_txn_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point read through per-file bloom indexes — the distributed analog
    of the reference's heap point read by TID (reference:
    src/heap/heap_file.cc:86-137 ``HeapFile::get_tuple`` fetches exactly
    the one page holding a tuple; SURVEY §2.1-4): touch only the storage
    unit that can contain the key.

    The table is created with ``bloom_columns=["o_orderkey"]`` and a
    single commit HASH-clusters orders into 8 files — the adversarial
    layout for zone maps, since every file spans essentially the whole
    key range and min/max excludes nothing. The ``=`` read then prunes
    on the commit-time blooms: a bloom "no" is a proof of absence, so
    exactly the one file whose hash partition holds the key survives
    (pinned by the oracle as files_read 1 / files_total 8 — deterministic
    because the bloom hashing is seeded blake2b, and at 32 bits/key the
    false-positive odds are ~6e-5 per file).

    Scale: at 100 TB an unclustered key lookup is a full scan wave
    without this; with manifest blooms the driver schedules tasks for
    O(1) files. Build cost is one column-pruned pass per committed file,
    folded into commit exactly where a production writer computes it.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_bloom", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(
        root, orders.schema, bloom_columns=["o_orderkey"]
    )
    t1 = table.begin()
    # hash clustering: every file spans the key range -> zones are useless
    t1.insert(orders.repartition(8, F.col("o_orderkey")))
    t1.commit()

    # deterministic probe key — a metadata-scale collect, mirrored by the
    # oracle's scalar subquery
    key = orders.filter(F.col("o_orderkey") % 7 == 3).agg(
        F.max("o_orderkey")
    ).collect()[0][0]

    reader = TransactionalTable(root)  # fresh open = recovery path
    df = reader.read(spark, where=("o_orderkey", "=", int(key)))
    return df.select(
        "o_orderkey",
        "o_custkey",
        F.round(dec("o_totalprice").cast("double"), 2).alias("o_totalprice"),
        F.lit(reader.last_scan["files_read"]).alias("files_read"),
        F.lit(reader.last_scan["files_total"]).alias("files_total"),
    )


ORACLE_TXN_POINT_LOOKUP = """
    SELECT o_orderkey, o_custkey,
           ROUND(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 2)
               AS o_totalprice,
           1 AS files_read,
           8 AS files_total
    FROM orders
    WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders
                        WHERE o_orderkey % 7 = 3)
"""


def q_txn_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints on the transactional write path — the ingest
    quality gate, enforced as TABLE metadata so every writer is bound:
    the table declares ``price_positive: o_totalprice > 0`` and
    ``key_not_null: o_orderkey IS NOT NULL``; a first transaction
    commits a clean slice of orders, then a second stages the same
    table's %10==2 slice with prices NEGATED for o_orderkey%3==0 — the
    write itself raises ConstraintViolation (per-constraint counts) and
    auto-aborts, leaving the table untouched.

    Enforcement rides the staging write via ``Observation`` metrics —
    zero extra passes over the data, the only cost model that survives
    100 TB ingest. SQL CHECK semantics: NULL passes; only provably-FALSE
    rows violate.

    The result pins the whole story for the oracle: visible row count +
    price sum (only the clean slice), the rejected transaction's
    violating-row count (recomputed by the oracle from the base table),
    and the table version (1 = the rejected txn consumed no version).
    """
    from ..sources.manifest import ConstraintViolation, TransactionalTable

    root = fixture_dir(sf_dir, "txn_constraint", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(
        root,
        orders.schema,
        constraints={
            "price_positive": "o_totalprice > 0",
            "key_not_null": "o_orderkey IS NOT NULL",
        },
    )
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 1))
    t1.commit()

    corrupted = orders.filter(F.col("o_orderkey") % 10 == 2).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")),
    )
    t2 = table.begin()
    n_rejected = 0
    try:
        t2.insert(corrupted)
        t2.commit()  # must be unreachable
    except ConstraintViolation as e:
        n_rejected = e.violations.get("price_positive", 0)

    fresh = TransactionalTable(root)  # recovery-path open
    return fresh.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        "n_rows",
        "sum_price",
        F.lit(int(n_rejected)).alias("n_rejected"),
        F.lit(fresh.latest_version()).alias("version"),
    )


ORACLE_TXN_CONSTRAINT_GATE = """
    SELECT COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 10 = 2 AND o_orderkey % 3 = 0
              AND o_totalprice > 0) AS n_rejected,
           1 AS version
    FROM orders
    WHERE o_orderkey % 10 = 1
"""


def q_txn_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ALTER TABLE ADD COLUMN through the manifest: v1
    commits a 3-column slice of orders, ``alter_schema`` publishes a
    4-column schema WITHOUT rewriting any file, and v3 commits a second
    slice that populates the new ``o_priority`` column. The latest read
    resolves the current schema — pre-alter files have no pages for the
    new column and surface NULL; time travel to v1 still shows the
    3-column shape (schemas are versioned with the data).

    The result pins all of it for the oracle: per-priority counts and
    price sums (NULL group = the pre-alter rows), plus the column counts
    of the v1 and latest schemas.

    Scale: the alter is an O(KB) manifest write — a 100 TB table changes
    shape in milliseconds, which is exactly why lakehouse formats do
    schema evolution as metadata.
    """
    from pyspark.sql.types import StringType

    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_evolve", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 4))
    t1.commit()

    evolved = orders.schema.add("o_priority", StringType())
    table.alter_schema(evolved)

    t2 = table.begin()
    t2.insert(
        orders.filter(F.col("o_orderkey") % 10 == 5).withColumn(
            "o_priority",
            F.when(F.col("o_totalprice") > 150000.0, "high").otherwise("normal"),
        )
    )
    t2.commit()

    fresh = TransactionalTable(root)  # recovery-path open
    v1_cols = len(json.loads(fresh.snapshot(1)["schema"])["fields"])
    cur_cols = len(json.loads(fresh.snapshot()["schema"])["fields"])
    return (
        fresh.read(spark)
        .groupBy("o_priority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            "o_priority",
            "n_rows",
            "sum_price",
            F.lit(v1_cols).alias("v1_n_cols"),
            F.lit(cur_cols).alias("n_cols"),
        )
        .orderBy("o_priority")
    )


ORACLE_TXN_SCHEMA_EVOLUTION = """
    SELECT o_priority, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           3 AS v1_n_cols,
           4 AS n_cols
    FROM (
        SELECT CAST(NULL AS VARCHAR) AS o_priority, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 4
        UNION ALL
        SELECT CASE WHEN o_totalprice > 150000.0 THEN 'high'
                    ELSE 'normal' END, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 5
    )
    GROUP BY o_priority
    ORDER BY o_priority
"""


def q_txn_compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (lakehouse OPTIMIZE) + zone-map payoff in one
    lifecycle: the o_orderkey%10==7 slice of orders lands as 8
    round-robin (unclustered) files — streaming-ingest-shaped small-file
    debt — then ``compact(sort_by=o_orderkey, target_files=2)``
    range-clusters it into 2 files through a copy-on-write commit, and a
    ``>= 90% of max key`` read prunes to ONE of them via the refreshed
    commit-time zone maps. Emitted columns pin the whole story for the
    oracle: row aggregates (data survived the rewrite bit-for-bit),
    files_before 8, files_total 2, files_read 1 (pruning works on the
    clustered layout — against the pre-compact random layout the same
    predicate must read all 8, since every file spans the key range).

    Scale: compaction reads only sub-target files and writes
    ceil(bytes/target) outputs via repartitionByRange — a distributed
    sort, no single-task funnel; old versions stay time-travel-readable
    until vacuum.
    """
    from ..sources.manifest import TransactionalTable, prune_files

    root = fixture_dir(sf_dir, "txn_compact", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    slice_ = orders.filter(F.col("o_orderkey") % 10 == 7)
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(slice_.repartition(8))  # round-robin: every file spans the range
    t1.commit()

    mx = slice_.agg(F.max("o_orderkey")).collect()[0][0]
    cut = (9 * (mx + 1)) // 10
    files_before = len(table.snapshot()["files"])
    # Pre-compact layout check: every round-robin file spans the key
    # range, so a low-quartile cut prunes NOTHING (a high cut would make
    # this probabilistic on tiny slices — whether file i caught one of
    # the few top-decile keys).
    cut_low = (mx + 1) // 4
    unpruned = len(prune_files(table.snapshot(), ("o_orderkey", ">=", cut_low))[0])

    table.compact(spark, sort_by="o_orderkey", target_files=2)

    reader = TransactionalTable(root)
    df = reader.read(spark, where=("o_orderkey", ">=", cut))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        "n_rows",
        "min_key",
        "sum_price",
        F.lit(files_before).alias("files_before"),
        F.lit(unpruned).alias("unpruned_before"),
        F.lit(reader.last_scan["files_read"]).alias("files_read"),
        F.lit(reader.last_scan["files_total"]).alias("files_total"),
    )


ORACLE_TXN_COMPACT_SCAN = """
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           8 AS files_before,
           8 AS unpruned_before,
           1 AS files_read,
           2 AS files_total
    FROM orders
    WHERE o_orderkey % 10 = 7
      AND o_orderkey >= (SELECT ((MAX(o_orderkey) + 1) * 9) // 10
                         FROM orders WHERE o_orderkey % 10 = 7)
"""


def q_txn_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log history (DESCRIBE HISTORY analog) for a table
    lifecycle — create, two inserts (4 + 2 files), an ABORTED third
    insert, and a compaction packing the 6 files into 2. Each row is
    (version, live files, files added, files removed), derived by
    diffing consecutive manifests. The whole history is value-determined
    by the lifecycle, so the oracle is a VALUES table: the commit-log
    bookkeeping itself — including abort invisibility (the aborted txn
    produces NO version between v2 and the compaction) and the
    compaction's 6-out/2-in swap — is hash-checked, not just final
    state.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_history", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 8).repartition(4))
    t1.commit()  # v1: +4
    t2 = table.begin()
    t2.insert(orders.filter(F.col("o_orderkey") % 10 == 9).repartition(2))
    t2.commit()  # v2: +2
    t3 = table.begin()
    t3.insert(orders.filter(F.col("o_orderkey") % 10 == 3))
    t3.abort()  # no version — invisible in the history
    table.compact(spark, target_files=2)  # v3: -6 +2
    return table.history(spark).orderBy("version")


ORACLE_TXN_HISTORY = """
    SELECT * FROM (VALUES (0, 0, 0, 0),
                          (1, 4, 4, 0),
                          (2, 6, 2, 0),
                          (3, 2, 2, 6))
        AS t(version, n_files, n_added, n_removed)
    ORDER BY version
"""


def q_txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation time travel over the manifest commit log: two
    committed versions of the table, then BOTH read back concurrently —
    ``read(version=v1)`` must see only txn1's rows even though v2 is
    already the latest manifest (immutable data files + versioned
    manifests make historical reads free, the Iceberg/Delta property the
    reference's transaction tests imply but its empty LogManager cannot
    deliver; log_manager_test.cc:249-300 is the commit-visibility spec).
    The result is one aggregate row per snapshot; the oracle recomputes
    each snapshot's membership predicate directly.

    Scale: a historical read plans exactly like a current read — the
    manifest pins a file list, the scan is ordinary distributed parquet.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_tt", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice")
    table = TransactionalTable.create(root, orders.schema)
    t1 = table.begin()
    t1.insert(orders.filter(F.col("o_orderkey") % 10 == 3))
    v1 = t1.commit()
    t2 = table.begin()
    t2.insert(orders.filter(F.col("o_orderkey") % 10 == 4))
    v2 = t2.commit()

    fresh = TransactionalTable(root)  # recovery-path open

    def snap(version: int, name: str) -> DataFrame:
        return (
            fresh.read(spark, version=version)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
            )
            .select(F.lit(name).alias("snapshot"), "n_rows", "sum_price")
        )

    return snap(v1, "v1").unionAll(snap(v2, "v2")).orderBy("snapshot")


ORACLE_TXN_TIME_TRAVEL = """
    SELECT 'v1' AS snapshot, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT 'v2' AS snapshot, COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price
    FROM orders WHERE o_orderkey % 10 IN (3, 4)
    ORDER BY snapshot
"""


def q_txn_cluster_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec / clustering EVOLUTION across file generations —
    the lakehouse capability hive-style static partitioning lacks: a
    table whose early files were laid out for one predicate class and
    whose later files for another keeps BOTH scans prunable, because
    zone-map pruning reads each file's own stats instead of a
    table-wide partition spec (Iceberg's partition-evolution argument,
    realized here through the manifest's spec-agnostic zones).

    Fixture: generation 1 (lower-half custkeys) commits 4 files
    clustered by ORDER-DATE quarter; the table then "evolves" — the
    ingest re-clusters — and generation 2 (upper-half custkeys)
    commits 4 files clustered by ORDER-KEY quartile. Two predicate
    reads follow:

    - date scan (o_orderdate ≥ Q4 cut): gen-1 prunes to its one Q4
      file, gen-2 files all span the full date range and must all be
      read → files_read 5 / 8;
    - key scan (o_orderkey ≥ Q4 cut): the mirror — gen-2 prunes to one
      file, gen-1 read in full → 5 / 8.

    Both prune counts AND both result aggregates are oracle-pinned, so
    a layout change that silently broke pruning (or worse, results)
    fails the hash. Scale: evolution is metadata-only — no rewrite of
    old files — and pruning cost stays O(files) driver-side.
    """
    import datetime as dt
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_cluster_evo", "orders")

    # INT96 (the legacy parquet default) writes no timestamp min/max,
    # which would blind the o_orderdate zones — force stats-bearing
    # micros under any host session (the driver's doesn't set it).
    # Scoped: the prior value is restored once the writes commit, so the
    # session-global conf doesn't leak into later parquet writes.
    _prior_tst = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        # cached (r11): the stats probe and all EIGHT generation insert
        # jobs scan this projection — nine parquet decodes become one
        orders = track_persist(
            load_tables(spark, sf_dir)["orders"].select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
            )
        )
        mx_key, mx_cust, d0, d1 = orders.agg(
            F.max("o_orderkey"),
            F.max("o_custkey"),
            F.min(F.to_date("o_orderdate")),
            F.max(F.to_date("o_orderdate")),
        ).collect()[0]
        mid_cust = (mx_cust + 1) // 2
        kq = [(i * (mx_key + 1)) // 4 for i in range(5)]
        span = ((d1 - d0).days + 1) // 4  # whole days per date quarter

        gen1 = orders.filter(F.col("o_custkey") <= mid_cust)
        gen2 = orders.filter(F.col("o_custkey") > mid_cust)

        table = TransactionalTable.create(root, orders.schema)
        day_idx = F.datediff(F.to_date("o_orderdate"), F.lit(d0))
        for i in range(4):  # generation 1: date-quarter clustering
            lo, hi = i * span, (i + 1) * span
            part = gen1.filter(
                (day_idx >= lo) & ((day_idx < hi) if i < 3 else F.lit(True))
            )
            t = table.begin()
            t.insert(part.coalesce(1))
            t.commit()
        for lo, hi in zip(kq, kq[1:]):  # generation 2: key-quartile
            t = table.begin()
            t.insert(
                gen2.filter(
                    (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
                ).coalesce(1)
            )
            t.commit()
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", _prior_tst)

    reader = TransactionalTable(root)  # fresh open = recovery path
    cut_ts = dt.datetime.combine(
        d0 + dt.timedelta(days=3 * span), dt.time()
    )
    date_df = reader.read(spark, where=("o_orderdate", ">=", cut_ts))
    date_row = date_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        F.lit("date_ge_q4").alias("scan"),
        "n_rows",
        "sum_price",
        F.lit(reader.last_scan["files_read"]).alias("files_read"),
        F.lit(reader.last_scan["files_total"]).alias("files_total"),
    )
    key_df = reader.read(spark, where=("o_orderkey", ">=", kq[3]))
    key_row = key_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        F.lit("key_ge_q4").alias("scan"),
        "n_rows",
        "sum_price",
        F.lit(reader.last_scan["files_read"]).alias("files_read"),
        F.lit(reader.last_scan["files_total"]).alias("files_total"),
    )
    return date_row.unionAll(key_row).orderBy("scan")


ORACLE_TXN_CLUSTER_EVOLUTION = """
WITH bounds AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
           (date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                      MAX(CAST(o_orderdate AS DATE))) + 1) // 4 AS span,
           ((MAX(o_orderkey) + 1) * 3) // 4 AS kq3
    FROM orders
)
SELECT 'date_ge_q4' AS scan, COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS sum_price,
       5 AS files_read, 8 AS files_total
FROM orders, bounds
WHERE o_orderdate >= CAST(d0 + 3 * span * INTERVAL 1 DAY AS TIMESTAMP)
UNION ALL
SELECT 'key_ge_q4' AS scan, COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS sum_price,
       5 AS files_read, 8 AS files_total
FROM orders, bounds
WHERE o_orderkey >= kq3
ORDER BY scan
"""


def q_txn_vacuum_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM made catalog-visible: the storage-reclaim half of the
    table lifecycle (every other lifecycle op — merge, delete, compact,
    restore, clone, WAP — already has a driver-checkable query; this
    closes the loop). The fixture manufactures all three kinds of dead
    storage a real table accretes:

    - two small ingest commits whose files a later OPTIMIZE
      (``compact``) rewrites — their txn dirs become unreferenced by
      the LATEST manifest (time travel to pre-compact versions is the
      price, as in any lakehouse VACUUM);
    - one crashed writer (begin + insert, never commit) whose staged
      files no manifest ever referenced.

    ``vacuum()`` must reclaim exactly those three txn dirs and NOTHING
    live: the report emits the reclaim counts AND the post-vacuum read
    (row count, exact decimal sum) so a vacuum that touched a live file
    fails the hash on the data columns, not just the bookkeeping.
    Scale: vacuum is driver-side metadata (set difference of dir names)
    + O(dead files) deletes — no data scan.
    """
    from ..sources.manifest import TransactionalTable

    root = fixture_dir(sf_dir, "txn_vacuum", "orders")

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # cached (r11): the two parity inserts and the crashed-writer stage
    # each scanned the subset — three parquet decodes become one
    subset = track_persist(orders.filter(F.col("o_orderkey") % 10 == 7))

    table = TransactionalTable.create(root, subset.schema)
    for parity in (0, 1):  # two small ingest commits, one file each
        t = table.begin()
        t.insert(subset.filter(F.col("o_custkey") % 2 == parity).coalesce(1))
        t.commit()
    crashed = table.begin()  # crashed writer: staged, never committed
    crashed.insert(subset.limit(5).coalesce(1))

    # OPTIMIZE: pack both small files into one (huge target => exactly
    # ceil(bytes/target) = 1 rewritten file, byte-size independent)
    table.compact(spark, target_file_bytes=1 << 40)

    reclaimed = table.vacuum()

    reader = TransactionalTable(root)
    snap = reader.snapshot(None)
    df = reader.read(spark)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_double(dec("o_totalprice"), 2).alias("sum_price"),
    ).select(
        "n_rows",
        "sum_price",
        F.lit(len(reclaimed)).alias("dirs_reclaimed"),
        F.lit(len(snap["files"])).alias("files_live"),
    )


ORACLE_TXN_VACUUM_REPORT = """
    SELECT COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
               AS sum_price,
           3 AS dirs_reclaimed,
           1 AS files_live
    FROM orders
    WHERE o_orderkey % 10 = 7
"""


def oracles() -> dict[str, tuple]:
    return {
        "txn_write_read": (q_txn_write_read, ORACLE_TXN_WRITE_READ),
        "txn_merge_upsert": (q_txn_merge_upsert, ORACLE_TXN_MERGE_UPSERT),
        "txn_restore": (q_txn_restore, ORACLE_TXN_RESTORE),
        "txn_changes": (q_txn_changes, ORACLE_TXN_CHANGES),
        "txn_delete_where": (q_txn_delete_where, ORACLE_TXN_DELETE_WHERE),
        "txn_delete_mor": (q_txn_delete_mor, ORACLE_TXN_DELETE_MOR),
        "txn_retention_delete": (
            q_txn_retention_delete,
            ORACLE_TXN_RETENTION_DELETE,
        ),
        "txn_wap_publish": (q_txn_wap_publish, ORACLE_TXN_WAP_PUBLISH),
        "txn_scd2_apply": (q_txn_scd2_apply, ORACLE_TXN_SCD2_APPLY),
        "txn_replace_where": (q_txn_replace_where, ORACLE_TXN_REPLACE_WHERE),
        "txn_erase_keys": (q_txn_erase_keys, ORACLE_TXN_ERASE_KEYS),
        "txn_incremental_mv": (q_txn_incremental_mv, ORACLE_TXN_INCREMENTAL_MV),
        "txn_clone": (q_txn_clone, ORACLE_TXN_CLONE),
        "streaming_manifest_tail": (
            q_streaming_manifest_tail,
            ORACLE_STREAMING_MANIFEST_TAIL,
        ),
        "txn_zonemap_scan": (q_txn_zonemap_scan, ORACLE_TXN_ZONEMAP_SCAN),
        "txn_cluster_evolution": (
            q_txn_cluster_evolution,
            ORACLE_TXN_CLUSTER_EVOLUTION,
        ),
        "txn_vacuum_report": (q_txn_vacuum_report, ORACLE_TXN_VACUUM_REPORT),
        "txn_point_lookup": (q_txn_point_lookup, ORACLE_TXN_POINT_LOOKUP),
        "txn_constraint_gate": (q_txn_constraint_gate, ORACLE_TXN_CONSTRAINT_GATE),
        "txn_schema_evolution": (q_txn_schema_evolution, ORACLE_TXN_SCHEMA_EVOLUTION),
        "txn_compact_scan": (q_txn_compact_scan, ORACLE_TXN_COMPACT_SCAN),
        "txn_history": (q_txn_history, ORACLE_TXN_HISTORY),
        "txn_time_travel": (q_txn_time_travel, ORACLE_TXN_TIME_TRAVEL),
        "source_python_stream": (q_source_python_stream, ORACLE_SOURCE_PYTHON_STREAM),
        "source_zorder_scan": (q_source_zorder_scan, ORACLE_SOURCE_ZORDER_SCAN),
        "bucketed_colocated_join": (
            q_bucketed_colocated_join,
            ORACLE_BUCKETED_COLOCATED_JOIN,
        ),
        "source_python_datasource": (
            q_source_python_datasource,
            ORACLE_SOURCE_PYTHON_DATASOURCE,
        ),
        "source_python_datasink": (
            q_source_python_datasink,
            ORACLE_SOURCE_PYTHON_DATASINK,
        ),
        "cluster_key_advisor": (
            q_cluster_key_advisor,
            _oracle_cluster_key_advisor(),
        ),
        "source_csv_scan": (q_source_csv_scan, ORACLE_SOURCE_CSV_SCAN),
        "source_json_scan": (q_source_json_scan, ORACLE_SOURCE_JSON_SCAN),
        "source_orc_scan": (q_source_orc_scan, ORACLE_SOURCE_ORC_SCAN),
        "source_partitioned_scan": (
            q_source_partitioned_scan,
            ORACLE_SOURCE_PARTITIONED_SCAN,
        ),
        "source_binaryfile_scan": (
            q_source_binaryfile_scan,
            ORACLE_SOURCE_BINARYFILE_SCAN,
        ),
        "source_schema_evolution": (
            q_source_schema_evolution,
            ORACLE_SOURCE_SCHEMA_EVOLUTION,
        ),
        "dpp_join_pruned": (q_dpp_join_pruned, ORACLE_DPP_JOIN_PRUNED),
    }
