"""Engine: table registry.

The Spark analog of the reference's catalog
(reference: ``src/include/optimizer/catalog.h:13-21``). Where the reference
identifies a table by an integer segment id and tracks ``(table_id,
page_count)``, we identify a table by name and back it with a
Parquet-scanned DataFrame. The per-table ``TableStats`` map
(``src/optimizer/table_stats.cc:156-268``) lives with the planner:
``plans.pipeline`` builds and caches it per session and table plan.

The registry also records each table's primary key. The reference hard-codes
"field 0 is the primary key" (``join_optimizer.cc:220,224``); in a
named-schema world that convention becomes explicit per-table metadata used
by the join-cardinality estimator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver-provided testdata tables (TESTDATA.md). Primary-key metadata is
# the named-schema translation of the reference's "field 0 is PK" convention
# (FIXTURES.md §B). lineitem's key is composite, so no single-column PK.
TABLES: dict[str, str | None] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": None,
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Conform timestamp columns to session-local TIMESTAMP (LTZ).

    The driver's parquet has changed representation across rounds:
    TIMESTAMP(NANOS) (readable only as a raw long via
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain ``timestamp[us]``
    with no timezone, which Spark 4 infers as TIMESTAMP_NTZ. Functions like
    ``unix_micros``/``window`` and every oracle comparison want one type, so:

    - bigint named ``ts``  -> nanos long, integer-DIV to micros (float
      division would lose bits above 2^53), then ``timestamp_micros``;
    - TIMESTAMP_NTZ        -> cast to TIMESTAMP. The session timezone is
      pinned to UTC (load_tables), so the cast is identity on the stored
      micros and epoch math matches DuckDB's naive-timestamp epoch.

    Caveat: PySpark renders collected TIMESTAMP (LTZ) values through the
    PYTHON PROCESS's local timezone, which the session conf does not
    control — exact-value parity of raw timestamp outputs additionally
    assumes the driver process runs in UTC (true for this environment's
    harness). TIMESTAMP_NTZ would collect tz-independently but breaks
    unix_micros/window/watermark arithmetic, which is the worse trade.
    """
    from pyspark.sql import functions as F

    for name, dtype in df.dtypes:
        if name == "ts" and dtype == "bigint":
            df = df.withColumn(name, F.timestamp_micros(F.expr(f"{name} DIV 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


# sf_dir -> (session, name -> DataFrame). DataFrames are immutable logical
# plans, so reusing them across query callables is safe; what the cache
# saves is the per-call file listing + parquet footer schema inference for
# all ten tables (~0.2-0.4 s per call — at 50+ catalog queries per bench
# run this was a double-digit-seconds fleet-wide fixed cost). Keyed by the
# session OBJECT so a stopped/recreated session can never serve stale
# plans.
_TABLE_CACHE: dict[str, tuple[SparkSession, dict[str, DataFrame]]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Every known table from ``{sf_dir}/{name}.parquet``: name ->
    DataFrame, each registered as a temp view of that name for SQL.

    Parquet scans are lazy; registering a view costs nothing until an
    action runs, and Catalyst pushes filters/projections into the scan.

    SESSION-WIDE SIDE EFFECT: sets ``spark.sql.session.timeZone=UTC``
    and ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session (required for the NTZ->LTZ timestamp normalization to be
    an identity on stored values). Any timezone-sensitive query the
    caller runs on the same session afterwards sees UTC; a warning is
    logged if a different pre-existing timeZone is being overridden.
    """
    key = os.path.abspath(sf_dir)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return dict(hit[1])
    # set here rather than in the session factory, so queries work from a
    # caller-built session too
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prev_tz not in (None, "UTC"):
        import logging

        logging.getLogger(__name__).warning(
            "load_tables overriding spark.sql.session.timeZone=%s with UTC "
            "(required for exact timestamp normalization)",
            prev_tz,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tables = {}
    for name in TABLES:
        df = _normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        df.createOrReplaceTempView(name)
        tables[name] = df
    _TABLE_CACHE[key] = (spark, tables)
    return dict(tables)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism.

    For stages whose cost is per-row CPU (tokenization, shingling,
    per-pair verification) over a SMALL byte footprint: Spark's
    byte-based split sizing scans a small compressed file as one task,
    and AQE's byte-based coalescing keeps downstream partitions few —
    both mispredict CPU-bound work. An explicit repartition (user counts
    are never re-coalesced by AQE) buys P-way compute for one shuffle of
    the raw rows. At 100 TB the input arrives as many files and this
    collapses to a cheap balanced exchange — it is the small-file floor,
    not the scale path, that needs it.
    """
    par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(par)
