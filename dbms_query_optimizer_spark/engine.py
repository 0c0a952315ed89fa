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

Every read of a testdata table goes through here: the table list
(``TABLES``), the session confs the read needs (``_pin_session``), the
timestamp normalization (``_normalize_timestamps``, shared by batch and
streaming frames), the batch frames (``load_tables``) and the one events
stream (``events_stream``). The schema is always the one the parquet
footers carry; no second copy of it is kept.
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
      pinned to UTC (_pin_session), so the cast is identity on the stored
      micros and epoch math matches DuckDB's naive-timestamp epoch.

    Works on batch and streaming frames alike (a column rewrite).

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


def _pin_session(spark: SparkSession) -> None:
    """Set the session confs every testdata read needs.

    SESSION-WIDE SIDE EFFECT: sets ``spark.sql.session.timeZone=UTC``
    and ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session (required for the NTZ->LTZ timestamp normalization to be
    an identity on stored values). Any timezone-sensitive query the
    caller runs on the same session afterwards sees UTC; a warning is
    logged if a different pre-existing timeZone is being overridden.
    Set here rather than in the session factory, so queries work from a
    caller-built session too.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prev_tz not in (None, "UTC"):
        import logging

        logging.getLogger(__name__).warning(
            "overriding spark.sql.session.timeZone=%s with UTC "
            "(required for exact timestamp normalization)",
            prev_tz,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Every known table from ``{sf_dir}/{name}.parquet``: name ->
    DataFrame, each registered as a temp view of that name for SQL.

    Parquet scans are lazy; registering a view costs nothing until an
    action runs, and Catalyst pushes filters/projections into the scan.
    Pins the session confs on a cache miss (``_pin_session``).
    """
    key = os.path.abspath(sf_dir)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return dict(hit[1])
    _pin_session(spark)
    tables = {}
    for name in TABLES:
        df = _normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        df.createOrReplaceTempView(name)
        tables[name] = df
    _TABLE_CACHE[key] = (spark, tables)
    return dict(tables)


def events_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over ``{sf_dir}/events.parquet``, ``ts`` normalized as
    in ``load_tables``.

    The file source streams a directory, so the two on-disk layouts need
    different sources: a directory-shaped events.parquet (part files) is
    streamed directly, while the single-file layout streams ``sf_dir``
    with a glob that keeps only that file (a glob on a directory layout
    would match the part-file NAMES and read nothing). The schema is the
    footers', read once by the batch reader. ``files_per_trigger`` caps
    the files per micro-batch; unset, one trigger takes every file.
    """
    _pin_session(spark)
    path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    if os.path.isdir(path):
        stream = reader.parquet(path)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return _normalize_timestamps(stream)


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
