"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast-join conversion after the first shuffle's real sizes are known).
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this is superseded by AQE's coalescing from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Arrow enabled so every Pandas-UDF boundary is batched, not per-row.
- Session timezone pinned to UTC so results hash-compare cleanly against
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .cache import warehouse_dir

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dbms_query_optimizer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    In local mode there is a single JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster the same config block is still correct — AQE
    and Arrow settings are cluster-neutral, and shuffle partitions get
    re-coalesced at runtime.
    """
    cpus = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions
        # hold instead of always sort-merge (guide §3.1/§9): no sort on
        # either side when the per-partition build side fits. Scale-neutral
        # — the OOM risk of an oversized build partition is covered by AQE
        # skew splitting (on above). Measured r11 on a 17-query join
        # subset: 19.0 -> 17.0 s with no per-query regression; full
        # catalog re-verified hash-green under the flag.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Python worker spawn handshake: the post-accept auth exchange
        # defaults to 15s; under co-tenant CPU load a fresh interpreter
        # (Python data-source planner processes are never daemon-forked)
        # can blow it. The pre-auth accept window is hardcoded 10s in
        # PythonWorkerFactory and NOT conf-able — streaming/startup.py
        # retries that one.
        .config("spark.python.authenticate.socketTimeout", "120s")
        # PySpark records the Python call site of every Column op for
        # error context (``_with_origin``): 13 Py4J round trips per F.col,
        # 11 per ==, on plans the engine builds thousands of ops into
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # custom Python data sources implementing pushFilters need this on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # testdata events.ts is TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert at load (engine.load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (the legacy default) writes NO footer min/max for
        # timestamps, which blinds the manifest's time zone maps — the
        # retention-delete pruning path needs TIMESTAMP_MICROS stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # origin marker: builder confs become `--conf` args on the
        # SparkSubmit cmdline, so every JVM this engine launches is
        # identifiable from /proc — bench's stray-JVM reaper requires
        # this marker and will never touch an unrelated Spark process
        # (even a daemonized one reparented to PID 1 while healthy)
        .config("spark.dbms_query_optimizer_spark.origin", "1")
        .config("spark.ui.enabled", "false")
        # managed tables and databases (the bucketed join's tables,
        # cbo_cmp.db) go under this process's private root, not a
        # ./spark-warehouse that every process started in one cwd shares
        .config("spark.sql.warehouse.dir", warehouse_dir())
        .config("spark.driver.maxResultSize", "4g")
        # local mode = one JVM for driver + all executor threads; Spark's
        # 1g default is sized for a driver that only coordinates. 32
        # concurrent tasks' aggregate buffers (ObjectHashAggregate
        # percentile summaries, distinct Expand streams, broadcast
        # relations) share this heap — 1g OOMs a full-catalog sf0.1
        # sweep. Applied only at JVM launch; harmless no-op if the
        # session already exists (cluster deploys size the driver via
        # spark-submit instead).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # whole-stage codegen compiles one Java class per plan; a 90+
        # query session fills HotSpot's 240m default reserved code cache,
        # after which the JIT stops compiling and LATE queries silently
        # run interpreted 2-3x slower (observed: the same query 9.5 s at
        # the tail of a 93-query bench vs 3.0 s steady-state). Applied at
        # JVM launch only, like driver.memory.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def state_width(df: "DataFrame") -> int:
    """Partition width for node-domain loop-state frames (labels,
    frontiers, nearest-center structs) and the small persisted edge
    frames the iterative loops re-join every round.

    These frames are tiny relative to the corpus (a few scalars per
    node), so materializing them at full shuffle width leaves most
    cached partitions near-empty and per-round task-launch overhead
    dominates the loop (measured on local[32]: the dedup-components
    loop at width 64 vs 8). But a CONSTANT width is the opposite
    failure at cluster scale: with shuffle.partitions=2000 and 10^9
    nodes, a hard-coded 8 serializes every round onto 8 tasks carrying
    100M+ rows each. Derive the width from the session's configured
    shuffle parallelism instead — a quarter of
    spark.sql.shuffle.partitions, floored at 8: on local[32]
    (partitions=32) that reproduces the measured-optimal 8, and on a
    1000-executor cluster it tracks the configured parallelism.
    """
    spark = df.sparkSession
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # "auto" or unset — fall back to the cluster's task parallelism
        sp = spark.sparkContext.defaultParallelism
    return max(sp // 4, 8)
