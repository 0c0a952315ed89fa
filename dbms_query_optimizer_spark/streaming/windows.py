"""Event-time windowed aggregation: tumbling, sliding, session; batch and
true Structured Streaming.

The reference has no streaming surface (SURVEY §2.2); this is the
Spark-native completion of that category over the ``events`` table:

- batch ``window()`` / lag-gap sessionization, each with a DuckDB oracle
  (time_bucket / window functions express the same semantics);
- ``q_streaming_tumbling`` runs the SAME tumbling aggregation as an actual
  ``readStream -> withWatermark -> window -> writeStream`` query into a
  memory sink (complete mode), so the driver's oracle check proves
  streaming execution matches both batch Spark and DuckDB.

Every events stream here comes from ``engine.events_stream``, the one
function that reads both on-disk layouts and normalizes ``ts`` exactly as
the batch ``load_tables`` does, and runs through ``startup.run_stream``
(``drain_to_memory`` for the memory sinks), which owns its checkpoint,
drain, stop and retry; no query here names a checkpoint.

Scale notes: watermark + window state keeps memory bounded by (windows x
event types) regardless of input rate; sliding windows multiply state by
length/slide; sessionization in batch is a single shuffle on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import fixture_dir
from ..engine import events_stream, load_tables
from ..functions.numeric import dec, dsum_double
from .sinks import write_batch_idempotent
from .startup import drain_to_memory, run_stream

SESSION_GAP_MIN = 10


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["events"]


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type: count + exact-decimal sum."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENTS_TUMBLING = """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENTS_SLIDING = """
    SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS window_start,
           time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE
               + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM events, UNNEST([0, 1]) AS t(k)
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
"""


def q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per user, a new session starts after a gap >
    SESSION_GAP_MIN minutes. lag + cumulative-sum — one shuffle on
    user_id; identical SQL semantics on both engines."""
    ev = _events(spark, sf_dir)
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    with_flags = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_user) > gap_us,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    ).withColumn("session_no", F.sum("new_session").over(w_user))
    return (
        with_flags.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_no")
    )


ORACLE_EVENTS_SESSIONIZED = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_MIN * 60 * 1_000_000}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_no
        FROM flagged
    )
    SELECT user_id, session_no,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
"""


def q_events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's built-in ``session_window`` — the same
    grouping as the lag/cumsum form but with the native operator's
    boundary semantics: a session's window end is last_event + gap, and
    an event exactly gap after its predecessor starts a NEW session
    (interval [ts, ts+gap) no longer overlaps). The oracle mirrors both
    differences (>= gap split, max(ts) + gap end).

    In streaming this operator works unchanged after ``withWatermark``,
    with state merged incrementally instead of held per event.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


ORACLE_EVENTS_SESSION_WINDOW_NATIVE = f"""
    WITH ev AS (
        SELECT user_id, CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts,
               event_id, value
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {SESSION_GAP_MIN * 60 * 1_000_000}
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_no
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
"""


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation executed as a REAL streaming query.

    readStream over the events parquet -> 15-minute watermark -> 1-hour
    window aggregation -> memory sink in complete mode; the stream is
    drained synchronously and the sink table returned. Complete mode means
    every window is emitted regardless of watermark, so the result equals
    the batch query and shares its DuckDB oracle.
    """
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(lambda: agg, "complete").orderBy(
        "window_start", "event_type"
    )


def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, executed as a real streaming query.

    readStream over events -> broadcast join against the static customer
    dimension (user_id = c_custkey) -> 1-hour windowed aggregate per
    market segment -> memory sink in complete mode, drained synchronously.

    This is the canonical streaming-enrichment shape at scale: the static
    side is re-broadcast per micro-batch (no stream-side shuffle), so the
    join never adds state — only the windowed aggregate holds state,
    bounded by (windows x segments). Complete mode emits every window, so
    the result equals the equivalent batch join+agg and a plain SQL
    oracle covers a genuinely streaming execution.
    """
    stream = events_stream(spark, sf_dir)
    dim = load_tables(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
    agg = (
        stream.withWatermark("ts", "15 minutes")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(lambda: agg, "complete").orderBy(
        "window_start", "c_mktsegment"
    )


ORACLE_STREAMING_STATIC_JOIN = """
    SELECT date_trunc('hour', ts) AS window_start,
           c_mktsegment,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    ORDER BY window_start, c_mktsegment
"""


def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution join of two REAL streams: each click joined to the same
    user's purchases within the following 30 minutes.

    Both sides are independent readStreams over events, watermarked; the
    inner join carries the event-time range condition, which is what lets
    Spark bound both state stores — click state expires once the purchase
    watermark passes click.ts + 30 min, and vice versa. Inner-join matches
    emit in the micro-batch they occur (append mode never delays them), so
    after draining, the sink equals the batch join and shares its oracle.

    Scale: state is (watermark window x per-user click/purchase rate),
    independent of total history; the join shuffles both streams on
    user_id only.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")

    return drain_to_memory(lambda: joined, "append")


def q_streaming_stream_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join — the completion of
    ``q_streaming_stream_stream_join`` that also answers "which clicks
    NEVER converted": matched rows emit immediately like the inner join,
    and an unmatched click emits with NULL purchase columns only once
    the global watermark proves no qualifying purchase can still arrive
    (state eviction is the emission trigger — the semantics that make
    outer stream joins need watermarks at all).

    The final drained sink is deterministic regardless of micro-batch
    splits: matches depend only on the data, and NULL emission only on
    the FINAL global watermark min(max click ts, max purchase ts) − 1h.
    The oracle states exactly that: the batch inner join UNION ALL the
    NOT-EXISTS clicks whose 30-minute window closed strictly below the
    final watermark — clicks still inside the horizon are (correctly)
    withheld, and the hash check pins that boundary.

    Scale: state per side is (watermark horizon × arrival rate), same as
    the inner form; the outer side adds only the evicted-row emission.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )

    return drain_to_memory(lambda: joined, "append")


ORACLE_STREAM_STREAM_LEFT_JOIN = """
WITH wm AS (
    SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
           ) - INTERVAL 1 HOUR AS w
)
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
UNION ALL
SELECT c.user_id, c.event_id, NULL, c.ts, NULL
FROM events c, wm
WHERE c.event_type = 'click'
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase'
        AND p.user_id = c.user_id
        AND p.ts >= c.ts
        AND p.ts <= c.ts + INTERVAL 30 MINUTE
  )
  AND c.ts + INTERVAL 30 MINUTE < wm.w
"""


ORACLE_STREAM_STREAM_JOIN = """
    SELECT p.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first occurrence per (user, event_type,
    minute), as a REAL streaming query.

    dropDuplicates over a key set that includes the watermarked event-time
    column — the streaming dedup pattern whose state the watermark can
    expire (keys older than the watermark are dropped from the store).
    Output is restricted to the key columns, so "keep first arrival"
    equals batch DISTINCT and the oracle is exact.

    Scale: state is bounded by distinct keys inside the watermark horizon,
    not by stream length — the property that makes streaming dedup viable
    on an unbounded firehose where batch DISTINCT would need the full
    history.
    """
    keys = (
        events_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute_ts"),
        )
        .withWatermark("minute_ts", "1 hour")
        .dropDuplicates(["user_id", "event_type", "minute_ts"])
    )
    return drain_to_memory(lambda: keys, "append")


ORACLE_STREAMING_DEDUP = """
    SELECT DISTINCT user_id, event_type,
           date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute_ts
    FROM events
"""


def q_streaming_foreachbatch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch exactly-once ingestion, end to end: the events table
    drains through the idempotent per-batch_id file sink
    (streaming/sinks.py — each micro-batch overwrites its own batch=<id>
    directory, so checkpoint-redelivered batches replace identical bytes
    instead of duplicating), then the landed directories are read back
    and aggregated. The oracle aggregates the source directly: any lost
    or doubled batch breaks the value hash, which is exactly the
    exactly-once contract. A fresh output dir per run (and the runner's
    fresh checkpoint) so the entry re-executes the full drain every time.
    """
    out_dir = fixture_dir(sf_dir, "fbsink", "events")
    run_stream(
        lambda: events_stream(spark, sf_dir).writeStream.foreachBatch(
            write_batch_idempotent(out_dir)
        )
    )
    landed = spark.read.parquet(out_dir)
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_id").alias("n_distinct_events"),
            dsum_double(dec("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAMING_FOREACHBATCH_INGEST = """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_id) AS n_distinct_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


def q_streaming_upsert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the events stream drains through foreachBatch
    and every micro-batch MERGEs its latest-per-user rows into the
    transactional manifest table (sources/manifest.py COW merge) — the
    lakehouse "streaming upsert sink" pattern, state = one row per user.

    Batching-invariant and exactly-once by construction: each batch
    reduces to argmax(ts, event_id) per user, the merge source keeps the
    newer of (incoming, current) for matched keys (read-modify-write with
    an associative max), so any batch split, reordering, or checkpoint
    REPLAY of a batch converges to the same final state — at-least-once
    delivery plus an idempotent merge is the exactly-once contract, the
    same argument as the per-batch_id file sink (streaming/sinks.py).

    Scale: per batch the merge appends the batch and writes a deletion
    vector over the touched users' old rows, rewriting no file; the
    read-modify-write joins batch-sized frames against the snapshot
    (key-pruned by the semi-join inside merge). The oracle recomputes the
    global latest-per-user directly.
    """
    from ..sources.manifest import TransactionalTable

    table_root = fixture_dir(sf_dir, "upsert", "events")

    src = events_stream(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    table = TransactionalTable.create(table_root, src.schema)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
            .select("user_id", "m.ts", "m.event_id", "m.value")
        )
        cur = table.read(batch_df.sparkSession)
        merged = (
            latest.unionByName(cur.join(latest.select("user_id"), "user_id", "semi"))
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
            .select("user_id", "m.ts", "m.event_id", "m.value")
        )
        tx = table.begin()
        tx.merge(batch_df.sparkSession, merged, "user_id")
        tx.commit()

    run_stream(lambda: src.writeStream.foreachBatch(upsert_batch))
    return (
        TransactionalTable(table_root)  # fresh recovery-path open
        .read(spark)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


ORACLE_STREAMING_UPSERT_INGEST = """
    WITH ev AS (
        SELECT user_id, event_id, value,
               CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts
        FROM events
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM ev
    )
    WHERE rn = 1
    ORDER BY user_id
"""


def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every session's revenue credited to the
    channel that STARTED it — the marketing-mix counterpart of the
    last-touch/as-of lookup (`q_asof_join` answers "what preceded this
    purchase"; this answers "what do entry channels earn"). Sessions by
    the shared gap rule; the entry event is the session's (ts, event_id)
    minimum via one deterministic struct-min aggregate — no second
    window pass; revenue accumulates in exact integer cents.

    Per entry channel: sessions started, converting sessions, exact
    conversion rate, credited revenue. All integer/selection math — the
    only double is the final rate ratio.
    """
    ev = _events(spark, sf_dir)
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    sessioned = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
            * 100
        )
        .cast("long")
        .alias("cents"),
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_user) > gap_us,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    ).withColumn("session_no", F.sum("new_session").over(w_user))
    per_session = sessioned.groupBy("user_id", "session_no").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("entry"),
        F.sum("cents").alias("rev_cents"),
    )
    return (
        per_session.groupBy(F.col("entry.event_type").alias("entry_channel"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("rev_cents") > 0, 1).otherwise(0)).alias(
                "n_converting"
            ),
            F.sum("rev_cents").alias("credited_cents"),
        )
        .select(
            "entry_channel",
            "n_sessions",
            "n_converting",
            F.round(
                F.col("n_converting").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("conv_rate"),
            "credited_cents",
        )
        .orderBy("entry_channel")
    )


ORACLE_FIRST_TOUCH_ATTRIBUTION = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(ROUND(CASE WHEN event_type = 'purchase' THEN value
                           ELSE 0.0 END * 100) AS BIGINT) AS cents,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                     > {SESSION_GAP_MIN * 60 * 1_000_000}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_no
    FROM flagged
), entries AS (
    SELECT user_id, session_no, event_type AS entry_channel
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, session_no ORDER BY ts, event_id
        ) AS rn
        FROM numbered
    ) WHERE rn = 1
), revs AS (
    SELECT user_id, session_no, SUM(cents) AS rev_cents
    FROM numbered GROUP BY user_id, session_no
), per_session AS (
    SELECT e.entry_channel, r.rev_cents
    FROM entries e JOIN revs r USING (user_id, session_no)
)
SELECT entry_channel,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN rev_cents > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converting,
       ROUND(CAST(SUM(CASE WHEN rev_cents > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS conv_rate,
       CAST(SUM(rev_cents) AS BIGINT) AS credited_cents
FROM per_session
GROUP BY entry_channel
ORDER BY entry_channel
"""


PATH_TOP_K = 20


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize (same gap rule as
    ``q_events_sessionized``), render each session as its ordered
    event-type path string ("view>click>purchase"), and count the most
    common paths — the product-analytics query behind every "user flow"
    diagram.

    The path is built with array_sort(collect_list(struct(ts, event_id,
    type))) inside the per-session aggregate — order pinned by the
    struct, not by shuffle luck — then joined to a string JVM-side. The
    final top-k is a TakeOrdered over (path, count) partials: the
    shuffle carries one row per DISTINCT path, not per session.
    """
    ev = _events(spark, sf_dir)
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    sessioned = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_user) > gap_us,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    ).withColumn("session_no", F.sum("new_session").over(w_user))
    paths = sessioned.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


ORACLE_SESSION_PATHS = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                     > {SESSION_GAP_MIN * 60 * 1_000_000}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_no
    FROM flagged
), paths AS (
    SELECT user_id, session_no,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM numbered GROUP BY user_id, session_no
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP_K}
"""


DDSKETCH_GAMMA = 1.02  # relative-error alpha = (g-1)/(g+1) ~ 0.99%
# zero-bucket bin id: far below any real log bin (value=0.01 -> bin
# ~ -232 at gamma=1.02); gamma**ZERO_BIN underflows to +0.0 in IEEE
# pow on BOTH engines, so the bucket's midpoint estimate is exactly 0.0
DDSKETCH_ZERO_BIN = -(1 << 40)
DDSKETCH_QS = (0.5, 0.9, 0.99)


def ddsketch_partial(df: DataFrame) -> DataFrame:
    """(event_type, bin) counts with DDSketch log-domain bins:
    bin = ceil(ln(v)/ln(gamma)) — scale-free, no data pre-scan, so the
    sketch works on an unbounded stream (unlike equi-width bins, whose
    edges need min/max up front). Values ≤ 0 land in the dedicated ZERO
    BUCKET (DDSKETCH_ZERO_BIN, below every log bin; its midpoint
    estimate is exactly 0.0 since gamma^bin underflows): the sf0.1
    fixture carries value = 0.0 rows, where ln() is NULL in Spark but an
    ERROR in DuckDB — without the explicit bucket the two engines don't
    even agree on whether the query runs. A mirrored negative ladder
    would complete the production sketch; the fixture has no negatives.
    """
    import math

    bin_col = F.when(F.col("value") <= 0, F.lit(DDSKETCH_ZERO_BIN)).otherwise(
        F.ceil(F.log("value") / F.lit(math.log(DDSKETCH_GAMMA)))
    )
    return df.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("pn")
    )


def ddsketch_readout(partials: DataFrame) -> DataFrame:
    """Merge bin-count partials (addition — the whole merge algebra) and
    read quantile estimates off the merged sketch: per (type, q) the
    first bin whose cumulative count reaches rank ceil(q*n), estimated at
    the log-bucket midpoint 2*gamma^bin/(gamma+1)."""
    merged = partials.groupBy("event_type", "bin").agg(F.sum("pn").alias("n"))
    cums = merged.select(
        "event_type",
        "bin",
        F.sum("n").over(W.partitionBy("event_type").orderBy("bin")).alias("cum"),
    )
    totals = merged.groupBy("event_type").agg(F.sum("n").alias("n_rows"))
    qrows = totals.select(
        "event_type",
        "n_rows",
        F.explode(F.array(*[F.lit(q) for q in DDSKETCH_QS])).alias("q"),
    ).withColumn("p", F.ceil(F.col("q") * F.col("n_rows")))
    g = F.lit(DDSKETCH_GAMMA)
    return (
        F.broadcast(qrows)
        .join(cums, "event_type")
        .filter(F.col("cum") >= F.col("p"))
        .groupBy("event_type", "q", "n_rows", "p")
        .agg(F.min("bin").alias("qbin"))
        .select(
            "event_type",
            "q",
            "n_rows",
            "qbin",
            (F.lit(2.0) * F.pow(g, F.col("qbin").cast("double")) / (g + F.lit(1.0))).alias("est"),
        )
        .orderBy("event_type", "q")
    )


def q_streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable quantile sketch, end to end: the events table
    is split into multiple files, streamed one file per micro-batch, each
    batch reduced to its (type, log-bin) DDSketch partial and landed
    through the idempotent per-batch_id sink; the final readout merges
    every batch's partial by plain addition and reads the quantiles off
    the merged sketch.

    This is the streaming companion of ``q_quantile_sketch_mergeable``
    with the pre-scan removed: log-domain bins are scale-free, so the
    sketch needs NO min/max pass — the property that lets it run on an
    unbounded stream with bounded state (≤ types x occupied bins) and
    merge across arbitrary batch splits, executors, or days. The oracle
    recomputes the identical formula from the raw table in one pass: any
    lost, doubled, or mis-merged batch breaks the value hash, so
    exactly-once AND merge-correctness are both under the hash check.
    Estimate error is relative, bounded by (gamma-1)/(gamma+1) < 1 %;
    tests/test_smoothing_sketch.py pins batch-split invariance and the
    error law against exact per-type order statistics.
    """
    root = fixture_dir(sf_dir, "ddsketch", "events")
    src_dir, sketch_dir = f"{root}/src", f"{root}/sketch"
    vals = load_tables(spark, sf_dir)["events"].select("event_type", "value")
    vals.repartition(4).write.parquet(src_dir)  # 4 files -> 4 micro-batches
    stream = (
        spark.readStream.schema(vals.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ddsketch_partial(batch_df).write.mode("overwrite").parquet(
            f"{sketch_dir}/batch={batch_id}"
        )

    run_stream(lambda: stream.writeStream.foreachBatch(sink))
    return ddsketch_readout(
        spark.read.parquet(sketch_dir).select("event_type", "bin", "pn")
    )


ORACLE_STREAMING_QUANTILE_SKETCH = f"""
WITH binned AS (
    SELECT event_type,
           CASE WHEN value <= 0 THEN CAST({DDSKETCH_ZERO_BIN} AS BIGINT)
                ELSE CAST(CEIL(LN(value) / LN(CAST({DDSKETCH_GAMMA} AS DOUBLE)))
                     AS BIGINT) END AS bin
    FROM events
), merged AS (
    SELECT event_type, bin, COUNT(*) AS n FROM binned GROUP BY event_type, bin
), cums AS (
    SELECT event_type, bin,
           SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum
    FROM merged
), totals AS (
    SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_rows FROM merged GROUP BY event_type
), qrows AS (
    SELECT event_type, n_rows, q, CAST(CEIL(q * n_rows) AS BIGINT) AS p
    FROM totals, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                         (CAST(0.99 AS DOUBLE))) v(q)
)
SELECT qr.event_type, qr.q, qr.n_rows, MIN(c.bin) AS qbin,
       2.0 * POW(CAST({DDSKETCH_GAMMA} AS DOUBLE),
                 CAST(MIN(c.bin) AS DOUBLE))
           / (CAST({DDSKETCH_GAMMA} AS DOUBLE) + 1.0) AS est
FROM qrows qr JOIN cums c USING (event_type)
WHERE c.cum >= qr.p
GROUP BY qr.event_type, qr.q, qr.n_rows
ORDER BY qr.event_type, qr.q
"""


def oracles() -> dict[str, tuple]:
    return {
        "events_tumbling": (q_events_tumbling, ORACLE_EVENTS_TUMBLING),
        "events_sliding": (q_events_sliding, ORACLE_EVENTS_SLIDING),
        "events_sessionized": (q_events_sessionized, ORACLE_EVENTS_SESSIONIZED),
        "events_session_window_native": (
            q_events_session_window_native,
            ORACLE_EVENTS_SESSION_WINDOW_NATIVE,
        ),
        "streaming_tumbling": (q_streaming_tumbling, ORACLE_EVENTS_TUMBLING),
        "streaming_static_join": (q_streaming_static_join, ORACLE_STREAMING_STATIC_JOIN),
        "streaming_stream_stream_join": (
            q_streaming_stream_stream_join,
            ORACLE_STREAM_STREAM_JOIN,
        ),
        "streaming_stream_stream_left_join": (
            q_streaming_stream_stream_left_join,
            ORACLE_STREAM_STREAM_LEFT_JOIN,
        ),
        "streaming_dedup": (q_streaming_dedup, ORACLE_STREAMING_DEDUP),
        "streaming_foreachbatch_ingest": (
            q_streaming_foreachbatch_ingest,
            ORACLE_STREAMING_FOREACHBATCH_INGEST,
        ),
        "streaming_upsert_ingest": (
            q_streaming_upsert_ingest,
            ORACLE_STREAMING_UPSERT_INGEST,
        ),
        "streaming_quantile_sketch": (
            q_streaming_quantile_sketch,
            ORACLE_STREAMING_QUANTILE_SKETCH,
        ),
        "session_paths": (q_session_paths, ORACLE_SESSION_PATHS),
        "first_touch_attribution": (
            q_first_touch_attribution,
            ORACLE_FIRST_TOUCH_ATTRIBUTION,
        ),
    }
