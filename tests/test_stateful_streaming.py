"""Stateful streaming sessionization must agree with batch sessionization.

The streaming operator emits a session once the event-time watermark
passes its end + gap. The watermark is GLOBAL (max event ts across all
users), so after a bounded replay every session is closed except those
ending within one gap of the stream's final timestamp. The assertion
sandwiches the boundary: every emitted session must exist in the batch
result, and every session that is definitively past the watermark
(with a rounding margin) must have been emitted — with identical
aggregates.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from dbms_query_optimizer_spark.engine import TABLES, load_tables
from dbms_query_optimizer_spark.operators import catalog
from dbms_query_optimizer_spark.streaming.stateful import GAP_US, q_streaming_sessionized
from dbms_query_optimizer_spark.streaming.windows import q_events_sessionized

from .oracle_utils import duckdb_conn, normalize_rows

MARGIN_US = 10_000  # watermark/timeout timestamps round to milliseconds


def _directory_layout(spark, sf_dir: str, root: str, n_parts: int) -> str:
    """A copy of ``sf_dir`` at ``root`` whose events.parquet is a
    DIRECTORY of ``n_parts`` time-sliced part files (the layout a
    continuously-ingesting table has), with file mtimes staggered in
    time-slice order; every other table is a symlink to the original."""
    os.makedirs(root)
    ev_dir = os.path.join(root, "events.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartitionByRange(n_parts, "ts").sortWithinPartitions("ts").write.parquet(
        ev_dir
    )
    parts = sorted(f for f in os.listdir(ev_dir) if f.endswith(".parquet"))
    assert len(parts) == n_parts  # the multi-file layout is genuinely built
    now = time.time()
    for i, f in enumerate(parts):  # mtime order = time-slice order
        os.utime(os.path.join(ev_dir, f), (now + i, now + i))
    for t in TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", f"{root}/{t}.parquet")
    return root


def _key(r):
    return (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 2))


def test_streamed_sessions_match_batch(spark, sf_dir):
    streamed = {_key(r) for r in q_streaming_sessionized(spark, sf_dir).collect()}

    batch = (
        q_events_sessionized(spark, sf_dir)
        .withColumn("end_us", F.unix_micros("session_end"))
        .collect()
    )
    batch_all = {_key(r) for r in batch}

    max_us = (
        load_tables(spark, sf_dir)["events"]
        .agg(F.max(F.unix_micros("ts")))
        .collect()[0][0]
    )
    must_be_closed = {
        _key(r) for r in batch if r.end_us + GAP_US + MARGIN_US < max_us
    }

    assert streamed, "stream emitted nothing"
    assert streamed <= batch_all, f"stream invented sessions: {sorted(streamed - batch_all)[:3]}"
    assert must_be_closed <= streamed, (
        f"unemitted closed sessions: {sorted(must_be_closed - streamed)[:3]}"
    )


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """foreachBatch exactly-once: the drained sink equals the batch table,
    and redelivering a batch (simulated retry) changes nothing."""
    from dbms_query_optimizer_spark.engine import events_stream, load_tables
    from dbms_query_optimizer_spark.streaming.sinks import write_batch_idempotent
    from dbms_query_optimizer_spark.streaming.startup import run_stream

    out = str(tmp_path / "out")
    run_stream(
        lambda: events_stream(spark, sf_dir).writeStream.foreachBatch(
            write_batch_idempotent(out)
        )
    )

    events = load_tables(spark, sf_dir)["events"]
    sunk = spark.read.parquet(f"{out}/batch=*")
    assert sunk.count() == events.count()

    # redeliver batch 0 with the same payload — the at-least-once retry
    # path (materialized first: a real retry re-computes the batch from the
    # checkpointed source offsets, it doesn't read its own output)
    lazy = spark.read.parquet(f"{out}/batch=0")
    batch0 = spark.createDataFrame(lazy.collect(), lazy.schema)
    n_before = sunk.count()
    write_batch_idempotent(out)(batch0, 0)
    assert spark.read.parquet(f"{out}/batch=*").count() == n_before


def test_directory_shaped_events_source(spark, sf_dir, tmp_path):
    """A directory-shaped events.parquet (multiple TIME-SLICED part
    files, the layout a continuously-ingesting table actually has) must
    replay through the sessionizer identically to the single-file
    layout — exercising the source-construction branch that streams the
    directory directly (a pathGlobFilter would match part-file names
    and read nothing) with maxFilesPerTrigger derived from the file
    count, and the multi-batch watermark path (several data
    micro-batches, not one). File mtimes are staggered in time order:
    the 0-second-watermark contract assumes arrival order ≈ event-time
    order across batches, exactly as a commit-ordered table delivers —
    a deliberately scrambled file order is out of contract (its late
    rows land behind the watermark; the operator clamps their timers
    rather than crashing, but sessions split by design)."""
    multi_dir = _directory_layout(spark, sf_dir, str(tmp_path / "sfdir"), 4)
    single = {_key(r) for r in q_streaming_sessionized(spark, sf_dir).collect()}
    multi = {_key(r) for r in q_streaming_sessionized(spark, multi_dir).collect()}
    assert multi == single


@pytest.fixture(scope="module")
def dir_sf(spark, sf_dir, tmp_path_factory):
    return _directory_layout(
        spark, sf_dir, str(tmp_path_factory.mktemp("layout") / "sf"), 3
    )


@pytest.mark.parametrize(
    "name",
    [
        "streaming_tumbling",
        "streaming_static_join",
        "streaming_stream_stream_join",
        "streaming_stream_stream_left_join",
        "streaming_dedup",
        "streaming_upsert_ingest",
        "streaming_foreachbatch_ingest",
    ],
)
def test_events_stream_layout_invariant(spark, sf_dir, dir_sf, name):
    """Every events-stream entry answers the same over a directory-shaped
    events.parquet (3 part files) as over the single-file layout: the
    stream must read the directory itself, not glob the sibling files."""
    fn = catalog.CATALOG[name][0]

    def rows(sf):
        df = fn(spark, sf)
        return normalize_rows(df.columns, [tuple(r) for r in df.collect()])

    single = rows(sf_dir)
    assert single, f"{name} returned no rows"
    assert rows(dir_sf) == single


def test_duckdb_oracle_reads_directory_shaped_table(sf_dir, dir_sf):
    """The DuckDB oracle reads a directory-shaped events.parquet (3 part
    files) as the same table as the single file."""
    # exact decimal sum: a float SUM differs in its last bits by read order
    sql = "SELECT COUNT(*), SUM(CAST(value AS DECIMAL(12, 2))) FROM events"
    assert duckdb_conn(dir_sf).execute(sql).fetchall() == (
        duckdb_conn(sf_dir).execute(sql).fetchall()
    )


def test_memory_drain_reads_its_own_session_after_foreachbatch(spark, sf_dir):
    """``createDataFrame`` on a foreachBatch batch's session (the manifest
    merge in ``streaming_upsert_ingest`` does this) makes that streaming
    clone PySpark's active session; a memory drain that follows must
    still find its sink table, which lives in the frame's own session."""
    from dbms_query_optimizer_spark.engine import events_stream
    from dbms_query_optimizer_spark.streaming.startup import drain_to_memory, run_stream

    def sink(batch_df, batch_id):
        batch_df.sparkSession.createDataFrame([(batch_id,)], "batch_id int").count()

    run_stream(lambda: events_stream(spark, sf_dir).writeStream.foreachBatch(sink))
    drained = drain_to_memory(lambda: events_stream(spark, sf_dir), "append")
    assert drained.count() == load_tables(spark, sf_dir)["events"].count()
