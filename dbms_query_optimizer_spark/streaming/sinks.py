"""Exactly-once file sinks for Structured Streaming via foreachBatch.

Spark's foreachBatch hands the sink (batch_df, batch_id) with at-least-once
delivery: after a crash between "sink wrote" and "checkpoint committed",
the SAME batch_id is redelivered. Exactly-once therefore has to come from
the sink being IDEMPOTENT per batch_id — here, each batch overwrites its
own batch=<id> directory, so a redelivered batch replaces identical bytes
instead of appending duplicates. This is the standard recipe for sinks
without transactional commit (plain parquet/object storage); tables with
atomic commit protocols make the same guarantee internally.

``run_events_stream_to_files`` drains the events stream that
``engine.events_stream`` builds; it sets no session conf of its own.

At scale the per-batch directories double as ingestion bookkeeping:
a downstream compaction folds them into target-size files
asynchronously; the manifest table's is ``TransactionalTable.compact``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..engine import events_stream


def write_batch_idempotent(out_dir: str):
    """Returns a foreachBatch sink writing each micro-batch to its own
    batch=<id> directory with overwrite semantics (idempotent on retry)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return sink


def run_events_stream_to_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the events table (``engine.events_stream``, either on-disk
    layout) through a foreachBatch idempotent file sink."""
    stream = events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(write_batch_idempotent(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
