"""Exactly-once file sinks for Structured Streaming via foreachBatch.

Spark's foreachBatch hands the sink (batch_df, batch_id) with at-least-once
delivery: after a crash between "sink wrote" and "checkpoint committed",
the SAME batch_id is redelivered. Exactly-once therefore has to come from
the sink being IDEMPOTENT per batch_id — here, each batch overwrites its
own batch=<id> directory, so a redelivered batch replaces identical bytes
instead of appending duplicates. This is the standard recipe for sinks
without transactional commit (plain parquet/object storage); tables with
atomic commit protocols make the same guarantee internally.

The sink is only the per-batch writer; ``startup.run_stream`` starts,
checkpoints, drains and stops the query that feeds it
(``windows.q_streaming_foreachbatch_ingest``).

At scale the per-batch directories double as ingestion bookkeeping:
a downstream compaction folds them into target-size files
asynchronously; the manifest table's is ``TransactionalTable.compact``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_batch_idempotent(out_dir: str):
    """Returns a foreachBatch sink writing each micro-batch to its own
    batch=<id> directory with overwrite semantics (idempotent on retry)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return sink

