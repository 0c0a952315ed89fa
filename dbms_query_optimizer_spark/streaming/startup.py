"""Python-source stream startup hardening.

Streams whose SOURCE is a Python data source (``manifesttail``,
``synthevents``) launch a dedicated planner process at ``.start()``: the
JVM spawns ``python -m pyspark.sql.streaming.python_streaming_source_runner``
and waits a HARDCODED 10 s (``PythonWorkerFactory.createSimpleWorker``,
Spark 4.1 — verified in the shipped bytecode; no conf raises it) for the
fresh interpreter to connect back. Under co-tenant CPU load, interpreter
start + the full pyspark import can exceed that window and the stream
dies at INITIALIZING with "Python worker failed to connect back" —
before any micro-batch ran, so nothing was committed (observed exactly
once in a driver verify: zero committed offsets, state INITIALIZING).

No pre-warm can help: unlike batch-task workers (forked from the
long-lived pyspark.daemon, cheap once the session has run any Python
work), module-runner workers are fresh interpreters every time. The
only robust fix is to retry the whole start→drain cycle on exactly that
failure signature. The caller's ``reset`` hook restores sink/checkpoint
state to pristine between attempts, so even a retry after a MID-stream
worker loss (same signature, executor side) cannot double-count: every
attempt recomputes the stream from offset zero against a clean sink.
"""

from __future__ import annotations

import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

# Substrings identifying the transient Python-worker spawn/connect
# failure class (PythonWorkerFactory + StreamingPythonRunner, Spark 4.1).
_FLAKE_SIGNATURES = (
    "failed to connect back",
    "Timed out while waiting for the Python worker",
    "StreamingPythonRunnerInitialization",
)


def is_worker_spawn_flake(exc: BaseException) -> bool:
    msg = str(exc)
    return any(sig in msg for sig in _FLAKE_SIGNATURES)


def start_and_drain(
    start: Callable[[], StreamingQuery],
    reset: Optional[Callable[[], None]] = None,
    attempts: int = 3,
) -> None:
    """Start a streaming query and run it to completion, retrying the
    whole cycle (``reset()`` → ``start()`` → ``processAllAvailable()``)
    when it dies with the Python-worker spawn-timeout signature.

    ``start`` must build a FRESH query each call (memory sinks: new
    query name); ``reset`` must wipe any sink/checkpoint state a prior
    attempt may have left, so each attempt is a from-scratch run.
    """
    for attempt in range(attempts):
        if attempt and reset is not None:
            reset()
        q = None
        try:
            # start() itself can raise the flake (the source's planner
            # worker is spawned there), so it retries like the drain
            q = start()
            q.processAllAvailable()
            return
        except Exception as e:
            if attempt + 1 >= attempts or not is_worker_spawn_flake(e):
                raise
        finally:
            if q is not None:
                try:
                    q.stop()
                except Exception:
                    # stop() on an already-dead query can rethrow the
                    # stream error; the drain above already adjudicated it.
                    pass


def drain_to_memory(stream: Callable[[], DataFrame], mode: str) -> DataFrame:
    """Run the streaming frame ``stream()`` builds to completion into a
    memory sink in output ``mode`` and return the sink's table.

    Each ``start_and_drain`` attempt builds the frame again (a Python
    source spawns its planner worker at ``load()`` as well as at
    ``start()``) and writes to a fresh sink name, so a retried run never
    appends into a partially-filled table."""
    names: list[str] = []

    def start() -> StreamingQuery:
        names.append(f"drain_{uuid.uuid4().hex[:8]}")
        return (
            stream()
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(names[-1])
            .start()
        )

    start_and_drain(start)
    return SparkSession.active().table(names[-1])
