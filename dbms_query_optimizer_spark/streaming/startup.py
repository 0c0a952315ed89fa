"""The one stream runner: every streaming query in the engine is started,
checkpointed, drained, stopped and retried here.

``run_stream`` takes a function that makes the query's
``DataStreamWriter`` and owns the rest of the cycle. Each attempt gets a
fresh, empty ``checkpointLocation`` from ``cache.checkpoint_dir`` (under
the same per-process root as the session's warehouse), so no checkpoint
lands in the JVM's ``java.io.tmpdir`` and a killed process leaves none
behind for long. The attempt starts the query, drains it with
``processAllAvailable()`` the number of times the caller asks for, stops
it, and removes its checkpoint whether it returned or raised.

Retry: streams whose SOURCE is a Python data source (``manifesttail``,
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
failure signature. Every attempt starts from offset zero on a new
checkpoint; the caller's ``reset`` hook restores any sink directory
outside the checkpoint to pristine between attempts, so even a retry
after a MID-stream worker loss (same signature, executor side) cannot
double-count.
"""

from __future__ import annotations

import shutil
import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..cache import checkpoint_dir

ATTEMPTS = 3  # start→drain cycles tried before a worker-spawn flake re-raises

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


def run_stream(
    writer: Callable[[], DataStreamWriter],
    reset: Optional[Callable[[], None]] = None,
    drains: int = 1,
) -> None:
    """Run the streaming query ``writer()`` describes to completion:
    start it on a fresh checkpoint, call ``processAllAvailable()``
    ``drains`` times, stop it and remove the checkpoint. The whole cycle
    (``reset()`` → ``writer()`` → start → drains) is retried when it dies
    with the Python-worker spawn-timeout signature.

    ``writer`` must build a FRESH writer each call (memory sinks: a new
    query name; Python sources: the frame too, since ``load()`` spawns a
    planner worker); ``reset`` must wipe what a prior attempt may have
    left in sink directories outside the checkpoint."""
    for attempt in range(ATTEMPTS):
        if attempt and reset is not None:
            reset()
        ckpt = checkpoint_dir()
        q = None
        try:
            # writer() and start() can raise the flake themselves (the
            # source's planner worker is spawned there), so they retry
            # like the drain
            q = writer().option("checkpointLocation", ckpt).start()
            for _ in range(drains):
                q.processAllAvailable()
            return
        except Exception as e:
            if attempt + 1 >= ATTEMPTS or not is_worker_spawn_flake(e):
                raise
        finally:
            if q is not None:
                try:
                    q.stop()
                except Exception:
                    # stop() on an already-dead query can rethrow the
                    # stream error; the drain above already adjudicated it.
                    pass
            shutil.rmtree(ckpt, ignore_errors=True)


def drain_to_memory(
    stream: Callable[[], DataFrame], mode: str, drains: int = 1
) -> DataFrame:
    """Run the streaming frame ``stream()`` builds to completion into a
    memory sink in output ``mode`` and return the sink's table.

    Each ``run_stream`` attempt builds the frame again (a Python source
    spawns its planner worker at ``load()`` as well as at ``start()``)
    and writes to a fresh sink name, so a retried run never appends into
    a partially-filled table. The table is read through the frame's own
    session, where the sink registered it: the thread's active session
    can be a streaming query's clone after a foreachBatch callback."""
    runs: list[tuple[DataFrame, str]] = []

    def writer() -> DataStreamWriter:
        runs.append((stream(), f"drain_{uuid.uuid4().hex[:8]}"))
        frame, name = runs[-1]
        return frame.writeStream.outputMode(mode).format("memory").queryName(name)

    run_stream(writer, drains=drains)
    frame, name = runs[-1]
    return frame.sparkSession.table(name)
