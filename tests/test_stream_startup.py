"""streaming.startup.run_stream — the one stream runner: a fresh
checkpoint per attempt, removed however the attempt ends, and the retry
discipline for the Python-source worker-spawn startup flake.

No Spark session needed: the contract under test is pure control flow
(which exceptions retry, which re-raise, how reset/start interleave,
where checkpoints go and when they go away), exercised with stub writers
and queries.
"""

import os
import re

import pytest

from dbms_query_optimizer_spark.cache import warehouse_dir
from dbms_query_optimizer_spark.streaming.startup import (
    ATTEMPTS,
    is_worker_spawn_flake,
    run_stream,
)


class _StubQuery:
    def __init__(self, exc=None, log=None):
        self._exc = exc
        self._log = log if log is not None else []
        self.drains = 0

    def processAllAvailable(self):
        self.drains += 1
        if self._exc is not None:
            raise self._exc

    def stop(self):
        self._log.append("stop")


class _StubWriter:
    """What ``run_stream`` sees of a DataStreamWriter: ``option`` and
    ``start``. ``query`` may be an exception, which ``start`` raises."""

    def __init__(self, query, options=None):
        self._query = query
        self.options = options if options is not None else {}

    def option(self, key, value):
        self.options[key] = value
        return self

    def start(self):
        if isinstance(self._query, Exception):
            raise self._query
        return self._query


FLAKE = Exception(
    "[STREAM_FAILED] ... terminated with exception: "
    "Python worker failed to connect back. SQLSTATE: XXKST"
)


def test_flake_signature_matches_driver_error():
    assert is_worker_spawn_flake(FLAKE)
    assert is_worker_spawn_flake(
        Exception("Timed out while waiting for the Python worker to connect back")
    )
    assert not is_worker_spawn_flake(Exception("Job aborted due to stage failure"))


def test_succeeds_first_try_no_reset():
    log = []
    run_stream(
        lambda: (log.append("start"), _StubWriter(_StubQuery(log=log)))[1],
        reset=lambda: log.append("reset"),
    )
    assert log == ["start", "stop"]


def test_retries_flake_with_reset_between_attempts():
    assert ATTEMPTS == 3
    log = []
    outcomes = [FLAKE, FLAKE, None]

    def writer():
        log.append("start")
        return _StubWriter(_StubQuery(exc=outcomes.pop(0), log=log))

    run_stream(writer, reset=lambda: log.append("reset"))
    assert log == ["start", "stop", "reset", "start", "stop", "reset", "start", "stop"]


def test_flake_raised_by_start_itself_retries():
    log = []
    outcomes = [FLAKE, None]

    def writer():
        log.append("start")
        exc = outcomes.pop(0)
        return _StubWriter(exc if exc is not None else _StubQuery(log=log))

    run_stream(writer, reset=lambda: log.append("reset"))
    assert log == ["start", "reset", "start", "stop"]


def test_exhausted_attempts_reraise():
    with pytest.raises(Exception, match="connect back"):
        run_stream(lambda: _StubWriter(_StubQuery(exc=FLAKE)))


def test_non_flake_errors_never_retry():
    starts = []

    def writer():
        starts.append(1)
        return _StubWriter(_StubQuery(exc=ValueError("real failure")))

    with pytest.raises(ValueError):
        run_stream(writer)
    assert len(starts) == 1


def test_drains_each_attempt_as_asked():
    queries = []

    def writer():
        queries.append(_StubQuery())
        return _StubWriter(queries[-1])

    run_stream(writer, drains=2)
    assert [q.drains for q in queries] == [2]


def _recording_writer(outcomes, seen):
    """A writer factory whose queries end as ``outcomes`` says (None: a
    clean drain), recording each attempt's checkpoint and whether it was
    an empty directory when the query started."""

    class _Recording(_StubWriter):
        def start(self):
            ckpt = self.options["checkpointLocation"]
            seen.append((ckpt, os.path.isdir(ckpt) and not os.listdir(ckpt)))
            return super().start()

    return lambda: _Recording(_StubQuery(exc=outcomes.pop(0)))


def test_each_attempt_checkpoints_under_process_root():
    seen = []
    run_stream(_recording_writer([FLAKE, FLAKE, None], seen))
    root = os.path.dirname(warehouse_dir()) + os.sep
    paths = [p for p, _ in seen]
    assert len(paths) == ATTEMPTS and len(set(paths)) == ATTEMPTS
    assert all(p.startswith(root) for p in paths), paths
    assert all(fresh for _, fresh in seen)


@pytest.mark.parametrize(
    "outcomes, raises",
    [
        ([None], None),
        ([FLAKE] * ATTEMPTS, Exception),
        ([ValueError("real failure")], ValueError),
    ],
    ids=["returned", "reraised_flake", "non_flake_error"],
)
def test_checkpoint_removed_when_attempt_ends(outcomes, raises):
    seen = []
    writer = _recording_writer(list(outcomes), seen)
    if raises is None:
        run_stream(writer)
    else:
        with pytest.raises(raises):
            run_stream(writer)
    assert len(seen) == len(outcomes)
    assert not any(os.path.exists(p) for p, _ in seen)


def test_runner_owns_every_stream_start():
    """Only ``streaming/startup.py`` under the engine package starts,
    checkpoints or drains a streaming query."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dbms_query_optimizer_spark",
    )
    runner = os.path.join(pkg, "streaming", "startup.py")
    pattern = re.compile(r"processAllAvailable|checkpointLocation|\.start\(\)")
    hits = []
    for base, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(base, f)
            if f.endswith(".py") and path != runner:
                with open(path) as fh:
                    hits += [
                        f"{os.path.relpath(path, pkg)}:{i}"
                        for i, line in enumerate(fh, 1)
                        if pattern.search(line)
                    ]
    assert hits == []
