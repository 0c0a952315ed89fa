"""streaming.startup.start_and_drain — retry discipline for the
Python-source worker-spawn startup flake.

No Spark session needed: the contract under test is pure control flow
(which exceptions retry, which re-raise, how reset/start interleave),
exercised with stub queries.
"""

import pytest

from dbms_query_optimizer_spark.streaming.startup import (
    is_worker_spawn_flake,
    start_and_drain,
)


class _StubQuery:
    def __init__(self, exc=None, log=None):
        self._exc = exc
        self._log = log if log is not None else []

    def processAllAvailable(self):
        if self._exc is not None:
            raise self._exc

    def stop(self):
        self._log.append("stop")


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
    start_and_drain(
        lambda: (log.append("start"), _StubQuery(log=log))[1],
        reset=lambda: log.append("reset"),
    )
    assert log == ["start", "stop"]


def test_retries_flake_with_reset_between_attempts():
    log = []
    outcomes = [FLAKE, FLAKE, None]

    def start():
        log.append("start")
        return _StubQuery(exc=outcomes.pop(0), log=log)

    start_and_drain(start, reset=lambda: log.append("reset"), attempts=3)
    assert log == ["start", "stop", "reset", "start", "stop", "reset", "start", "stop"]


def test_flake_raised_by_start_itself_retries():
    log = []
    outcomes = [FLAKE, None]

    def start():
        log.append("start")
        exc = outcomes.pop(0)
        if exc is not None:
            raise exc
        return _StubQuery(log=log)

    start_and_drain(start, reset=lambda: log.append("reset"), attempts=3)
    assert log == ["start", "reset", "start", "stop"]


def test_exhausted_attempts_reraise():
    with pytest.raises(Exception, match="connect back"):
        start_and_drain(lambda: _StubQuery(exc=FLAKE), attempts=2)


def test_non_flake_errors_never_retry():
    starts = []

    def start():
        starts.append(1)
        return _StubQuery(exc=ValueError("real failure"))

    with pytest.raises(ValueError):
        start_and_drain(start, attempts=3)
    assert len(starts) == 1
