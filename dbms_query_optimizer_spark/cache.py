"""Session-scoped registry for persisted intermediate frames.

Several catalog queries ``persist()`` an intermediate frame that is read
two or more times downstream (pooled moments + per-arm readout, candidate
passes, join-back fan-in). ``persist`` keeps lineage intact — unlike
``localCheckpoint`` it stays fault-tolerant on a real cluster — but the
query functions return *lazy* DataFrames, so there is no point inside the
function at which the cache has been consumed and can be dropped.

Over a full-catalog run (330 queries in one session: the grading driver,
``tests/test_queries_oracle.py``, ``bench.py``) those cached frames would
otherwise accumulate in executor storage and lean on LRU eviction, causing
spill/recompute churn mid-run. This registry closes the loop: query
functions register each persisted frame via :func:`track_persist`, and the
harnesses call :func:`release_tracked` after the action that consumes a
query's result. One query's caches never outlive its own evaluation.

Interactive/ad-hoc callers that never call :func:`release_tracked` are no
worse off than before: the registry holds plain references and Spark's LRU
still applies.

:func:`build_once` is the on-disk counterpart: artifacts that outlive a
session (ANN indexes, the LSH store), keyed on what they were built from.
:func:`fixture_dir` is its private twin: inputs a query stages before it
reads them back, in a directory no other process can see or share;
:func:`checkpoint_dir` gives each streaming query attempt its checkpoint
under the same private root. Between them they own every path the engine
puts under ``gettempdir()``.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import json
import os
import shutil
import tempfile
from typing import Callable, Iterable

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (default MEMORY_AND_DISK) and register it for
    release by the harness once the consuming action has run.

    ONE-QUERY-IN-FLIGHT contract: the registry is a single global list,
    so harnesses must fully evaluate (and then ``release_tracked()``)
    one query before CONSTRUCTING the next. Interleaving — build B,
    consume A, release — would unpersist B's tracked frames early
    (recompute cost downstream, never wrong results). Wrap the per-query
    body in try/finally release_tracked() so a failing entry cannot
    leak its frames into the rest of a sweep."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame. Call after the action that consumed
    the query result (collect/toPandas/write). Returns the number
    released. Safe to call repeatedly; never raises on a dead session."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    return n


@functools.lru_cache(maxsize=None)
def _source_digest() -> str:
    """sha256 of the package's ``.py`` sources, once per process: builders
    depend on constants, literals and helpers across modules, which no
    hand-kept parameter list covers."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(f for f in files if f.endswith(".py")):
            h.update(os.path.relpath(os.path.join(base, f), pkg).encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build_once(
    kind: str, sf_dir: str, tables: Iterable[str], build: Callable[[str], dict]
) -> str:
    """Directory of the ``kind`` artifact built from ``sf_dir``'s ``tables``:
    ``gettempdir()/spark_graft_artifacts/<kind>-<hash of kind, real
    sf_dir>-<hash of kind, real sf_dir, each input file's (path, size,
    mtime_ns), _source_digest()>``.

    On a miss, ``build(tmp)`` fills a private temp directory whose returned
    dict becomes ``_BUILT`` (JSON); the rename into place is the publish,
    so no reader sees half an artifact, and a concurrent build of the same
    key that publishes first wins. Once its own rename publishes, the
    build removes the superseded roots of the same kind and ``sf_dir``
    (an older input or engine source); temp directories of builds still
    in flight stay."""
    sf_dir = os.path.realpath(sf_dir)
    files = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            files += [
                os.path.join(path, f) for f in sorted(os.listdir(path))
                if not f.startswith((".", "_"))
            ]
        else:
            files.append(path)
    stats = [(f, st.st_size, st.st_mtime_ns) for f, st in zip(files, map(os.stat, files))]
    key = json.dumps([kind, sf_dir, stats, _source_digest()]).encode()
    parent = os.path.join(tempfile.gettempdir(), "spark_graft_artifacts")
    family = f"{kind}-{hashlib.sha256(json.dumps([kind, sf_dir]).encode()).hexdigest()[:16]}-"
    root = os.path.join(parent, family + hashlib.sha256(key).hexdigest()[:16])
    if os.path.exists(os.path.join(root, "_BUILT")):
        return root
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=os.path.basename(root) + ".tmp-", dir=parent)
    try:
        meta = build(tmp)
        with open(os.path.join(tmp, "_BUILT"), "w") as fh:
            json.dump(meta, fh)
        try:
            os.rename(tmp, root)
        except OSError:
            if not os.path.exists(os.path.join(root, "_BUILT")):
                raise
        else:  # published: drop the superseded roots of this kind and sf_dir
            for name in os.listdir(parent):
                path = os.path.join(parent, name)
                if name.startswith(family) and ".tmp-" not in name and path != root:
                    shutil.rmtree(path, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return root


_FIXTURE_ROOTS: dict[str, str] = {}  # fixtures parent -> this process's root


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass  # exists, owned by another user
    return True


def _fixture_root() -> str:
    """``gettempdir()/spark_graft_fixtures/<pid>``, made on first use and
    removed at exit. The first use also removes the roots of processes
    that no longer exist, so a killed run leaves nothing behind for long."""
    parent = os.path.join(tempfile.gettempdir(), "spark_graft_fixtures")
    if parent not in _FIXTURE_ROOTS:
        os.makedirs(parent, exist_ok=True)
        for name in os.listdir(parent):
            if name.isdigit() and not _pid_alive(int(name)):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        root = os.path.join(parent, str(os.getpid()))
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _FIXTURE_ROOTS[parent] = root
    return _FIXTURE_ROOTS[parent]


def warehouse_dir() -> str:
    """``<process root>/warehouse``: the session's default
    ``spark.sql.warehouse.dir`` (``session.get_spark``), so managed tables
    and databases are private to the process and removed at its exit."""
    return os.path.join(_fixture_root(), "warehouse")


def checkpoint_dir() -> str:
    """A fresh, empty directory under ``<process root>/checkpoints`` for
    one streaming query attempt (``streaming.startup.run_stream`` sets it
    as the query's checkpoint location and removes it when the attempt
    ends)."""
    parent = os.path.join(_fixture_root(), "checkpoints")
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(dir=parent)


def fixture_dir(sf_dir: str, *parts: str) -> str:
    """Path, private to this process, at which a query stages the input it
    reads back: ``<process root>/<sf basename>-<hash of real sf_dir>/<parts>``.

    Nothing exists at the returned path: whatever an earlier call with the
    same ``sf_dir`` and ``parts`` left there is removed, so a query built
    again starts from empty files. What the query writes there stays
    until that happens or the process exits, so the frames that read it
    stay lazy."""
    sf_dir = os.path.realpath(sf_dir)
    tag = f"{os.path.basename(sf_dir)}-{hashlib.sha256(sf_dir.encode()).hexdigest()[:8]}"
    path = os.path.join(_fixture_root(), tag, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
