"""``cache.fixture_dir``: the one place staged catalog fixtures live.

Every query that writes its input before reading it back (the ``txn_*``
family, the connector roundtrips, the streaming sinks, the index
maintenance queries) asks ``fixture_dir`` for its directory. These tests
pin what makes that safe: a process never sees another process's files,
a process's root goes when it exits, a killed process's root goes on the
next process's first use, and a query built again starts from nothing.
The session's warehouse (managed tables and databases) lies under the
same process root; that test alone needs Spark, and the child processes
only import ``cache``.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dbms_query_optimizer_spark")

# Stages a fixture, writes a marker into it, reports the path, then holds
# the fixture until stdin closes and checks that only its own marker is
# there.
CHILD = """
import os, sys
from dbms_query_optimizer_spark.cache import fixture_dir
path = fixture_dir(sys.argv[1], "txn", "orders")
os.makedirs(path)
open(os.path.join(path, str(os.getpid())), "w").close()
print(path, flush=True)
sys.stdin.read()
assert os.listdir(path) == [str(os.getpid())], os.listdir(path)
"""


def _env(tmp_path) -> dict:
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    env.pop("TMP", None)
    env.pop("TEMP", None)
    return env


def _start(tmp_path, sf_dir: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, sf_dir],
        env=_env(tmp_path), stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )


def _fixtures(tmp_path) -> str:
    return os.path.join(str(tmp_path), "spark_graft_fixtures")


def test_two_processes_never_share_a_fixture(tmp_path):
    sf_dir = str(tmp_path / "sf0.01")
    a, b = _start(tmp_path, sf_dir), _start(tmp_path, sf_dir)
    path_a, path_b = a.stdout.readline().strip(), b.stdout.readline().strip()
    assert path_a and path_b and path_a != path_b
    assert os.path.isdir(path_a) and os.path.isdir(path_b)  # both live at once
    for p in (a, b):
        p.communicate("")
        assert p.returncode == 0
    assert path_a.startswith(os.path.join(_fixtures(tmp_path), str(a.pid)) + os.sep)
    assert path_b.startswith(os.path.join(_fixtures(tmp_path), str(b.pid)) + os.sep)


def test_root_removed_when_its_process_exits(tmp_path):
    child = _start(tmp_path, str(tmp_path / "sf0.01"))
    path = child.stdout.readline().strip()
    assert os.path.isdir(path)
    child.communicate("")
    assert child.returncode == 0
    assert not os.path.exists(path)
    assert not os.path.exists(os.path.join(_fixtures(tmp_path), str(child.pid)))


def test_dead_process_root_removed_on_first_use(tmp_path):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    stale = os.path.join(_fixtures(tmp_path), str(dead.pid), "sf-0", "txn", "orders")
    live = os.path.join(_fixtures(tmp_path), str(os.getpid()))
    os.makedirs(stale)
    os.makedirs(live)
    subprocess.run(
        [sys.executable, "-c",
         "from dbms_query_optimizer_spark.cache import fixture_dir; "
         "fixture_dir('sf', 'x')"],
        env=_env(tmp_path), check=True,
    )
    assert not os.path.exists(os.path.join(_fixtures(tmp_path), str(dead.pid)))
    assert os.path.isdir(live)  # a live process's root is never touched


def test_same_name_again_is_fresh_and_empty(tmp_path, monkeypatch):
    from dbms_query_optimizer_spark.cache import fixture_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = str(tmp_path / "sf0.01")
    first = fixture_dir(sf_dir, "txn", "orders")
    assert not os.path.exists(first)
    os.makedirs(first)
    open(os.path.join(first, "stale.parquet"), "w").close()
    second = fixture_dir(sf_dir, "txn", "orders")
    assert not os.path.exists(second)
    assert os.path.isdir(os.path.dirname(second))
    # an sf directory elsewhere with the same basename is a different input
    other = fixture_dir(str(tmp_path / "elsewhere" / "sf0.01"), "txn", "orders")
    assert other != second


def test_session_warehouse_lies_under_process_root(spark):
    from dbms_query_optimizer_spark.cache import warehouse_dir

    root = os.path.join(_fixtures(tempfile.gettempdir()), str(os.getpid()))
    assert warehouse_dir() == os.path.join(root, "warehouse")
    spark.range(3).write.saveAsTable("warehouse_probe")
    try:
        assert os.path.isdir(os.path.join(root, "warehouse", "warehouse_probe"))
    finally:
        spark.sql("DROP TABLE IF EXISTS warehouse_probe")


def test_cache_owns_every_temp_path():
    """Only ``cache.py`` under the engine package chooses temp paths."""
    pattern = re.compile(
        r"mkdtemp|gettempdir|TemporaryDirectory|_roundtrip_dir|spark_graft_sources"
    )
    hits = []
    for base, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(base, f)
            if f.endswith(".py") and path != os.path.join(PKG, "cache.py"):
                with open(path) as fh:
                    hits += [
                        f"{os.path.relpath(path, REPO)}:{i}"
                        for i, line in enumerate(fh, 1)
                        if pattern.search(line)
                    ]
    assert hits == []
