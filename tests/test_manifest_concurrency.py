"""Concurrent-writer semantics of the manifest commit log.

The reference serializes transactions through a single in-process
TransactionManager (reference: src/include/transaction/
transaction_manager.h); the manifest log replaces that with optimistic
concurrency — the atomic hard-link IS the arbitration point, losers of
a version race retry on top of the new tip (insert-only) or raise
ConflictError (rewrites). These tests race REAL threads through the
whole path to pin that arbitration down.
"""

import os
import re
from concurrent.futures import ThreadPoolExecutor

import pytest

from dbms_query_optimizer_spark.operators.sources_queries import _stage_concurrent
from dbms_query_optimizer_spark.sources.manifest import TransactionalTable

N_WRITERS = 8


def test_concurrent_insert_commits_all_land(spark, tmp_path):
    root = str(tmp_path / "race_table")
    table = TransactionalTable.create(
        root, spark.range(0).selectExpr("id").schema
    )

    def write(i: int) -> int:
        txn = TransactionalTable(root).begin()
        txn.insert(spark.createDataFrame([(i,)], "id long").coalesce(1))
        return txn.commit()

    with ThreadPoolExecutor(max_workers=N_WRITERS) as pool:
        versions = sorted(pool.map(write, range(N_WRITERS)))

    # every writer won SOME version, exactly once, with no gaps: the
    # hard-link commit point makes the race a total order
    assert versions == list(range(1, N_WRITERS + 1))
    # and no writer's rows were lost to a manifest overwrite
    got = sorted(r.id for r in TransactionalTable(root).read(spark).collect())
    assert got == list(range(N_WRITERS))
    # the final manifest references every intermediate state consistently
    hist = TransactionalTable(root).history(spark).collect()
    assert [r.version for r in hist] == list(range(N_WRITERS + 1))
    assert all(r.n_removed == 0 for r in hist)


def test_concurrent_merges_one_wins_one_conflicts(spark, tmp_path):
    """Two rewrites computed against the same base: the first commit
    wins; the second must CONFLICT (its rewritten files are stale), not
    silently clobber — first-committer-wins, the same rule the
    reference's 2PL would enforce by blocking."""
    import pytest

    from dbms_query_optimizer_spark.sources.manifest import ConflictError

    root = str(tmp_path / "merge_race")
    table = TransactionalTable.create(
        root, spark.range(0).selectExpr("id", "cast(id as double) as val").schema
    )
    t0 = table.begin()
    t0.insert(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, val double"))
    t0.commit()

    m1 = table.begin()
    m1.merge(spark, spark.createDataFrame([(1, 10.0)], "id long, val double"), "id")
    m2 = table.begin()
    m2.merge(spark, spark.createDataFrame([(2, 20.0)], "id long, val double"), "id")

    assert m1.commit() == 2
    with pytest.raises(ConflictError):
        m2.commit()
    got = sorted((r.id, r.val) for r in TransactionalTable(root).read(spark).collect())
    assert got == [(1, 10.0), (2, 2.0)]  # m2's update never half-applied


def test_failed_concurrent_staging_leaves_no_orphans(spark, tmp_path):
    root = str(tmp_path / "staged_table")
    table = TransactionalTable.create(
        root, spark.range(0).selectExpr("id").schema
    )
    good = spark.range(4).coalesce(1)
    bad = spark.range(4).selectExpr(
        "IF(id = 2, raise_error('staging write failed'), id) AS id"
    )
    with pytest.raises(Exception, match="staging write failed"):
        _stage_concurrent(table, [good, bad, good])
    # the siblings' staging dirs are aborted, not left for vacuum
    assert os.listdir(os.path.join(root, "data")) == []
    assert table.latest_version() == 0


def _normalised_history(root: str) -> list[dict]:
    """Every committed manifest, oldest first, with each file's staging
    directory (the txn id) and Spark's per-job part-file id stripped:
    what is left is what serial and concurrent staging must agree on."""
    table = TransactionalTable(root)

    def norm(path: str) -> str:
        rel = os.path.relpath(path, root).split(os.sep)
        assert rel[0] == "data" and len(rel) == 3, path
        return re.sub(r"^(part-\d+)-[0-9a-f-]+", r"\1", rel[2])

    out = []
    for v in range(table.latest_version() + 1):
        m = table.snapshot(v)
        out.append({
            "version": m["version"],
            "files": [norm(f) for f in m["files"]],
            "stats": [(norm(f), s) for f, s in m.get("stats", {}).items()],
            "blooms": [(norm(f), b) for f, b in m.get("blooms", {}).items()],
        })
    return out


def test_concurrent_staging_matches_serial_commits(spark, tmp_path):
    """``_stage_concurrent`` overlaps the staging writes only: the table
    it leaves — versions, files per version, per-file zone maps and
    blooms, in commit order — is the one a serial insert/commit loop
    leaves."""
    src = spark.range(0, 400, numPartitions=2).selectExpr(
        "id", "id * 7 % 53 AS k", "CAST(id AS DOUBLE) / 3 AS v"
    )
    slices = [src.filter(f"id % 4 = {m}").repartition(2, "k") for m in range(4)]

    def build(name: str, stage) -> list[dict]:
        root = str(tmp_path / name)
        table = TransactionalTable.create(root, src.schema, bloom_columns=["k"])
        stage(table)
        return _normalised_history(root)

    def serial(table):
        for df in slices:
            t = table.begin()
            t.insert(df)
            t.commit()

    want = build("serial", serial)
    got = build("concurrent", lambda table: _stage_concurrent(table, slices))
    assert [m["version"] for m in want] == list(range(5))
    assert [len(m["files"]) for m in want[1:]] == [2, 4, 6, 8]
    assert all(m["blooms"] for m in want[1:])
    assert got == want
