"""Crash/abort visibility semantics of the manifest commit log — pytest
ports of the reference's log-manager behavioral spec (reference:
``test/unit/log/log_manager_test.cc``):

- TestCommitCrash   (:249-268)  insert, commit, crash → data recovered
- TestAbort         (:273-300)  committed visible, aborted invisible
- TestOpenCrash     (:440-464)  uncommitted at crash → invisible, even
                                though files were flushed to disk
- TestAbortCommitInterleaved    interleaved T1-abort / T2-commit

"Crash" here = drop every in-memory object and re-open the table from
disk in a fresh TransactionalTable (the manifest reader IS the recovery
procedure — nothing to replay).
"""

import os

import pytest

from dbms_query_optimizer_spark.sources.manifest import ConflictError, TransactionalTable


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "txn_table")
    df = spark.range(0)  # schema: id bigint
    return TransactionalTable.create(root, df.schema)


def _rows(spark, root, version=None):
    t = TransactionalTable(root)  # fresh open = post-crash recovery
    return sorted(r.id for r in t.read(spark, version).collect())


def _insert(spark, txn, *values):
    txn.insert(spark.createDataFrame([(v,) for v in values], "id long"))


def test_commit_crash_recovers_data(spark, table):
    t1 = table.begin()
    _insert(spark, t1, 5, 10)
    t1.commit()
    # crash: all objects dropped; fresh open must see committed rows
    assert _rows(spark, table.root) == [5, 10]


def test_open_crash_loses_uncommitted(spark, table):
    t1 = table.begin()
    _insert(spark, t1, 5)
    # files are flushed/durable on disk (the NO-STEAL-defeating flush in
    # the reference test) but must stay invisible without a commit
    assert t1.staged_files()
    _insert(spark, t1, 10)
    # crash without commit
    assert _rows(spark, table.root) == []


def test_abort_invisible_commit_visible(spark, table):
    t1 = table.begin()
    _insert(spark, t1, 5, 10)
    t1.commit()
    t2 = table.begin()
    _insert(spark, t2, 3, 4)
    t2.abort()
    assert _rows(spark, table.root) == [5, 10]


def test_abort_commit_interleaved(spark, table):
    t1 = table.begin()
    t2 = table.begin()
    _insert(spark, t1, 1)
    _insert(spark, t2, 2)
    t2.commit()
    _insert(spark, t1, 3)
    t1.abort()
    assert _rows(spark, table.root) == [2]


def test_multi_txn_versions_and_snapshot_isolation(spark, table):
    t1 = table.begin()
    _insert(spark, t1, 1)
    v1 = t1.commit()
    t2 = table.begin()
    _insert(spark, t2, 2)
    v2 = t2.commit()
    assert (v1, v2) == (1, 2)
    # snapshot reads pin the file list of their version
    assert _rows(spark, table.root, version=v1) == [1]
    assert _rows(spark, table.root, version=v2) == [1, 2]


def test_torn_commit_artifact_ignored(spark, table):
    t1 = table.begin()
    _insert(spark, t1, 7)
    t1.commit()
    # a crash mid-commit can only leave a *.tmp manifest — readers must
    # never resolve it, even with a higher version prefix
    torn = os.path.join(table.root, "manifest", "000000000099.json.deadbeef.tmp")
    with open(torn, "w") as fh:
        fh.write('{"version": 99, "files": ["/nonexistent"]')  # truncated
    assert TransactionalTable(table.root).latest_version() == 1
    assert _rows(spark, table.root) == [7]


# ---------------------------------------------------------------- merge
# Merge-on-read MERGE (an append plus a deletion vector) — the
# committed-write counterpart of the reference's in-place heap update +
# before-image UPDATE record (reference: src/heap/heap_file.cc:151-257).


@pytest.fixture()
def kv_table(spark, tmp_path):
    root = str(tmp_path / "kv_table")
    df = spark.createDataFrame([], "id long, val string")
    return TransactionalTable.create(root, df.schema)


def _kv(spark, root, version=None):
    t = TransactionalTable(root)
    return {r.id: r.val for r in t.read(spark, version).collect()}


def _kv_insert(spark, txn, *pairs):
    txn.insert(spark.createDataFrame(list(pairs), "id long, val string"))


def test_merge_commit_crash_recovers_new_values(spark, kv_table):
    t1 = kv_table.begin()
    _kv_insert(spark, t1, (1, "a"), (2, "b"), (3, "c"))
    t1.commit()
    t2 = kv_table.begin()
    t2.merge(
        spark, spark.createDataFrame([(2, "B"), (4, "d")], "id long, val string"), "id"
    )
    t2.commit()
    # crash → recover: matched row updated, unmatched inserted, rest kept
    assert _kv(spark, kv_table.root) == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_merge_uncommitted_crash_keeps_old_values(spark, kv_table):
    t1 = kv_table.begin()
    _kv_insert(spark, t1, (1, "a"), (2, "b"))
    t1.commit()
    t2 = kv_table.begin()
    t2.merge(spark, spark.createDataFrame([(2, "B")], "id long, val string"), "id")
    assert t2.staged_files()  # rewrite is durable on disk, yet invisible
    # crash without commit → before-image (the untouched old files) wins
    assert _kv(spark, kv_table.root) == {1: "a", 2: "b"}


def test_merge_abort_keeps_old_values(spark, kv_table):
    t1 = kv_table.begin()
    _kv_insert(spark, t1, (1, "a"), (2, "b"))
    t1.commit()
    t2 = kv_table.begin()
    t2.merge(spark, spark.createDataFrame([(1, "X")], "id long, val string"), "id")
    t2.abort()
    assert _kv(spark, kv_table.root) == {1: "a", 2: "b"}


def test_merge_vectors_only_files_holding_a_matched_key(spark, kv_table):
    for pairs in ([(1, "a"), (2, "b")], [(10, "x"), (11, "y")], [(20, "p")]):
        t = kv_table.begin()
        _kv_insert(spark, t, *pairs)
        t.commit()
    before = set(kv_table.snapshot()["files"])
    hit = {
        f
        for f in before
        if any(r.id in (1, 11) for r in spark.read.parquet(f).collect())
    }
    assert len(hit) >= 2, "fixture must spread the matched keys over files"
    t4 = kv_table.begin()
    t4.merge(
        spark,
        spark.createDataFrame([(1, "A"), (11, "Y"), (30, "n")], "id long, val string"),
        "id",
    )
    t4.commit()
    snap = kv_table.snapshot()
    assert before <= set(snap["files"]), "merge replaces no file"
    assert set(snap.get("dvs", {})) == hit, "exactly the matched files gain a vector"
    assert _kv(spark, kv_table.root) == {
        1: "A", 2: "b", 10: "x", 11: "Y", 20: "p", 30: "n"
    }


def test_merge_time_travel_preserves_before_image(spark, kv_table):
    t1 = kv_table.begin()
    _kv_insert(spark, t1, (1, "a"))
    v1 = t1.commit()
    t2 = kv_table.begin()
    t2.merge(spark, spark.createDataFrame([(1, "A")], "id long, val string"), "id")
    v2 = t2.commit()
    assert _kv(spark, kv_table.root, version=v1) == {1: "a"}
    assert _kv(spark, kv_table.root, version=v2) == {1: "A"}


def test_merge_conflict_first_committer_wins(spark, kv_table):
    t1 = kv_table.begin()
    _kv_insert(spark, t1, (1, "a"))
    t1.commit()
    tm = kv_table.begin()
    tm.merge(spark, spark.createDataFrame([(1, "M")], "id long, val string"), "id")
    # a second writer commits first → the merge's rewrite is stale
    ti = kv_table.begin()
    _kv_insert(spark, ti, (2, "b"))
    ti.commit()
    with pytest.raises(ConflictError):
        tm.commit()
    assert _kv(spark, kv_table.root) == {1: "a", 2: "b"}


def test_vacuum_removes_only_unreferenced(spark, table):
    t1 = table.begin()
    _insert(spark, t1, 5)
    t1.commit()
    t2 = table.begin()
    _insert(spark, t2, 6)
    t2.abort()  # abort() already removes; also exercise crashed-uncommitted:
    t3 = table.begin()
    _insert(spark, t3, 8)  # never committed, never aborted
    removed = TransactionalTable(table.root).vacuum()
    assert len(removed) == 1 and t3.txn_id in removed[0]
    assert _rows(spark, table.root) == [5]
