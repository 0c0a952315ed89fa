"""Merge-on-read DELETE via deletion vectors: the Delta-DV / Iceberg-v2
position-delete design over the manifest table.

Contract under test: a MOR delete changes NO data file (the delete cost
is O(deleted rows) of vector, not a rewrite), reads apply the vectors
exactly, vectors stack across transactions, time travel and the change
feed see through them, compaction/materialization folds them in, and
vacuum never reclaims a live vector.
"""

import os

import pytest

from pyspark.sql import functions as F

from dbms_query_optimizer_spark.sources.manifest import TransactionalTable


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "dv_table")
    df = spark.range(0).selectExpr("id", "cast(id as double) as val")
    t = TransactionalTable.create(root, df.schema)
    t1 = t.begin()
    t1.insert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, val double"
        ).coalesce(2)
    )
    t1.commit()
    return t


def _rows(spark, root, version=None):
    return sorted(
        r.id for r in TransactionalTable(root).read(spark, version).collect()
    )


def test_mor_delete_rewrites_no_files(spark, table):
    before = table.snapshot()["files"]
    td = table.begin()
    td.delete_mor(spark, ("id", ">=", 7))
    v = td.commit()
    after = table.snapshot()["files"]
    assert after == before, "MOR delete must not touch the data files"
    assert _rows(spark, table.root) == list(range(7))
    assert table.snapshot()["dvs"], "manifest carries the vector"
    assert v == 2


def test_mor_delete_time_travel_sees_through(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", "=", 3))
    td.commit()
    assert _rows(spark, table.root, version=1) == list(range(10))
    assert _rows(spark, table.root, version=2) == [i for i in range(10) if i != 3]


def test_mor_deletes_stack_across_transactions(spark, table):
    for pred in [("id", "=", 0), ("id", "=", 9), ("id", "=", 5)]:
        td = table.begin()
        td.delete_mor(spark, pred)
        td.commit()
    assert _rows(spark, table.root) == [1, 2, 3, 4, 6, 7, 8]
    # every intermediate state remains readable
    assert _rows(spark, table.root, version=2) == [i for i in range(10) if i != 0]
    assert _rows(spark, table.root, version=3) == [
        i for i in range(10) if i not in (0, 9)
    ]


def test_mor_delete_null_unknown_rows_survive(spark, table):
    tn = table.begin()
    tn.insert(
        spark.createDataFrame([(100, None)], "id long, val double").coalesce(1)
    )
    tn.commit()
    td = table.begin()
    td.delete_mor(spark, ("val", "<", 3.0))
    td.commit()
    ids = _rows(spark, table.root)
    assert 100 in ids and ids == [3, 4, 5, 6, 7, 8, 9, 100]


def test_materialize_folds_vectors_and_clears_them(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", "<", 4))
    td.commit()
    v = table.materialize_dvs(spark)
    assert v == 3
    snap = table.snapshot()
    assert not snap.get("dvs"), "materialization clears the vectors"
    assert _rows(spark, table.root) == [4, 5, 6, 7, 8, 9]
    # re-materializing with no vectors is a no-op
    assert table.materialize_dvs(spark) is None


def test_changes_feed_emits_dv_deletes(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", ">=", 8))
    td.commit()
    feed = table.changes(spark, 1, 2).collect()
    deletes = sorted(r.id for r in feed if r._change_type == "delete")
    inserts = [r for r in feed if r._change_type == "insert"]
    assert deletes == [8, 9]
    assert not inserts


def test_vacuum_preserves_live_vector_dirs(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", "=", 1))
    td.commit()
    table.vacuum()
    assert _rows(spark, table.root) == [i for i in range(10) if i != 1]
    dv_dirs = {d for dirs in table.snapshot()["dvs"].values() for d in dirs}
    assert all(os.path.isdir(d) for d in dv_dirs)


def test_uncommitted_vector_is_invisible(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", ">=", 0))
    # crash before commit: no manifest references the vector
    assert _rows(spark, table.root) == list(range(10))
    fresh = TransactionalTable(table.root)  # recovery-path open
    assert _rows(spark, fresh.root) == list(range(10))


def test_mor_then_cow_merge_drops_stale_vector(spark, table):
    """A merge onto a vectored file stacks its own vector: rows deleted
    earlier stay deleted, and every DV entry names a live file."""
    td = table.begin()
    td.delete_mor(spark, ("id", "=", 2))
    td.commit()
    tm = table.begin()
    tm.merge(
        spark,
        spark.createDataFrame([(0, 100.0)], "id long, val double").coalesce(1),
        "id",
    )
    tm.commit()
    t = TransactionalTable(table.root)
    got = {r.id: r.val for r in t.read(spark).collect()}
    assert 2 not in got, "MOR-deleted row resurrected by the merge"
    assert got[0] == 100.0
    # the merged files shed their vector entries; only untouched files
    # may still carry theirs
    for f, dirs in t.snapshot().get("dvs", {}).items():
        assert f in t.snapshot()["files"]


def test_compact_applies_vectors(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", "=", 6))
    td.commit()
    v = table.compact(spark, target_file_bytes=1 << 30, target_files=1)
    assert v is not None
    t = TransactionalTable(table.root)
    assert sorted(r.id for r in t.read(spark).collect()) == [
        i for i in range(10) if i != 6
    ]
    assert not t.snapshot().get("dvs")


def test_zone_pruned_mor_delete_is_noop_version(spark, table):
    before = table.snapshot()["files"]
    td = table.begin()
    td.delete_mor(spark, ("id", ">", 10_000))
    td.commit()
    snap = table.snapshot()
    assert snap["files"] == before
    assert not snap.get("dvs")
    assert _rows(spark, table.root) == list(range(10))


def test_restore_across_dv_versions(spark, table):
    td = table.begin()
    td.delete_mor(spark, ("id", "<", 5))
    td.commit()
    table.restore(1)  # back to the undeleted state
    assert _rows(spark, table.root) == list(range(10))
    table.restore(2)  # forward again to the vectored state
    assert _rows(spark, table.root) == [5, 6, 7, 8, 9]
