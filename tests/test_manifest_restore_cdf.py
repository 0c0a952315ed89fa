"""RESTORE (rollback-as-commit) and change-data-feed semantics of the
manifest table.

Restore is the immutable-file analog of the reference's abort-time
before-image restoration (reference: src/include/log/log_manager.h:16-23
— the UPDATE record carries the before-image so undo can put the old
bytes back): over parquet the old manifest IS the before-image, so
rolling back publishes it forward as a new auditable version.

The change feed is derived from the manifest file diff (immutability
means a row can only change by its file leaving the manifest), then an
exceptAll row diff cancels the unchanged rows of vectored files.
"""

import pytest

from dbms_query_optimizer_spark.sources.manifest import TransactionalTable


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "restore_table")
    df = spark.range(0).selectExpr("id", "cast(id as double) as val")
    return TransactionalTable.create(root, df.schema)


def _insert(spark, txn, *pairs):
    # coalesce(1): one data file per insert, so a materialized merge
    # leaves its whole staging dir unreferenced (the vacuum test)
    txn.insert(
        spark.createDataFrame(list(pairs), "id long, val double").coalesce(1)
    )


def _rows(spark, root, version=None):
    t = TransactionalTable(root)
    return sorted((r.id, r.val) for r in t.read(spark, version).collect())


def _merge(spark, table, *pairs):
    txn = table.begin()
    txn.merge(spark, spark.createDataFrame(list(pairs), "id long, val double"), "id")
    return txn.commit()


def test_restore_rolls_back_data_as_new_version(spark, table):
    t1 = table.begin()
    _insert(spark, t1, (1, 1.0), (2, 2.0))
    t1.commit()  # v1
    _merge(spark, table, (2, 99.0), (3, 3.0))  # v2: update id=2, insert id=3
    assert _rows(spark, table.root) == [(1, 1.0), (2, 99.0), (3, 3.0)]

    v = table.restore(1)
    assert v == 3  # a NEW forward commit, not a manifest rewrite
    # fresh open (recovery path) sees the v1 data again
    assert _rows(spark, table.root) == [(1, 1.0), (2, 2.0)]
    # the rolled-back state is still time-travel-readable
    assert _rows(spark, table.root, version=2) == [(1, 1.0), (2, 99.0), (3, 3.0)]
    # and history shows all four versions
    hist = TransactionalTable(table.root).history(spark).collect()
    assert [r.version for r in hist] == [0, 1, 2, 3]


def test_restore_after_vacuum_refuses(spark, table):
    t1 = table.begin()
    _insert(spark, t1, (1, 1.0))
    t1.commit()  # v1
    _merge(spark, table, (1, 2.0))  # v2 vectors v1's file
    table.materialize_dvs(spark)  # v3 folds the vector: v1's file leaves
    removed = table.vacuum()  # reclaims v1's now-unreferenced staging dir
    assert removed
    with pytest.raises(FileNotFoundError):
        table.restore(1)
    # the tip is untouched by the failed restore
    assert _rows(spark, table.root) == [(1, 2.0)]


def test_changes_initial_commit_is_all_inserts(spark, table):
    t1 = table.begin()
    _insert(spark, t1, (1, 1.0), (2, 2.0))
    t1.commit()
    feed = table.changes(spark, 0, 1).collect()
    assert sorted((r.id, r.val, r._change_type) for r in feed) == [
        (1, 1.0, "insert"),
        (2, 2.0, "insert"),
    ]


def test_changes_merge_emits_update_pair_and_cancels_survivors(spark, table):
    t1 = table.begin()
    # one file holding both the to-be-updated row and a survivor
    _insert(spark, t1, (1, 1.0), (2, 2.0))
    t1.commit()  # v1
    _merge(spark, table, (2, 99.0), (3, 3.0))  # v2
    feed = sorted(
        (r.id, r.val, r._change_type)
        for r in table.changes(spark, 1, 2).collect()
    )
    # survivor (1, 1.0) shares the vectored file but must NOT appear;
    # the update is a delete+insert pair; the insert appears once
    assert feed == [
        (2, 2.0, "delete"),
        (2, 99.0, "insert"),
        (3, 3.0, "insert"),
    ]


def test_changes_across_restore_is_inverse_of_corruption(spark, table):
    t1 = table.begin()
    _insert(spark, t1, (1, 1.0))
    t1.commit()  # v1
    _merge(spark, table, (1, 42.0))  # v2: corrupt
    table.restore(1)  # v3
    feed = sorted(
        (r.id, r.val, r._change_type)
        for r in table.changes(spark, 2, 3).collect()
    )
    assert feed == [(1, 1.0, "insert"), (1, 42.0, "delete")]


def test_changes_across_schema_evolution_reads_under_target_schema(spark, table):
    """Rows are compared under v_to's schema: files written before an
    ADD COLUMN read the new column as NULL in the feed, matching
    time-travel read semantics."""
    t1 = table.begin()
    _insert(spark, t1, (1, 1.0))
    t1.commit()  # v1
    evolved = (
        spark.range(0)
        .selectExpr("id", "cast(id as double) as val", "cast(null as string) as tag")
        .schema
    )
    table.alter_schema(evolved)  # v2: metadata only, no files
    t3 = table.begin()
    t3.insert(
        spark.createDataFrame([(2, 2.0, "x")], "id long, val double, tag string")
        .coalesce(1)
    )
    t3.commit()  # v3
    feed = sorted(
        (r.id, r.val, r.tag, r._change_type)
        for r in table.changes(spark, 1, 3).collect()
    )
    assert feed == [(2, 2.0, "x", "insert")]
    # and a feed STARTING before the old schema still reads old files
    # under the evolved schema (tag NULL), not the v1 shape
    feed0 = sorted(
        (r.id, r.val, r.tag, r._change_type)
        for r in table.changes(spark, 0, 3).collect()
    )
    assert feed0 == [(1, 1.0, None, "insert"), (2, 2.0, "x", "insert")]


def test_changes_duplicate_rows_are_multiset_exact(spark, table):
    """exceptAll is a multiset difference: if the same (id, val) row is
    stored twice and one copy is deleted, the feed must show exactly one
    delete — a set-based diff would show zero."""
    t1 = table.begin()
    _insert(spark, t1, (7, 7.0), (7, 7.0))
    t1.commit()  # v1: two identical rows
    # the merge on id=7 replaces BOTH copies with one new row
    _merge(spark, table, (7, 8.0))  # v2
    feed = sorted(
        (r.id, r.val, r._change_type)
        for r in table.changes(spark, 1, 2).collect()
    )
    assert feed == [(7, 7.0, "delete"), (7, 7.0, "delete"), (7, 8.0, "insert")]
