"""The manifest table's transaction contract and its commit loop.

A transaction holds inserts only, or ONE rewrite first and then inserts.
A rewrite is computed against the snapshot it pins, which never contains
the transaction's own staged work — so a second rewrite, or a rewrite
after staged inserts, must be refused rather than silently publish a
table that lost or duplicated rows.

The commit-loop tests are Spark-free: they make the first manifest link
lose to a competing commit and check where each metadata-only commit
(``alter_schema``, ``restore``, ``publish_from``) lands.
"""

import os

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from dbms_query_optimizer_spark.sources import manifest
from dbms_query_optimizer_spark.sources.manifest import ConflictError, TransactionalTable


@pytest.fixture()
def kv_table(spark, tmp_path):
    root = str(tmp_path / "kv_table")
    return TransactionalTable.create(
        root, spark.createDataFrame([], "k long, v long").schema
    )


def _df(spark, *rows):
    return spark.createDataFrame(list(rows), "k long, v long").coalesce(1)


def _rows(spark, root):
    return sorted(tuple(r) for r in TransactionalTable(root).read(spark).collect())


def _seed(spark, table, *rows):
    t = table.begin()
    t.insert(_df(spark, *rows))
    t.commit()


def test_second_merge_in_one_txn_is_refused(spark, kv_table):
    # the second merge's snapshot cannot see the first merge's staged
    # row, so letting it through would publish both (5, 1) and (5, 2)
    _seed(spark, kv_table, (1, 0))
    t = kv_table.begin()
    t.merge(spark, _df(spark, (5, 1)), "k")
    with pytest.raises(RuntimeError, match="one rewrite"):
        t.merge(spark, _df(spark, (5, 2)), "k")
    t.commit()
    assert _rows(spark, kv_table.root) == [(1, 0), (5, 1)]


def test_cow_delete_after_mor_delete_is_refused(spark, kv_table):
    # the COW delete would rewrite files without the staged deletion
    # vector, resurrecting k=1 and leaving a DV for a file no longer live
    _seed(spark, kv_table, (1, 0), (2, 0), (4, 0), (5, 0))
    t = kv_table.begin()
    t.delete_mor(spark, ("k", "=", 1))
    with pytest.raises(RuntimeError, match="one rewrite"):
        t.delete(spark, ("k", ">=", 4))
    t.commit()
    assert _rows(spark, kv_table.root) == [(2, 0), (4, 0), (5, 0)]
    snap = kv_table.snapshot()
    assert set(snap.get("dvs", {})) <= set(snap["files"])


def test_merge_after_insert_is_refused(spark, kv_table):
    # the merge cannot replace a row that is only staged, not committed
    t = kv_table.begin()
    t.insert(_df(spark, (5, 1)))
    with pytest.raises(RuntimeError, match="one rewrite"):
        t.merge(spark, _df(spark, (5, 2)), "k")
    t.commit()
    assert _rows(spark, kv_table.root) == [(5, 1)]


def test_finished_txn_refuses_every_call(spark, kv_table):
    # an explicit check, not an assert, so it also holds under python -O:
    # a second commit would publish the staged file twice and an abort
    # after commit would delete the committed data file
    t = kv_table.begin()
    t.insert(_df(spark, (1, 0), (2, 0)))
    t.commit()
    for call in (t.commit, lambda: t.insert(_df(spark, (3, 0))), t.abort):
        with pytest.raises(RuntimeError, match="already finished"):
            call()
    assert _rows(spark, kv_table.root) == [(1, 0), (2, 0)]


# ------------------------------------------------------ lost link race

_SCHEMA = StructType([StructField("id", LongType())])


def _file(tmp_path, name: str) -> str:
    path = str(tmp_path / name)
    open(path, "wb").close()  # restore checks referenced files exist
    return path


def _lose_first_link(monkeypatch, compete):
    """Before the next manifest link, a competing writer commits
    ``compete(tip)`` at the same version, so the link fails once and the
    commit loop has to retry on the competitor's tip."""
    real = manifest._write_manifest_atomic
    links = []

    def racing(mdir, version, m):
        if not links:
            table = TransactionalTable(os.path.dirname(mdir))
            real(mdir, version, {**compete(table.snapshot()), "version": version})
        links.append(version)
        real(mdir, version, m)

    monkeypatch.setattr(manifest, "_write_manifest_atomic", racing)
    return links


def _competitor(extra_file: str):
    return lambda tip: {
        **tip,
        "files": tip["files"] + [extra_file],
        "constraints": {"id_nonneg": "id >= 0"},
    }


def test_alter_schema_retries_onto_new_tip(tmp_path, monkeypatch):
    table = TransactionalTable.create(str(tmp_path / "t"), _SCHEMA)
    table._publish(["/a.parquet"])
    links = _lose_first_link(monkeypatch, _competitor("/b.parquet"))
    wider = StructType(_SCHEMA.fields + [StructField("note", LongType())])
    assert table.alter_schema(wider) == 3
    assert links == [2, 3]
    snap = table.snapshot()
    assert snap["version"] == 3
    assert snap["schema"] == wider.json()
    assert snap["files"] == ["/a.parquet", "/b.parquet"]
    assert snap["constraints"] == {"id_nonneg": "id >= 0"}


def test_restore_retries_and_keeps_new_tips_policies(tmp_path, monkeypatch):
    table = TransactionalTable.create(
        str(tmp_path / "t"), _SCHEMA, bloom_columns=["id"]
    )
    a, b = _file(tmp_path, "a.parquet"), _file(tmp_path, "b.parquet")
    table._publish([a], stats={a: {"id": {"min": 1, "max": 1}}})
    table._publish([b])
    links = _lose_first_link(monkeypatch, _competitor("/c.parquet"))
    assert table.restore(1) == 4
    assert links == [3, 4]
    snap = table.snapshot()
    assert snap["files"] == [a]
    assert snap["stats"] == {a: {"id": {"min": 1, "max": 1}}}
    assert snap["schema"] == _SCHEMA.json()
    # policies come from the tip the restore actually landed on
    assert snap["bloom_columns"] == ["id"]
    assert snap["constraints"] == {"id_nonneg": "id >= 0"}


def test_publish_from_refuses_tip_moved_during_race(tmp_path, monkeypatch):
    main = TransactionalTable.create(str(tmp_path / "main"), _SCHEMA)
    main._publish(["/a.parquet"])
    branch = main.clone(str(tmp_path / "branch"))
    branch._publish(["/audited.parquet"])
    links = _lose_first_link(monkeypatch, _competitor("/b.parquet"))
    with pytest.raises(ConflictError, match="fork point"):
        main.publish_from(branch)
    assert links == [2]
    snap = main.snapshot()
    assert snap["version"] == 2
    assert snap["files"] == ["/a.parquet", "/b.parquet"]
