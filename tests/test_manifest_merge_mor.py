"""Merge-on-read MERGE: an upsert stages the source as an append plus a
deletion vector over the target rows it replaces, and never rewrites a
data file.

Contract under test: key semantics (NULL keys match nothing, duplicate
source keys all land, composite keys match on every column), vectors
stack on already-vectored files, a merge that matches nothing writes no
vector, the change feed and ``materialize_dvs`` see exactly the upsert,
and the Spark job budget of ``merge`` and ``delete_mor`` (counted by
job-id delta) stays pinned.
"""

import os
from collections import Counter

from pyspark.sql import functions as F

from dbms_query_optimizer_spark.sources.manifest import TransactionalTable


def _table(spark, tmp_path, schema="id long, val string", bloom=None):
    root = str(tmp_path / "mor_merge")
    df = spark.createDataFrame([], schema)
    return TransactionalTable.create(root, df.schema, bloom_columns=bloom)


def _commit_insert(spark, table, rows, schema="id long, val string"):
    t = table.begin()
    t.insert(spark.createDataFrame(rows, schema).coalesce(1))
    return t.commit()


def _merge(spark, table, rows, key="id", schema="id long, val string"):
    t = table.begin()
    t.merge(spark, spark.createDataFrame(rows, schema), key)
    return t.commit()


def _rows(spark, table, version=None):
    """The table's rows as a multiset (NULL keys do not sort)."""
    return Counter(
        tuple(r) for r in TransactionalTable(table.root).read(spark, version).collect()
    )


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_null_keys_match_nothing(spark, tmp_path):
    table = _table(spark, tmp_path)
    _commit_insert(spark, table, [(None, "t-null"), (1, "a"), (2, "b")])
    _merge(spark, table, [(None, "s-null"), (2, "B")])
    # the NULL-keyed source row inserts; it replaces neither NULL row
    assert _rows(spark, table) == Counter(
        [(None, "t-null"), (None, "s-null"), (1, "a"), (2, "B")]
    )


def test_all_null_source_keys_write_no_vector(spark, tmp_path):
    table = _table(spark, tmp_path)
    _commit_insert(spark, table, [(None, "t"), (1, "a")])
    _merge(spark, table, [(None, "s")])
    assert not table.snapshot().get("dvs")
    assert _rows(spark, table) == Counter([(None, "t"), (None, "s"), (1, "a")])


def test_duplicate_source_keys_all_land(spark, tmp_path):
    table = _table(spark, tmp_path)
    _commit_insert(spark, table, [(1, "a"), (2, "b")])
    _merge(spark, table, [(1, "x"), (1, "y"), (3, "z"), (3, "w")])
    assert _rows(spark, table) == Counter(
        [(1, "x"), (1, "y"), (2, "b"), (3, "w"), (3, "z")]
    )


def test_two_column_key_matches_on_both(spark, tmp_path):
    schema = "a long, b string, val double"
    table = _table(spark, tmp_path, schema)
    _commit_insert(
        spark, table, [(1, "p", 1.0), (1, "q", 2.0), (2, "p", 3.0)], schema
    )
    _merge(spark, table, [(1, "q", 20.0), (2, "q", 30.0)], ["a", "b"], schema)
    assert _rows(spark, table) == Counter(
        [(1, "p", 1.0), (1, "q", 20.0), (2, "p", 3.0), (2, "q", 30.0)]
    )


def test_merge_onto_vectored_file_stacks_its_vector(spark, tmp_path):
    table = _table(spark, tmp_path)
    _commit_insert(spark, table, [(i, f"v{i}") for i in range(6)])
    (f,) = table.snapshot()["files"]
    td = table.begin()
    td.delete_mor(spark, ("id", "=", 0))
    td.commit()
    _merge(spark, table, [(3, "X")])
    snap = table.snapshot()
    assert f in snap["files"]
    assert len(snap["dvs"][f]) == 2, "the merge's vector stacks on the delete's"
    assert _rows(spark, table) == Counter(
        [(1, "v1"), (2, "v2"), (3, "X"), (4, "v4"), (5, "v5")]
    )
    # a second merge of the same key leaves the original file alone: its
    # copy of the key is already deleted, so only the file holding the
    # live row gains a vector
    merged_file = next(x for x in snap["files"] if x != f)
    _merge(spark, table, [(3, "Y")])
    dvs = table.snapshot()["dvs"]
    assert len(dvs[f]) == 2 and len(dvs[merged_file]) == 1
    assert dict(iter(_rows(spark, table)))[3] == "Y"


def test_no_match_merge_writes_no_vector(spark, tmp_path):
    table = _table(spark, tmp_path)
    _commit_insert(spark, table, [(1, "a"), (2, "b")])
    t = table.begin()
    t.merge(spark, spark.createDataFrame([(7, "g")], "id long, val string"), "id")
    assert not os.path.exists(os.path.join(t._staging, "dv"))
    t.commit()
    assert not table.snapshot().get("dvs")
    assert _rows(spark, table) == Counter([(1, "a"), (2, "b"), (7, "g")])


def test_merge_then_changes_is_exactly_the_upsert(spark, tmp_path):
    table = _table(spark, tmp_path)
    v1 = _commit_insert(spark, table, [(1, "a"), (2, "b"), (3, "c")])
    v2 = _merge(spark, table, [(2, "B"), (4, "d")])
    feed = sorted(
        (r.id, r.val, r._change_type) for r in table.changes(spark, v1, v2).collect()
    )
    # the untouched rows of the vectored file cancel in the row diff
    assert feed == [(2, "B", "insert"), (2, "b", "delete"), (4, "d", "insert")]


def test_merge_then_materialize_is_lossless(spark, tmp_path):
    table = _table(spark, tmp_path)
    _commit_insert(spark, table, [(i, f"v{i}") for i in range(10)])
    _merge(spark, table, [(2, "X"), (7, "Y"), (11, "Z")])
    before = _rows(spark, table)
    assert table.materialize_dvs(spark) is not None
    assert not table.snapshot().get("dvs")
    assert _rows(spark, table) == before


def test_zero_row_staged_files_are_not_published(spark, tmp_path):
    """Spark writes partition 0's file even when that partition is empty;
    a one-row frame over four partitions must publish exactly one file,
    carrying full stats."""
    table = _table(spark, tmp_path)
    t = table.begin()
    t.insert(spark.createDataFrame([(5, "e")], "id long, val string").repartition(4))
    assert len(t.staged_files()) > 1
    t.commit()
    snap = table.snapshot()
    (f,) = snap["files"]
    assert snap["stats"][f]["id"] == {"min": 5, "max": 5, "nulls": 0, "rows": 1}
    assert set(snap["stats"][f]) == {"id", "val"}


def _ingest_table(spark, tmp_path):
    """A bloom-keyed table shaped like a small ingest: an initial load,
    an MOR delete of the oldest keys, then a fresh batch."""
    root = str(tmp_path / "jobs")
    frame = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") % 1000 / 10.0).alias("v")
    )
    table = TransactionalTable.create(root, frame(0, 0).schema, bloom_columns=["k"])
    for lo, hi in ((0, 2000), (2000, 2400)):
        t = table.begin()
        t.insert(frame(lo, hi))
        t.commit()
    td = table.begin()
    td.delete_mor(spark, [("k", ">=", 0), ("k", "<", 300)])
    td.commit()
    return table, frame


def test_merge_and_delete_mor_job_budget(spark, tmp_path):
    table, frame = _ingest_table(spark, tmp_path)
    t = table.begin()
    first = _next_job(spark)
    t.merge(spark, frame(2100, 2300).unionByName(frame(2400, 2500)), "k")
    merge_jobs = _next_job(spark) - first
    t.commit()
    td = table.begin()
    first = _next_job(spark)
    td.delete_mor(spark, [("k", ">=", 300), ("k", "<", 600)])
    delete_jobs = _next_job(spark) - first
    td.commit()
    assert merge_jobs <= 4, merge_jobs
    assert delete_jobs <= 2, delete_jobs
    # reading a vectored table plans without a schema-inference job
    first = _next_job(spark)
    df = table.read(spark)
    assert _next_job(spark) == first
    assert df.count() == 2500 - 600
