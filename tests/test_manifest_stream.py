"""Manifest-tail streaming source: commit-log offsets, abort
invisibility, live tailing of new commits, startingVersion subscription.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from dbms_query_optimizer_spark.sources.manifest import TransactionalTable
from dbms_query_optimizer_spark.sources.manifest_stream import register


def test_manifest_name_width_matches_writer():
    """manifest_stream duplicates the manifest filename width BY VALUE
    (the data-source planner/executor processes can't import this
    package when the host launches from an arbitrary cwd); this pin
    fails if either side's constant drifts."""
    from dbms_query_optimizer_spark.sources import manifest, manifest_stream

    assert manifest_stream._VERSION_WIDTH == manifest._VERSION_WIDTH
    assert manifest_stream._manifest_path("/r", 7).endswith(
        "/" + manifest._manifest_name(7)
    )


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "tail_table")
    df = spark.range(0).selectExpr("id", "cast(id as double) as val")
    return TransactionalTable.create(root, df.schema)


def _insert(spark, table, *pairs):
    txn = table.begin()
    txn.insert(
        spark.createDataFrame(list(pairs), "id long, val double").coalesce(1)
    )
    return txn.commit()


def _start(spark, root, **opts):
    register(spark)
    name = f"tail_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.format("manifesttail").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    q = (
        reader.load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    return q, name


def _ids(spark, name):
    return sorted(r.id for r in spark.table(name).collect())


def test_tail_streams_committed_versions_only(spark, table):
    _insert(spark, table, (1, 1.0), (2, 2.0))
    aborted = table.begin()
    aborted.insert(spark.createDataFrame([(99, 99.0)], "id long, val double"))
    aborted.abort()
    _insert(spark, table, (3, 3.0))
    q, name = _start(spark, table.root)
    try:
        q.processAllAvailable()
        assert _ids(spark, name) == [1, 2, 3]
    finally:
        q.stop()


def test_tail_picks_up_commits_made_while_running(spark, table):
    _insert(spark, table, (1, 1.0))
    q, name = _start(spark, table.root)
    try:
        q.processAllAvailable()
        assert _ids(spark, name) == [1]
        _insert(spark, table, (2, 2.0))  # committed AFTER the stream started
        q.processAllAvailable()
        assert _ids(spark, name) == [1, 2]
    finally:
        q.stop()


def test_tail_starting_version_skips_history(spark, table):
    _insert(spark, table, (1, 1.0))  # v1
    _insert(spark, table, (2, 2.0))  # v2
    q, name = _start(spark, table.root, startingVersion=1)
    try:
        q.processAllAvailable()
        assert _ids(spark, name) == [2]  # v1's rows skipped
    finally:
        q.stop()


def test_tail_survives_fileless_versions(spark, table):
    """Schema evolution and no-op versions bump the version counter
    without adding files; the batch must come through empty, not hang."""
    _insert(spark, table, (1, 1.0))
    new_schema = (
        spark.range(0)
        .selectExpr("id", "cast(id as double) as val", "cast(null as string) as tag")
        .schema
    )
    table.alter_schema(new_schema)  # v2: zero files added
    q, name = _start(spark, table.root)
    try:
        q.processAllAvailable()
        assert _ids(spark, name) == [1]
        # the evolved schema applies to the stream: old file reads tag=NULL
        rows = spark.table(name).collect()
        assert all(r.tag is None for r in rows)
    finally:
        q.stop()


def test_tail_merge_emits_rewrite_files(spark, table):
    """Documented append-only-at-file-level contract: the tail streams
    each version's added files, so a merge emits its appended source
    rows and not the rows its deletion vector removes; the exact delta
    is changes()."""
    _insert(spark, table, (1, 1.0), (2, 2.0))
    txn = table.begin()
    txn.merge(
        spark, spark.createDataFrame([(2, 99.0)], "id long, val double"), "id"
    )
    txn.commit()
    q, name = _start(spark, table.root)
    try:
        q.processAllAvailable()
        got = sorted((r.id, r.val) for r in spark.table(name).collect())
        # v1's file streams once, for v1 (survivor and old row alike);
        # the updated row comes from v2's appended file
        assert (1, 1.0) in got and (2, 99.0) in got
        assert (2, 2.0) in got  # v1's original content streamed for v1
    finally:
        q.stop()
