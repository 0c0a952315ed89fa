"""Connector roundtrips: every format preserves values and schemas.

Each roundtrip reads back under the schema of the frame it wrote (the
source parquet footers'), an explicit schema with no inference pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbms_query_optimizer_spark.engine import load_tables
from dbms_query_optimizer_spark.sources import (
    read_csv,
    read_json,
    write_csv,
    write_json,
    write_parquet,
)


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return load_tables(spark, sf_dir)["nation"]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_parquet_roundtrip(spark, nation, tmp_path):
    path = str(tmp_path / "nation_parquet")
    write_parquet(nation, path, target_files=1)
    back = spark.read.schema(nation.schema).parquet(path)
    assert back.schema == nation.schema
    assert _sorted_rows(back) == _sorted_rows(nation)


def test_csv_roundtrip(spark, nation, tmp_path):
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path, target_files=1)
    back = read_csv(spark, path, nation.schema)
    assert back.schema == nation.schema
    assert _sorted_rows(back) == _sorted_rows(nation)


def test_json_roundtrip(spark, nation, tmp_path):
    path = str(tmp_path / "nation_json")
    write_json(nation, path, target_files=1)
    back = read_json(spark, path, nation.schema)
    assert back.schema == nation.schema
    assert _sorted_rows(back) == _sorted_rows(nation)


def test_csv_failfast_on_malformed(spark, nation, tmp_path):
    bad = tmp_path / "bad_csv"
    bad.mkdir()
    (bad / "part.csv").write_text(
        "n_nationkey,n_name,n_regionkey\n0,ALGERIA,0\nnot_an_int,X,Y\n"
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError):
        read_csv(spark, str(bad), nation.schema).collect()


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    """partitionBy(col) => a filter on col reads only that directory."""
    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "docs_by_lang")
    write_parquet(docs, path, partition_by=["lang"])
    back = spark.read.parquet(path)
    one_lang = back.filter(back.lang == "en")
    plan = one_lang._jdf.queryExecution().executedPlan().toString()
    # partition pruning shows up as the partition filter on the scan node
    assert "PartitionFilters" in plan and "lang" in plan
    expected = docs.filter(docs.lang == "en").count()
    assert one_lang.count() == expected


def test_zstd_codec_roundtrip(spark, sf_dir, tmp_path):
    """Column compression is a storage-layout knob, not a semantics one:
    zstd-compressed parquet must round-trip identically and the codec must
    actually be recorded in the column chunks. At 100 TB the codec choice
    (zstd ~30% smaller than snappy at similar scan cost) is real money."""
    import glob

    import pyarrow.parquet as pq

    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "docs_zstd")
    docs.write.option("compression", "zstd").parquet(path)

    f = sorted(glob.glob(f"{path}/*.parquet"))[0]
    md = pq.ParquetFile(f).metadata
    codecs = {
        md.row_group(0).column(i).compression
        for i in range(md.row_group(0).num_columns)
    }
    assert codecs == {"ZSTD"}
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema drift across file generations: files written before a column
    existed must still read alongside new files — mergeSchema unions the
    schemas and backfills NULL. At 100 TB a table's oldest partitions
    predate most of its columns; a reader that errors on them is unusable."""
    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "evolving")
    # generation 1: no quality column yet
    docs.select("doc_id", "lang").write.parquet(f"{path}/gen=1")
    # generation 2: quality column added
    docs.select(
        "doc_id", "lang", F.length("text").alias("quality")
    ).write.parquet(f"{path}/gen=2")

    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(back.columns) == {"doc_id", "lang", "quality", "gen"}
    n = docs.count()
    assert back.count() == 2 * n
    # old generation reads as NULL quality, new one fully populated
    nulls = back.filter(F.col("quality").isNull())
    assert nulls.count() == n
    assert {r.gen for r in nulls.select("gen").distinct().collect()} == {1}


def test_dpp_join_prunes_partitions(spark, sf_dir):
    """The fact scan must carry a runtime dynamicpruning partition filter
    fed by the dim's broadcast — no static predicate exists on the fact."""
    from dbms_query_optimizer_spark.operators.sources_queries import (
        q_dpp_join_pruned,
    )

    df = q_dpp_join_pruned(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert df.count() == 3  # click / purchase / signup survive the dim filter


def test_sorted_parquet_row_group_bands(spark, sf_dir, tmp_path):
    """write_sorted_parquet => files cover disjoint sort-key ranges and a
    range filter prunes to the matching files (footer min/max skipping)."""
    from dbms_query_optimizer_spark.sources import write_sorted_parquet

    orders = load_tables(spark, sf_dir)["orders"]
    path = str(tmp_path / "orders_by_key")
    write_sorted_parquet(orders, path, ["o_orderkey"], num_files=4)

    import glob

    import pyarrow.parquet as pq

    bands = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderkey"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        bands.append((min(mins), max(maxs)))
    assert len(bands) >= 2
    # repartitionByRange gives files DISJOINT key bands — the property
    # that lets a range predicate skip whole files via footer stats
    for (_, hi), (lo, _) in zip(sorted(bands), sorted(bands)[1:]):
        assert hi < lo

    # a narrow range filter must read fewer files than the full scan
    back = spark.read.parquet(path)
    lo0, hi0 = sorted(bands)[0]
    narrow = back.filter(back.o_orderkey <= hi0)
    assert narrow.count() == orders.filter(orders.o_orderkey <= hi0).count()
    n_read = narrow.select("o_orderkey")._jdf.queryExecution().executedPlan().toString()
    assert "o_orderkey" in n_read  # pushed filter reaches the scan


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """Dynamic overwrite replaces ONLY the partitions present in the new
    frame; static overwrite (the default) would truncate the whole table.
    The backfill rewrites the 'click' partition with zeroed values; every
    other event_type partition must survive byte-identical."""
    from pyspark.sql import functions as F

    from dbms_query_optimizer_spark.engine import load_tables
    from dbms_query_optimizer_spark.sources.writers import (
        overwrite_partitions_dynamic,
        write_parquet,
    )

    ev = load_tables(spark, sf_dir)["events"]
    path = str(tmp_path / "events_part")
    write_parquet(ev, path, partition_by=["event_type"], target_files=4)

    before = {
        r["event_type"]: (r["n"], r["s"])
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }

    backfill = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.lit(0.0)
    )
    overwrite_partitions_dynamic(backfill, path, ["event_type"], target_files=2)

    after = {
        r["event_type"]: (r["n"], r["s"])
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert set(after) == set(before)  # no partition vanished
    for k in before:
        if k == "click":
            assert after[k] == (before[k][0], 0.0)  # rewritten, zeroed
        else:
            assert after[k] == before[k]  # untouched
