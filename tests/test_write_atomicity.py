"""Write-path observable semantics — the Spark-native counterpart of the
reference's transaction/recovery scenarios (reference
test/unit/log/log_manager_test.cc:249-464: committed data survives,
uncommitted/aborted data is never visible).

Spark's unit of atomicity is the job: tasks stage output under
``_temporary`` and the committer renames into place only on job success.
So the portable guarantees are (a) a successful write is fully readable
(commit), and (b) a failed job exposes NO partial data files (abort) —
asserted here. In-place overwrite of live data additionally needs a
table-format commit protocol (Delta/Iceberg), which is out of scope and
documented in SURVEY.md §7.5.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from dbms_query_optimizer_spark.engine import load_tables
from dbms_query_optimizer_spark.sources import write_parquet


def test_committed_write_fully_visible(spark, sf_dir, tmp_path):
    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "committed")
    write_parquet(docs, path)
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)


def test_failed_job_leaves_no_partial_data(spark, sf_dir, tmp_path):
    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "aborted")

    @F.udf(returnType=DoubleType())
    def explode_mid_job(doc_id):
        if doc_id is not None and doc_id % 97 == 13:
            raise ValueError("simulated task failure")
        return float(doc_id)

    poisoned = docs.withColumn("boom", explode_mid_job("doc_id"))
    with pytest.raises(Exception):
        write_parquet(poisoned, path, mode="errorifexists")

    # abort semantics: nothing committed — no data files outside _temporary
    committed = [
        f
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if "_temporary" not in f
    ]
    assert committed == [], f"partial files visible after failed job: {committed}"
