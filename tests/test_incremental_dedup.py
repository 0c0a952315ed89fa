"""Incremental LSH dedup against the persisted signature store.

Contract: the store is built once (idempotent marker) from the existing
corpus; each batch probe hashes only the batch and re-shingles only the
matched existing docs. Semantics equal the full-corpus LSH restricted to
(incoming x existing) pairs — pinned by the shared DuckDB oracle in
tests/test_queries_oracle.py; here we pin the store lifecycle and the
incremental-vs-full consistency.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbms_query_optimizer_spark.operators import dedup as D


@pytest.fixture(scope="module")
def store_root(spark, sf_dir):
    return D.build_lsh_store(spark, sf_dir)


def test_store_built_once(spark, sf_dir, store_root):
    r1 = D.build_lsh_store(spark, sf_dir)
    marker = os.path.join(r1, "_BUILT")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(marker)
    r2 = D.build_lsh_store(spark, sf_dir)  # second call: no rebuild
    assert r2 == r1 and os.path.getmtime(marker) == mtime


def test_store_holds_only_existing_corpus(spark, sf_dir, store_root):
    D.build_lsh_store(spark, sf_dir)
    bands = spark.read.parquet(os.path.join(store_root, "bands"))
    assert bands.filter(F.col("doc_id") % D.INCR_MOD == 0).count() == 0
    # LSH_BANDS rows per existing doc
    n_docs = bands.select("doc_id").distinct().count()
    assert bands.count() == n_docs * D.LSH_BANDS


def test_incremental_equals_full_lsh_cross_pairs(spark, sf_dir, store_root):
    """The incremental result must equal the full-corpus LSH pair list
    restricted to incoming x existing (order normalized) — the store
    changes WHERE the work happens, never the answer."""
    inc = {
        (r["in_id"], r["ex_id"], r["n_inter"])
        for r in D.q_dedup_incremental_lsh(spark, sf_dir).collect()
    }
    full = D.q_dedup_minhash_lsh(spark, sf_dir)
    cross = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a % D.INCR_MOD == 0 and b % D.INCR_MOD != 0:
            cross.add((a, b, r["n_inter"]))
        elif b % D.INCR_MOD == 0 and a % D.INCR_MOD != 0:
            cross.add((b, a, r["n_inter"]))
    assert inc == cross and inc  # non-trivial fixture
