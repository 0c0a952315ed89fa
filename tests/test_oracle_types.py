"""Oracle type checks: the pre-checks ``oracle_utils.compare`` runs before
it hashes, a DESCRIBE-only sweep of every catalog oracle, and the
numeric-class check of every oracle against its query's Spark schema.

The driver canonicalizes oracle results through pandas (``.df()``). There
DuckDB's HUGEINT (what ``SUM`` over INTEGER/BIGINT widens to) and any
DECIMAL wider than float64's ~15.95 exact digits render as float64, and a
Spark BIGINT column against an oracle DOUBLE renders "32869" vs "32869.0":
the values agree but the hash flips. ``compare`` rejects both classes
before hashing and names the column; ``tests/test_queries_oracle.py``
calls it for every catalog entry.

The HUGEINT sweep is plan-only (DuckDB DESCRIBE, no Spark), so it names a
lossy oracle column at authoring time in milliseconds. The schema check
builds each query's frame but runs no action on it. Oracles that read
table state a Spark query must write first cannot be planned standalone;
both sweeps skip them, and ``compare`` checks them after the Spark side
has written.
"""

from __future__ import annotations

import pytest

from dbms_query_optimizer_spark.operators import catalog

from .oracle_utils import (
    compare,
    duckdb_conn,
    hugeint_columns,
    release_query_caches,
    type_mismatches,
)

ORACLED = sorted(n for n, (_, sql) in catalog.CATALOG.items() if sql)


@pytest.fixture(scope="module")
def conn(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_has_no_hugeint_columns(name, conn):
    sql = catalog.CATALOG[name][1]
    try:
        huge = hugeint_columns(conn, sql)
    except Exception as exc:  # state-dependent oracle (txn family) — covered
        pytest.skip(f"oracle not plannable standalone: {str(exc)[:120]}")
    assert not huge, (
        f"{name}: oracle emits pandas-lossy columns {huge} — the driver's "
        "canonicalization renders these float64 and the hash flips; "
        "CAST to BIGINT (or publish a modular/narrower value) in the oracle"
    )


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_types_agree_with_spark_schema(name, conn, spark, sf_dir):
    """DuckDB's DESCRIBE of the oracle agrees with the Spark frame's
    dtypes at the numeric-class level (int vs float vs decimal), checked
    on the frame the query function returns, before any action on it.

    This is the same ``type_mismatches`` check ``compare`` makes before it
    hashes; here it runs without the hash and names the column. An entry
    whose construction itself runs Spark jobs (the txn, streaming and
    source families, solvers, distributed moments) pays them here too;
    its tracked persists are released straight after.
    """
    fn, sql = catalog.CATALOG[name]
    try:
        conn.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception as exc:  # state-dependent oracle — covered in compare()
        pytest.skip(f"oracle not plannable standalone: {str(exc)[:120]}")
    try:
        df = fn(spark, sf_dir)
        mism = type_mismatches(df, conn, sql)
    finally:
        release_query_caches()
    assert not mism, (
        f"{name}: numeric-class mismatch vs oracle {mism} — the driver's "
        "pandas path renders int64 as '32869' but float64 as '32869.0'; "
        "CAST the oracle (or the Spark column) so both sides agree"
    )


def test_compare_rejects_bigint_against_double_oracle(spark, conn):
    df = spark.createDataFrame([(32869, "a")], "span_s bigint, tag string")
    ok, msg = compare(df, conn, "SELECT 32869.0::DOUBLE AS span_s, 'a' AS tag")
    assert not ok
    assert "int/float type mismatch" in msg and "span_s" in msg
    assert "tag" not in msg


def test_compare_rejects_hugeint_oracle(spark, conn):
    df = spark.createDataFrame([(3,)], "total bigint")
    ok, msg = compare(
        df, conn, "SELECT SUM(x::BIGINT) AS total FROM (VALUES (1), (2)) t(x)"
    )
    assert not ok
    assert "HUGEINT" in msg and "total" in msg
