"""DuckDB oracle comparison mirroring the driver's check.

Compare = row count + column-name set + order-insensitive value hash with
columns sorted by name. BOTH sides are canonicalized through pandas —
Spark via ``toPandas()``, the oracle via ``.df()`` — because that is the
grading driver's path. This symmetry is what makes the check faithful:

- A NULLable BIGINT column promotes to float64 on BOTH sides, so NULL
  handling needs no special-casing (the asof_join_left case).
- An int-vs-float TYPE disagreement (Spark BIGINT vs oracle DOUBLE —
  the r5 twap_daily epoch() defect, cousin of r4's HUGEINT class) now
  renders "32869" vs "32869.0" and FAILS locally, exactly as it fails
  at the driver. No int-collapse is applied — the previous collapse
  (commit 18bf18a) made the local gate structurally blind to this class.
- ``type_mismatches`` additionally flags the class statically (Spark
  dtypes vs DuckDB DESCRIBE) so the failure message names the column.

Floats are normalized (%.9g) so engine summation-order noise below our
explicit ROUND() calls can't flip a hash; integral floats keep a ``.0``
marker so they can never alias an int64 rendering; NaT/NaN/None all
normalize to "".
"""

from __future__ import annotations

import decimal
import numbers
import os
import re
from datetime import date, datetime

import duckdb
import numpy as np
import pandas as pd

from dbms_query_optimizer_spark.engine import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):  # a directory-shaped table: read its part files
            path += "/*.parquet"
        conn.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return conn


def _norm_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (str, bytes, bytearray)):
        return str(v)
    if pd.isna(v):  # scalar NaN / NaT (arrays and strings handled above)
        return ""
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, decimal.Decimal):
        # pandas renders DuckDB DECIMAL(p<=15) as float64; route a Spark
        # Decimal through the same renderer (no catalog query emits
        # decimals today — the type gate keeps it that way)
        v = float(v)
    if isinstance(v, (float, np.floating)):
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        s = f"{float(v):.9g}"
        # a non-integral float >= ~1e9 can render digits-only under %.9g
        # (123456789.5 -> '123456790') and alias an int64 cell; keep the
        # float marker so int-vs-float type defects always hash-differ
        return s if ("." in s or "e" in s or "n" in s) else s + ".0"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, datetime):
        # DATE columns surface as midnight Timestamps through pandas on
        # either side depending on engine version; normalize midnight
        # to the date form so both render identically
        s = v.isoformat(sep=" ").replace("+00:00", "")
        return s[:-9] if s.endswith(" 00:00:00") else s
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def normalize_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def hugeint_columns(conn: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Output columns DuckDB types as HUGEINT/INT128 (plan-only, no execution).

    The grading driver canonicalizes oracle results through pandas
    (``.df()``), where HUGEINT renders as float64 and the value hash flips
    against Spark's int64 — the exact class that failed tpch_q12 in round 4.
    """
    desc = conn.execute(f"DESCRIBE ({sql})").fetchall()
    return [c for c, t, *_ in desc if _pandas_lossy_type(t)]


def _pandas_lossy_type(t: str) -> bool:
    """True for DuckDB output types the grading driver's pandas
    canonicalization mangles: HUGEINT/INT128 and DECIMAL(p>15) render as
    float64 with precision loss (the tpch_q12 / table_checksum classes),
    and LIST/STRUCT/MAP cells are unhashable in the pandas row sort (the
    r1 agg_array_ordered traceback) — serialize arrays to joined strings
    instead."""
    tu = t.upper()
    if "HUGEINT" in tu or "INT128" in tu:
        return True
    if "[]" in tu or tu.startswith(("STRUCT", "MAP", "LIST", "UNION")):
        return True
    m = re.match(r"DECIMAL\((\d+)", tu)
    return bool(m) and int(m.group(1)) > 15


_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "HUGEINT",
}


def _numeric_class_spark(t: str) -> str:
    if t in _SPARK_INT:
        return "int"
    if t in ("float", "double"):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "other"


def _numeric_class_duck(t: str) -> str:
    tu = t.upper()
    if tu in _DUCK_INT or "INT128" in tu:
        return "int"
    if tu in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if tu.startswith("DECIMAL"):
        return "decimal"
    return "other"


def type_mismatches(
    spark_df, conn: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, str, str]]:
    """Numeric-class disagreements (int vs float vs decimal) between the
    Spark schema and DuckDB's DESCRIBE of the oracle.

    This is the static form of the defect the pandas canonicalization
    turns into a runtime hash flip: Spark BIGINT renders "32869" while an
    oracle DOUBLE renders "32869.0" (the r5 twap_daily epoch() class).
    Returns [(column, spark_type, duck_type), ...] — empty means safe.
    Only both-numeric disagreements are flagged; numeric-vs-string pairs
    are left to the value hash.
    """
    desc = conn.execute(f"DESCRIBE ({sql})").fetchall()
    duck = {c: t for c, t, *_ in desc}
    out = []
    for c, t in spark_df.dtypes:
        if c not in duck:
            continue
        a, b = _numeric_class_spark(t), _numeric_class_duck(duck[c])
        if a != b and a != "other" and b != "other":
            out.append((c, t, duck[c]))
    return out


def release_query_caches() -> None:
    """Drop any frames a query function persisted via cache.track_persist.

    Called after the action that consumed a query's result so cached
    intermediates never accumulate across the 330-query sweep."""
    from dbms_query_optimizer_spark.cache import release_tracked

    release_tracked()


def compare(spark_df, conn: duckdb.DuckDBPyConnection, sql: str) -> tuple[bool, str]:
    # release on EVERY exit, including the early type-check failures: a
    # query function that ran jobs while building its frame has already
    # materialized its tracked persists by the time compare() is called
    try:
        return _compare_inner(spark_df, conn, sql)
    finally:
        release_query_caches()


def _compare_inner(
    spark_df, conn: duckdb.DuckDBPyConnection, sql: str
) -> tuple[bool, str]:
    huge = hugeint_columns(conn, sql)
    if huge:
        return False, (
            f"oracle emits HUGEINT columns {huge}: the driver's pandas "
            "canonicalization renders these float64 and the hash flips — "
            "CAST(... AS BIGINT) in the oracle SQL"
        )
    mism = type_mismatches(spark_df, conn, sql)
    if mism:
        return False, (
            f"int/float type mismatch vs oracle: {mism} — the driver's "
            "pandas canonicalization renders these differently (e.g. "
            "'32869' vs '32869.0') and the hash flips; CAST one side"
        )
    s_pdf = spark_df.toPandas()
    s_cols = list(s_pdf.columns)
    s_rows = list(s_pdf.itertuples(index=False, name=None))
    odf = conn.execute(sql).df()
    d_cols = list(odf.columns)
    d_rows = list(odf.itertuples(index=False, name=None))

    if sorted(s_cols) != sorted(d_cols):
        return False, f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count differs: spark={len(s_rows)} duck={len(d_rows)}"
    sn = normalize_rows(s_cols, s_rows)
    dn = normalize_rows(d_cols, d_rows)
    if sn != dn:
        diff_s = [r for r in sn if r not in set(dn)][:3]
        diff_d = [r for r in dn if r not in set(sn)][:3]
        return False, f"values differ; spark-only={diff_s} duck-only={diff_d}"
    return True, "ok"
