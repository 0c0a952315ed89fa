"""Schema-explicit readers for ORC / CSV / JSON.

Scale rules encoded here:

- **Never infer schemas.** CSV/JSON inference is a full extra pass over the
  input — at 100 TB that is a 100 TB job before the real one starts. Every
  reader takes an explicit ``StructType``. The catalog's roundtrip queries
  pass the schema of the frame they wrote, which is the schema the
  source table's parquet footers carry; no hand-typed copy of a table
  schema is kept.
- **Columnar files carry their own schema**, but passing one anyway pins
  the contract: a drifted producer fails fast at analysis time instead of
  corrupting results ("schema-on-write wins"). Parquet needs no wrapper:
  ``spark.read.schema(s).parquet(path)``.
- **Pushdown survives.** Explicit schemas keep the vectorized ORC
  reader + filter/column pushdown active; CSV/JSON readers still prune
  columns at parse time when a select follows the load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan (vectorized, predicate-pushdown-capable like parquet);
    optional schema pins the contract."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    timestamp_format: str | None = None,
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with a mandatory schema — no inference pass.

    ``FAILFAST`` by default: a malformed row at 100 TB should stop the job,
    not silently become NULLs (``PERMISSIVE``) a week before anyone notices.
    Pass ``mode="DROPMALFORMED"`` for lossy ingest pipelines that log drops.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "FAILFAST",
) -> DataFrame:
    """JSON-lines scan with a mandatory schema — no inference pass.

    With an explicit schema Spark parses only the referenced fields (Jackson
    skips the rest), so wide documents with narrow projections stay cheap.
    """
    return spark.read.schema(schema).option("mode", mode).json(path)
