"""Source/sink connectors: schema-explicit readers and partitioned writers.

The reference's only "connector" is raw numbered segment files opened by id
(reference: ``src/buffer/buffer_manager.cc:80-85``,
``src/storage/posix_file.cc``); this package is the Spark-native completion
of that category (SURVEY.md §2.2): Parquet / CSV / JSON readers that never
run a schema-inference scan, and writers that control output partitioning.
"""

from .readers import TESTDATA_SCHEMAS, read_csv, read_json, read_orc, read_parquet
from .writers import (
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    write_sorted_parquet,
    write_zorder_parquet,
    zorder_column,
)

__all__ = [
    "TESTDATA_SCHEMAS",
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
    "write_csv",
    "write_orc",
    "write_json",
    "write_parquet",
    "write_sorted_parquet",
    "write_zorder_parquet",
    "zorder_column",
]
