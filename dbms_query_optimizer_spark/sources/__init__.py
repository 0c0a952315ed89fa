"""Source/sink connectors: schema-explicit readers and partitioned writers.

The reference's only "connector" is raw numbered segment files opened by id
(reference: ``src/buffer/buffer_manager.cc:80-85``,
``src/storage/posix_file.cc``); this package is the Spark-native completion
of that category (SURVEY.md §2.2): ORC / CSV / JSON readers that never
run a schema-inference scan, and writers that control output partitioning.
The readers take their schema from the caller; the catalog's roundtrips
pass the written frame's own schema (the source parquet footers'), so no
second copy of a table schema is kept. Testdata tables themselves are
read by ``engine.load_tables`` / ``engine.events_stream``.
"""

from .readers import read_csv, read_json, read_orc
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
    "read_csv",
    "read_json",
    "read_orc",
    "write_csv",
    "write_orc",
    "write_json",
    "write_parquet",
    "write_sorted_parquet",
    "write_zorder_parquet",
    "zorder_column",
]
