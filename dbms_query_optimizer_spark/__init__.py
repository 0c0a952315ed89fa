"""dbms_query_optimizer_spark — a PySpark-native analytics engine.

A ground-up re-expression of the capabilities of the reference repo
Yanxiang-Zhou/DBMS-query-optimizer (BuzzDB query-optimization lab: a
scanned row-store, equi-width histogram statistics, Selinger-style
cost-based join ordering) as an idiomatic Apache Spark engine, plus the
large-scale data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) the reference implies at 100 TB
scale.

Layout
------
- ``session``   : SparkSession factory tuned for local testing and
                  cluster-scale defaults (AQE, Arrow, shuffle sizing).
- ``engine``    : table registry (name -> DataFrame, primary key) — the
                  Spark analog of the reference's ``Catalog.txt``.
- ``plans``     : pure-Python statistics (IntHistogram / TableStats
                  estimation formulas), the Selinger DP join orderer,
                  and the plan emitter that folds an ordered join list
                  into a composed DataFrame.
- ``operators`` : the query/operator catalog — relational surface,
                  dedup family, similarity search, text analysis,
                  multimodal plumbing.
- ``sources``   : readers (parquet/csv/json) with explicit schemas.
- ``functions`` : reusable Column-level helpers (cosine similarity,
                  tokenization, n-grams, hashing) built on
                  ``pyspark.sql.functions`` — JVM-side, codegen-able.
- ``streaming`` : event-time windowed aggregation, watermarks, and
                  stateful operators over Structured Streaming.
"""

__version__ = "0.1.0"


def _register_pickle_by_value() -> None:
    """Ship this package's code inside every serialized UDF closure.

    The driver harness may start its SparkSession from a process where
    ``/root/repo`` is only on ``sys.path`` of the driver, not of the
    spawned Python workers — a by-reference pickle of any function in
    this package would then fail with ModuleNotFoundError executor-side.
    Registering the package with (py)spark's cloudpickle makes every
    closure self-contained, independent of worker PYTHONPATH.
    """
    import sys

    try:
        from pyspark import cloudpickle
    except ImportError:  # pragma: no cover - pyspark always present here
        return
    cloudpickle.register_pickle_by_value(sys.modules[__name__])


_register_pickle_by_value()
