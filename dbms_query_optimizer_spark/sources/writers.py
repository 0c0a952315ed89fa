"""Partition-aware sinks for parquet / CSV / JSON.

The reference's write path is per-record TID writes into slotted pages
(reference: ``src/heap/heap_file.cc:151-257``); the Spark-native equivalent
is an atomic job-level write (SURVEY.md §7.5). Scale rules encoded here:

- **File count is a first-class output property.** A 1000-executor job
  naively writes one file per task; downstream readers then pay per-file
  open cost. ``target_files`` coalesces (narrow, no shuffle) when shrinking.
- **``partition_by`` turns predicates into directory pruning**: a reader
  filtering on the partition column skips whole directories — the
  coarse-grained analog of parquet row-group pruning.
- **Parquet is the default interchange format** (columnar, typed, splittable,
  min/max stats per row group); CSV/JSON sinks exist for interop only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _shape(df: DataFrame, target_files: int | None) -> DataFrame:
    if target_files is not None:
        # coalesce, not repartition: shrinking file count must not add a
        # shuffle. Callers needing MORE files than tasks repartition upstream.
        return df.coalesce(target_files)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
    compression: str = "snappy",
) -> None:
    writer = _shape(df, target_files).write.mode(mode).option(
        "compression", compression
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    target_files: int | None = None,
) -> None:
    """INSERT-OVERWRITE semantics at partition granularity: only the
    partitions PRESENT in ``df`` are replaced; every other partition of
    the table is left untouched (``partitionOverwriteMode=dynamic``, set
    per-write so the session default stays static).

    The routine maintenance primitive for a 100 TB date-partitioned
    table: a daily backfill rewrites yesterday's directory atomically-ish
    without listing, reading, or rewriting the other ~3650 partitions —
    with static overwrite (Spark's default) the same call would DELETE
    the whole table first.
    """
    (
        _shape(df, target_files)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    target_files: int | None = None,
) -> None:
    (
        _shape(df, target_files)
        .write.mode(mode)
        .option("header", str(header).lower())
        .csv(path)
    )


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    _shape(df, target_files).write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    target_files: int | None = None,
    compression: str = "zlib",
) -> None:
    """ORC sink — the other columnar format Spark bundles natively; same
    job-atomic commit protocol as parquet."""
    (
        _shape(df, target_files)
        .write.mode(mode)
        .option("compression", compression)
        .orc(path)
    )


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Range-clustered parquet: the row-group-pruning complement to
    ``partition_by``.

    ``repartitionByRange`` assigns disjoint sort-key ranges to files and
    ``sortWithinPartitions`` orders rows inside each, so every parquet
    row group covers a narrow min/max band of the sort key. A reader
    filtering on that key then skips whole files (footer min/max) and
    whole row groups — the fine-grained pruning layer below directory
    partitioning. Directory partitioning handles low-cardinality keys
    (a directory per value); range-clustering handles high-cardinality
    keys (timestamps, ids) where one-directory-per-value is impossible.

    At 100 TB: cluster fact tables by their dominant range-filter column
    (e.g. event time); the write costs one range-shuffle, every
    subsequent time-windowed scan reads only the matching band.
    """
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def zorder_column(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (z-order) key over numeric columns: each column is min/max
    scaled to ``bits`` integer buckets, then the bucket bits are
    interleaved. Rows close in z are close in EVERY input dimension, so
    sorting by z gives parquet min/max locality on all of them at once —
    what a single-column sort cannot do for the second column.

    Returns (df_with_scaled_stats, zcol): the frame gains broadcast
    min/max stats columns; ``zcol`` is the interleaved key expression.
    All bit math is codegen'd JVM expressions (shiftleft / bitwiseOR) —
    no Python in the path.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__max_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    n_buckets = (1 << bits) - 1
    scaled = []
    for c in cols:
        rng = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        frac = F.when(rng > 0, (F.col(c).cast("double") - F.col(f"__min_{c}")) / rng).otherwise(F.lit(0.0))
        scaled.append(F.floor(frac * n_buckets).cast("long"))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, s in enumerate(scaled):
            pos = bit * len(scaled) + i
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, bit).bitwiseAND(F.lit(1)), pos)
            )
    return out, z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 16,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Z-order-clustered parquet: multi-dimensional data skipping.

    ``write_sorted_parquet`` gives tight min/max bands on ONE key; range
    filters on any other column still read every file. Interleaving the
    bucket bits of several columns into one Morton key and range-writing
    on THAT gives every file a bounded min/max band on ALL the z-ordered
    columns simultaneously — a filter on any one of them skips most
    files from the footer alone. This is the lakehouse `OPTIMIZE ZORDER
    BY` layout expressed with stock Spark operators: one stats pass
    (broadcast back), codegen'd bit interleave, one range shuffle.
    """
    out, z = zorder_column(df, cols, bits)
    (
        out.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )
