"""Column statistics: equi-width histograms + table-level cost/cardinality.

Re-expresses the reference's estimation layer (BuzzDB
``src/optimizer/table_stats.cc``) in Python with a distributed builder:

- :class:`IntHistogram` — constant-space equi-width histogram with the
  selectivity formulas of ``table_stats.cc:25-139`` (span =
  ``max(1.0, (1+max-min)/buckets)``, truncated bucket index, clamped last
  bucket, out-of-range adds ignored). One deliberate deviation, per
  SURVEY.md §4.1: the reference's GT partial-bucket term uses integer
  division (``table_stats.cc:96`` ``h / ntups``) which zeroes it; we use
  the fractional formula the comment intends. All reference test
  tolerances still hold.
- :class:`TableStats` — per-column stats with scan cost
  ``2 * io_cost_per_page * num_pages`` (``table_stats.cc:228-231``) and
  filtered cardinality ``int(selectivity * num_tuples)``
  (``table_stats.cc:243-246``).

The reference builds stats with two single-threaded scans
(``table_stats.cc:177-209``). :meth:`TableStats.from_dataframe` keeps the
two-pass structure but each pass is ONE distributed Spark job regardless of
column count: pass 1 aggregates min/max/count for every numeric column at
once; pass 2 computes every column's bucket counts in a single
explode + aggregate (map-side partial aggregation makes the shuffle
O(columns x buckets), independent of row count — safe at 100 TB).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame

NUM_HIST_BINS = 100  # reference table_stats.h:53
PAGE_SIZE = 8196  # reference macros.h:19
DEFAULT_IO_COST = 100  # reference optimizer_test.cc:51


class PredicateType(Enum):
    """Comparison vocabulary (reference seq_scan.h:19-26)."""

    EQ = "="
    NE = "<>"
    LT = "<"
    LE = "<="
    GT = ">"
    GE = ">="


class IntHistogram:
    """Equi-width histogram over one integer-valued column.

    Constant space: ``buckets`` counters, nothing else — the reference's
    O(1)-space requirement (table_stats.cc:15-19).
    """

    def __init__(self, buckets: int, min_val: int, max_val: int):
        self.min_v = min_val
        self.max_v = max_val
        self.num_buckets = int(buckets)
        # Float span, floored at one unit (reference table_stats.cc:28).
        self.span = max(1.0, (1.0 + max_val - min_val) / buckets)
        self.ntups = 0
        self.counts = [0] * self.num_buckets

    def _bucket(self, val: float) -> int:
        # Truncated float division, clamped to the last bucket
        # (reference table_stats.cc:44).
        return min(int((val - self.min_v) / self.span), self.num_buckets - 1)

    def add_value(self, val: int) -> None:
        if val < self.min_v or val > self.max_v:
            return  # out-of-range adds ignored (table_stats.cc:41-43)
        self.counts[self._bucket(val)] += 1
        self.ntups += 1

    def set_bucket_counts(self, counts: dict[int, int]) -> None:
        """Bulk-load from a distributed groupBy(bucket).count() result."""
        for b, c in counts.items():
            b = min(int(b), self.num_buckets - 1)
            self.counts[b] += int(c)
            self.ntups += int(c)

    def estimate_selectivity(self, op: PredicateType, v: int) -> float:
        """Fraction of values satisfying ``value op v``.

        Formula structure mirrors table_stats.cc:61-139, with the
        fractional GT partial-bucket term (see module docstring).
        """
        if self.ntups == 0:
            return 0.0
        if op is PredicateType.EQ:
            if v < self.min_v or v > self.max_v:
                return 0.0
            h = self.counts[self._bucket(v)]
            return (h / self.span) / self.ntups
        if op is PredicateType.NE:
            return 1.0 - self.estimate_selectivity(PredicateType.EQ, v)
        if op is PredicateType.GT:
            # max-bound check first: on a degenerate histogram (min == max)
            # the reference's branch order (table_stats.cc:84-89) returns 1.0
            # for GT(max) — nothing can exceed the maximum, so 0 is correct.
            if v >= self.max_v:
                return 0.0
            if v <= self.min_v:
                return 1.0
            b = self._bucket(v)
            h = self.counts[b]
            # Fraction of bucket b strictly above v, computed fractionally
            # (the reference's int division at table_stats.cc:96 zeroes this
            # term). Integer domain: the bucket's last representable value is
            # right_edge-1, and v itself is excluded, hence the -1; clamped
            # because v can sit past the last integer of a wide bucket.
            frac = (self.min_v + (b + 1) * self.span - 1 - v) / self.span
            partial = (h / self.ntups) * min(1.0, max(0.0, frac))
            above = sum(self.counts[b + 1 :])
            return partial + above / self.ntups
        if op is PredicateType.GE:
            if v < self.min_v:
                return 1.0
            if v > self.max_v:
                return 0.0
            return self.estimate_selectivity(PredicateType.GT, v - 1)
        if op is PredicateType.LT:
            if v <= self.min_v:
                return 0.0
            if v >= self.max_v:
                return 1.0
            return 1.0 - self.estimate_selectivity(PredicateType.GE, v)
        if op is PredicateType.LE:
            if v < self.min_v:
                return 0.0
            if v > self.max_v:
                return 1.0
            return 1.0 - self.estimate_selectivity(PredicateType.GT, v)
        raise ValueError(f"unsupported predicate {op}")


class Int2DHistogram:
    """Equi-width GRID histogram over two integer columns: joint-distribution
    selectivity for conjunctive predicates.

    Extension beyond the reference (which has per-column histograms only,
    ``table_stats.cc:197-209``, forcing the independence assumption
    ``sel(A AND B) = sel(A)*sel(B)``): real tables have correlated columns
    — ids assigned in time order, price proportional to quantity — where
    the independence product is off by the correlation factor. The grid
    stores counts per (bucket_x, bucket_y) cell; a conjunction sums each
    cell's count weighted by the fraction of the cell each predicate
    covers (uniform-within-cell, the same assumption IntHistogram makes
    per bucket). Space is buckets² counters — still constant.
    """

    def __init__(
        self,
        buckets: int,
        min_x: int,
        max_x: int,
        min_y: int,
        max_y: int,
    ):
        self.num_buckets = int(buckets)
        self.min_x, self.max_x = min_x, max_x
        self.min_y, self.max_y = min_y, max_y
        self.span_x = max(1.0, (1.0 + max_x - min_x) / buckets)
        self.span_y = max(1.0, (1.0 + max_y - min_y) / buckets)
        self.counts: dict[tuple[int, int], int] = {}
        self.ntups = 0

    def set_cell_counts(self, cells: dict[tuple[int, int], int]) -> None:
        last = self.num_buckets - 1
        for (bx, by), c in cells.items():
            key = (min(int(bx), last), min(int(by), last))
            self.counts[key] = self.counts.get(key, 0) + int(c)
            self.ntups += int(c)

    @staticmethod
    def _interval(op: PredicateType, v: int, min_v: int, max_v: int):
        """Continuous [lo, hi) interval of values satisfying ``x op v``
        (integer semantics: EQ v covers [v, v+1))."""
        lo, hi = float(min_v), float(max_v) + 1.0
        if op is PredicateType.EQ:
            return float(v), float(v) + 1.0
        if op is PredicateType.LT:
            return lo, float(v)
        if op is PredicateType.LE:
            return lo, float(v) + 1.0
        if op is PredicateType.GT:
            return float(v) + 1.0, hi
        if op is PredicateType.GE:
            return float(v), hi
        raise ValueError(f"unsupported predicate for 2D estimation: {op}")

    def _cell_fraction(self, b: int, span: float, min_v: int, lo: float, hi: float) -> float:
        c_lo = min_v + b * span
        c_hi = c_lo + span
        return max(0.0, min(c_hi, hi) - max(c_lo, lo)) / span

    def estimate_conjunction(
        self, op_x: PredicateType, vx: int, op_y: PredicateType, vy: int
    ) -> float:
        """Selectivity of ``x op_x vx AND y op_y vy`` from the joint grid."""
        if self.ntups == 0:
            return 0.0
        lox, hix = self._interval(op_x, vx, self.min_x, self.max_x)
        loy, hiy = self._interval(op_y, vy, self.min_y, self.max_y)
        total = 0.0
        for (bx, by), c in self.counts.items():
            fx = self._cell_fraction(bx, self.span_x, self.min_x, lox, hix)
            if fx == 0.0:
                continue
            fy = self._cell_fraction(by, self.span_y, self.min_y, loy, hiy)
            if fy == 0.0:
                continue
            total += c * fx * fy
        return total / self.ntups

    @classmethod
    def from_dataframe(
        cls, df: DataFrame, col_x: str, col_y: str, buckets: int = 32
    ) -> "Int2DHistogram":
        """Two Spark jobs, like :meth:`TableStats.from_dataframe`: one
        min/max agg, one groupBy(cell).count() whose shuffle is at most
        buckets² rows after map-side combine — row-count independent."""
        from pyspark.sql import functions as F

        fx = F.floor(col_x).cast("long")
        fy = F.floor(col_y).cast("long")
        r = df.agg(
            F.min(fx).alias("min_x"),
            F.max(fx).alias("max_x"),
            F.min(fy).alias("min_y"),
            F.max(fy).alias("max_y"),
        ).collect()[0]
        hist = cls(buckets, r["min_x"], r["max_x"], r["min_y"], r["max_y"])
        bx = F.least(
            F.floor((fx.cast("double") - F.lit(float(hist.min_x))) / F.lit(hist.span_x)).cast("long"),
            F.lit(hist.num_buckets - 1),
        )
        by = F.least(
            F.floor((fy.cast("double") - F.lit(float(hist.min_y))) / F.lit(hist.span_y)).cast("long"),
            F.lit(hist.num_buckets - 1),
        )
        cells = (
            df.select(bx.alias("bx"), by.alias("by"))
            .where(F.col("bx").isNotNull() & F.col("by").isNotNull())
            .groupBy("bx", "by")
            .count()
            .collect()
        )
        hist.set_cell_counts({(r2["bx"], r2["by"]): r2["count"] for r2 in cells})
        return hist


@dataclass
class TableStats:
    """Per-table statistics: tuple count, page count, per-column histograms."""

    num_tuples: int
    num_pages: int
    io_cost_per_page: int = DEFAULT_IO_COST
    histograms: dict[str, IntHistogram] = field(default_factory=dict)
    min_values: dict[str, float] = field(default_factory=dict)
    max_values: dict[str, float] = field(default_factory=dict)

    # -- estimation formulas (reference numerics) ---------------------------

    def estimate_scan_cost(self) -> float:
        """2 x io_cost x pages — the two-pass scan model (table_stats.cc:228-231)."""
        return 2.0 * self.io_cost_per_page * self.num_pages

    def estimate_table_cardinality(self, selectivity_factor: float) -> int:
        """int(sel x ntups) — floor semantics kept because the reference's
        tests assert exact values (optimizer_test.cc:311-319)."""
        return int(selectivity_factor * self.num_tuples)

    def estimate_selectivity(self, column: str, op: PredicateType, constant: int) -> float:
        if column not in self.histograms:
            raise ValueError(
                f"no histogram for column {column!r} (histograms cover numeric "
                f"columns only; available: {sorted(self.histograms)})"
            )
        return self.histograms[column].estimate_selectivity(op, constant)

    # -- distributed builder ------------------------------------------------

    @classmethod
    def from_dataframe(
        cls, df: DataFrame, columns: list[str] | None = None
    ) -> "TableStats":
        """Build stats with two Spark jobs (the reference's two scans,
        distributed).

        Job 1: global count + per-column min/max (single partial+final agg).
        Job 2: per-column bucket counts — each numeric column's bucket index
        is computed JVM-side, exploded as (column_ordinal, bucket) pairs and
        counted in one hash aggregate. Doubles are floored to integers
        first, mirroring the reference's int-only histogram domain
        (table_stats.cc:206 casts every field to int). Pages cost
        ``DEFAULT_IO_COST`` each and histograms have ``NUM_HIST_BINS``
        buckets, the reference's constants.
        """
        from pyspark.sql import functions as F

        numeric = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("integer", "long", "short", "byte", "double", "float")
        ]
        if columns is not None:
            numeric = [c for c in numeric if c in columns]

        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in numeric:
            aggs.append(F.min(F.floor(c).cast("long")).alias(f"min_{c}"))
            aggs.append(F.max(F.floor(c).cast("long")).alias(f"max_{c}"))
        row1 = df.agg(*aggs).collect()[0]
        n = row1["__n"]

        # page count from the scan's input size, using the reference's page
        # geometry so the cost model is comparable
        input_bytes = _input_size_bytes(df)
        num_pages = max(1, math.ceil(input_bytes / PAGE_SIZE))

        stats = cls(num_tuples=int(n), num_pages=num_pages)
        hists: dict[str, IntHistogram] = {}
        for c in numeric:
            mn, mx = row1[f"min_{c}"], row1[f"max_{c}"]
            if mn is None:
                continue
            stats.min_values[c] = mn
            stats.max_values[c] = mx
            hists[c] = IntHistogram(NUM_HIST_BINS, int(mn), int(mx))

        if hists and n > 0:
            cols = list(hists)
            # one (ordinal, bucket) pair per column per row, counted in a
            # single hash aggregate; nulls dropped per-column
            bucket_cols = []
            for c in cols:
                h = hists[c]
                b = F.least(
                    F.floor((F.floor(F.col(c)).cast("double") - F.lit(float(h.min_v))) / F.lit(h.span)).cast("long"),
                    F.lit(h.num_buckets - 1),
                )
                bucket_cols.append(b)
            pairs = (
                df.select(F.posexplode(F.array(*bucket_cols)).alias("col_idx", "bucket"))
                .where(F.col("bucket").isNotNull())
                .groupBy("col_idx", "bucket")
                .count()
                .collect()
            )
            per_col: dict[int, dict[int, int]] = {}
            for r in pairs:
                per_col.setdefault(r["col_idx"], {})[r["bucket"]] = r["count"]
            for i, c in enumerate(cols):
                hists[c].set_bucket_counts(per_col.get(i, {}))

        stats.histograms = hists
        return stats


def _input_size_bytes(df: DataFrame) -> int:
    """Bytes the plan would scan, from Catalyst's own size estimate."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return PAGE_SIZE
