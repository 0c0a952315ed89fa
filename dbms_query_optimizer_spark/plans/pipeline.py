"""End-to-end cost-based pipeline: stats -> Selinger DP -> emitted DataFrame.

This is the full reference lifecycle (SURVEY.md §3) in one call:
``TableStats`` built by Spark jobs (entry point 1), ``order_joins`` on the
driver (entry point 2), and the emitter producing the executable DataFrame
— the piece the reference leaves abstract. Filters travel as SQL predicate
text (one ANDed predicate per table), so no Column is built on the way.

Filter selectivities are estimated from our own histograms, exactly as the
reference's caller would do with ``TableStats::estimate_selectivity``
(table_stats.cc:262-268) before passing them into ``order_joins``
(optimizer_test.cc:452-462 insists they are inputs, not recomputed).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from .emitter import emit_plan, quote
from .planner import JoinOptimizer, LogicalJoinNode
from .stats import PredicateType, TableStats


@dataclass(frozen=True)
class FilterSpec:
    """A ``column op integer-constant`` base-table filter — the predicate
    shape the reference's selectivity estimator supports (int-only domain,
    SURVEY §1.2)."""

    table: str
    column: str
    op: PredicateType
    constant: int

    def sql(self) -> str:
        return f"{quote(self.column)} {self.op.value} {self.constant}"


@dataclass
class PlannedQuery:
    df: DataFrame
    plan: list[LogicalJoinNode]
    filter_selectivities: dict[str, float]
    stats: dict[str, TableStats]


# (session, frame semantic hash, histogram columns) -> TableStats. A real
# engine's ANALYZE statistics live in the catalog across queries (the
# reference holds one TableStats per segment for the process lifetime,
# table_stats.cc:156); rebuilding them per planned query would be 2 Spark
# jobs per table per call. semanticHash keys on the LOGICAL plan, so the
# same parquet path at a different sf_dir — or any transformation change —
# misses the cache. Keyed by the session OBJECT so a recreated session
# never serves stale statistics.
_STATS_CACHE: dict[tuple, TableStats] = {}


def _cached_stats(df: DataFrame, columns: list[str]) -> TableStats:
    key = (df.sparkSession, df.semanticHash(), tuple(sorted(columns)))
    hit = _STATS_CACHE.get(key)
    if hit is None:
        hit = _STATS_CACHE[key] = TableStats.from_dataframe(df, columns=columns)
    return hit


def plan_and_emit(
    tables: dict[str, DataFrame],
    joins: list[LogicalJoinNode],
    filters: list[FilterSpec] | None = None,
    pk_columns: dict[str, str | None] | None = None,
    stats: dict[str, TableStats] | None = None,
) -> PlannedQuery:
    """Optimize a join graph and return the executable DataFrame + the plan.

    ``stats`` may be passed in (pre-analyzed); otherwise built here with two
    Spark jobs per involved table.
    """
    filters = filters or []
    involved = {t for j in joins for t in (j.left_table, j.right_table)}

    if stats is None:
        # Histograms feed only filter-selectivity estimation; join cardinality
        # uses row counts + PK metadata. Building histograms for just the
        # filtered columns turns the per-table stats pass into count+min/max
        # plus one narrow bucket job — on a wide fact table that's the
        # difference between scanning 1 column and scanning all of them.
        filtered_cols: dict[str, list[str]] = {name: [] for name in involved}
        for spec in filters:
            filtered_cols.setdefault(spec.table, []).append(spec.column)
        stats = {
            name: _cached_stats(tables[name], filtered_cols[name])
            for name in involved
        }

    # per-table combined filter selectivity from our own histograms
    sels: dict[str, float] = {name: 1.0 for name in involved}
    predicates: dict[str, list[str]] = {}
    for spec in filters:
        sels[spec.table] *= stats[spec.table].estimate_selectivity(
            spec.column, spec.op, spec.constant
        )
        predicates.setdefault(spec.table, []).append(spec.sql())

    plan = JoinOptimizer(joins, pk_columns or {}).order_joins(stats, sels)
    df = emit_plan(
        tables, plan, filters={t: " AND ".join(p) for t, p in predicates.items()}
    )
    return PlannedQuery(df=df, plan=plan, filter_selectivities=sels, stats=stats)
