"""The frozenset Selinger DP that ``JoinOptimizer.order_joins`` replaced,
kept as the reference the bitmask DP is checked against
(tests/test_planner_properties.py), and the greedy orderer that rescans
its plan for a PK join on every candidate, which ``order_joins_greedy``'s
running PK flag replaced.

Same recurrence (reference join_optimizer.cc:108-137, 195-292): every
subset of the joins, by size, extends the memoized best plan of
``subset - {j}`` by each ``j`` and keeps the cheapest. Candidates inside a
subset are tried in input order, so cost ties go to the earliest join.
"""

from __future__ import annotations

from itertools import combinations

from dbms_query_optimizer_spark.plans.planner import CostCard, JoinOptimizer, LogicalJoinNode
from dbms_query_optimizer_spark.plans.stats import TableStats


def reference_order_joins(
    joins: list[LogicalJoinNode],
    pk_columns: dict[str, str | None],
    stats: dict[str, TableStats],
    sels: dict[str, float],
) -> tuple[list[LogicalJoinNode], float, dict[frozenset, CostCard]]:
    """Return (best plan, its cost, memo of subset -> best CostCard)."""
    order = list(dict.fromkeys(joins))
    memo: dict[frozenset, CostCard] = {}
    best_overall: CostCard | None = None
    for size in range(1, len(joins) + 1):
        for subset in map(frozenset, combinations(joins, size)):
            best: CostCard | None = None
            best_cost = float("inf")
            for j in (j for j in order if j in subset):
                cc = _extend(j, subset, best_cost, memo, pk_columns, stats, sels)
                if cc is not None:
                    best_cost = cc.cost
                    best = cc
            if best is not None:
                memo[subset] = best
                if size == len(joins):
                    best_overall = best
    if best_overall is None:
        return [], 0.0, memo
    return best_overall.plan, best_overall.cost, memo


def _touches_pk(plan: list[LogicalJoinNode], pk_columns: dict[str, str | None]) -> bool:
    """Does any join of ``plan`` use a primary key column on either side?
    (reference has_Pkey, join_optimizer.cc:311-317)."""
    return any(
        pk_columns.get(p.left_table) == p.left_field
        or pk_columns.get(p.right_table) == p.right_field
        for p in plan
    )


def _extend(j, join_set, best_cost_so_far, memo, pk_columns, stats, sels):
    """Cost of joining ``j`` onto the best plan for ``join_set - {j}``, or
    None on a cross product or when it cannot beat ``best_cost_so_far``."""

    def scan(table: str) -> tuple[float, int]:
        return (
            stats[table].estimate_scan_cost(),
            stats[table].estimate_table_cardinality(sels.get(table, 1.0)),
        )

    def does_join(plan: list[LogicalJoinNode], table: str) -> bool:
        return any(table in (p.left_table, p.right_table) for p in plan)

    rest = frozenset(join_set - {j})
    left_pkey = pk_columns.get(j.left_table) == j.left_field
    right_pkey = pk_columns.get(j.right_table) == j.right_field
    t1_cost, t1_card = scan(j.left_table)
    t2_cost, t2_card = scan(j.right_table)
    prev_best: list[LogicalJoinNode] = []
    if rest:
        cached = memo.get(rest)
        if cached is None or not cached.plan:
            return None
        prev_best = cached.plan
        if does_join(prev_best, j.left_table):
            t1_cost, t1_card = cached.cost, cached.card
            left_pkey = _touches_pk(prev_best, pk_columns)
        elif does_join(prev_best, j.right_table):
            t2_cost, t2_card = cached.cost, cached.card
            right_pkey = _touches_pk(prev_best, pk_columns)
        else:
            return None

    cost1 = JoinOptimizer.estimate_join_cost(t1_card, t2_card, t1_cost, t2_cost)
    cost2 = JoinOptimizer.estimate_join_cost(t2_card, t1_card, t2_cost, t1_cost)
    if cost2 < cost1:
        j, cost1 = j.swap_inner_outer(), cost2
        t1_card, t2_card = t2_card, t1_card
        left_pkey, right_pkey = right_pkey, left_pkey
    if cost1 >= best_cost_so_far:
        return None
    card = JoinOptimizer.estimate_join_cardinality(j.op, t1_card, t2_card, left_pkey, right_pkey)
    return CostCard(cost=cost1, card=card, plan=[*prev_best, j])


def reference_order_joins_greedy(
    joins: list[LogicalJoinNode],
    pk_columns: dict[str, str | None],
    stats: dict[str, TableStats],
    sels: dict[str, float],
) -> tuple[list[LogicalJoinNode], float]:
    """Return (greedy plan, its cost): seed with the cheapest join in either
    orientation, then attach the connected join that is cheapest with the
    plan so far as the outer operand; the earliest join wins a tie."""

    def scan(table: str) -> tuple[float, int]:
        return (
            stats[table].estimate_scan_cost(),
            stats[table].estimate_table_cardinality(sels.get(table, 1.0)),
        )

    def is_pk(table: str, field: str) -> bool:
        return pk_columns.get(table) == field

    best = None
    for orig in joins:
        for j in (orig, orig.swap_inner_outer()):
            (c1, k1), (c2, k2) = scan(j.left_table), scan(j.right_table)
            cost = JoinOptimizer.estimate_join_cost(k1, k2, c1, c2)
            if best is None or cost < best[0]:
                card = JoinOptimizer.estimate_join_cardinality(
                    j.op,
                    k1,
                    k2,
                    is_pk(j.left_table, j.left_field),
                    is_pk(j.right_table, j.right_field),
                )
                best = (cost, card, j, orig)
    if best is None:
        return [], 0.0
    cost, card, j, orig = best
    plan, used = [j], [orig]
    while best is not None and len(plan) < len(joins):
        joined = {t for p in plan for t in (p.left_table, p.right_table)}
        best = None
        for orig in joins:
            if orig in used:
                continue
            if orig.left_table in joined:
                j = orig
            elif orig.right_table in joined:
                j = orig.swap_inner_outer()
            else:
                continue
            c2, k2 = scan(j.right_table)
            step = JoinOptimizer.estimate_join_cost(card, k2, cost, c2)
            if best is None or step < best[0]:
                step_card = JoinOptimizer.estimate_join_cardinality(
                    j.op,
                    card,
                    k2,
                    _touches_pk(plan, pk_columns),
                    is_pk(j.right_table, j.right_field),
                )
                best = (step, step_card, j, orig)
        if best is not None:
            cost, card, j, orig = best
            plan.append(j)
            used.append(orig)
    return plan, cost
