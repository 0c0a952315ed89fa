"""Property-based planner invariants (hypothesis): for EVERY random
connected join graph, both search strategies must return valid connected
left-deep orders under the reference cost model, and the DP (optimal over
left-deep plans) must never cost more than the greedy fallback."""

from __future__ import annotations

import random

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from dbms_query_optimizer_spark.plans.cbo_compare import (
    reference_cost_of_order,
    table_order_of_plan,
)
from dbms_query_optimizer_spark.plans.planner import JoinOptimizer, LogicalJoinNode
from dbms_query_optimizer_spark.plans.stats import PredicateType, TableStats

from .planner_reference import reference_order_joins, reference_order_joins_greedy

EQ = PredicateType.EQ


@st.composite
def join_graphs(draw, with_pks: bool = True, wide: bool = False):
    """Random connected join graph: a random spanning tree over 3-7 tables
    plus up to 2 extra (cycle) edges, random stats, random PK-ness.

    ``wide`` draws past that: up to 10 joins over tables whose sizes
    repeat (so costs tie), any comparison op, a PK or non-PK column on
    either side of every edge, and sometimes a second component that no
    join connects to the first."""
    n_tables = draw(st.integers(min_value=2 if wide else 3, max_value=9 if wide else 7))
    seed = draw(st.integers(min_value=0, max_value=10_000))
    rng = random.Random(seed)
    tables = [f"t{i}" for i in range(n_tables)]
    if wide:
        sizes = [(1_000, 10), (5_000, 50), (20_000, 200)]
        stats = {
            t: TableStats(*rng.choice(sizes), io_cost_per_page=100) for t in tables
        }
    else:
        stats = {
            t: TableStats(
                num_tuples=rng.randint(10, 200_000),
                num_pages=rng.randint(1, 2_000),
                io_cost_per_page=100,
            )
            for t in tables
        }
    pk = {t: ("id" if with_pks and rng.random() < 0.7 else None) for t in tables}

    def edge(a: str, b: str, left_field: str, right_field: str) -> LogicalJoinNode:
        if not wide:
            return LogicalJoinNode(a, b, left_field, right_field, EQ)
        fields = ["id", "fk"]
        ops = [EQ, EQ, EQ, *PredicateType]
        return LogicalJoinNode(a, b, rng.choice(fields), rng.choice(fields), rng.choice(ops))

    joins = []
    for i in range(1, n_tables):  # spanning tree: connect i to an earlier node
        other = tables[rng.randrange(i)]
        joins.append(edge(other, tables[i], "id", "fk"))
    for k in range(rng.randint(0, 2)):  # cycle edges (unique field names;
        # equal LogicalJoinNodes are one join to the DP, which de-duplicates)
        a, b = rng.sample(tables, 2)
        joins.append(edge(a, b, f"fk{k + 2}", f"fk{k + 3}"))
    if wide and rng.random() < 0.25:  # a second component
        stats["x0"] = stats["x1"] = TableStats(*rng.choice(sizes), io_cost_per_page=100)
        pk["x0"] = pk["x1"] = "id"
        joins.append(edge("x0", "x1", "id", "fk"))
    joins = joins[:10] if wide else joins
    rng.shuffle(joins)
    sels = {t: rng.choice([1.0, 0.5, 0.1]) for t in stats}
    return joins, stats, sels, pk


@settings(max_examples=100, deadline=None)
@given(join_graphs())
def test_both_strategies_produce_valid_connected_orders(graph):
    """Every random graph: both searches use every join exactly once and the
    resulting order is connected (finite cost under the fixed-orientation
    reference coster)."""
    joins, stats, sels, pk = graph
    opt = JoinOptimizer(joins, pk)
    for plan in (opt.order_joins(stats, sels), opt.order_joins_greedy(stats, sels)):
        assert len(plan) == len(joins)
        assert (
            reference_cost_of_order(table_order_of_plan(plan), joins, stats, sels, pk)
            < float("inf")
        )


@settings(max_examples=100, deadline=None)
@given(join_graphs(with_pks=False))
def test_dp_never_worse_than_greedy_without_pks(graph):
    """Cost dominance holds where the DP's memoization is sound: with no
    PKs every equi-join cardinality is max(card1, card2), which makes a
    subset's cardinality independent of join order, so min-cost-per-subset
    memoization IS globally optimal over left-deep plans — and the greedy
    plan (fixed accumulated-outer orientation) is one point in that space
    under identical cost arithmetic. With PKs the reference model's
    cardinality depends on operand orientation, the Pareto frontier
    collapses to one entry per subset, and greedy can legitimately win —
    a reference-model quirk worth pinning in a test, not a bug."""
    joins, stats, sels, pk = graph
    opt = JoinOptimizer(joins, pk)
    opt.order_joins(stats, sels)
    dp_cost = opt.last_plan_cost
    opt.order_joins_greedy(stats, sels)
    greedy_cost = opt.last_plan_cost
    assert dp_cost <= greedy_cost * 1.0000001  # fp-tolerant


@settings(max_examples=150, deadline=None)
@given(join_graphs(wide=True))
def test_dp_matches_frozenset_reference(graph):
    """The bitmask DP is the frozenset DP it replaced (tests/
    planner_reference.py, candidates in input order): same plan, same
    cost, and the same memo, subset by subset."""
    joins, stats, sels, pk = graph
    opt = JoinOptimizer(joins, pk)
    plan = opt.order_joins(stats, sels)
    ref_plan, ref_cost, ref_memo = reference_order_joins(joins, pk, stats, sels)
    assert plan == ref_plan
    assert opt.last_plan_cost == ref_cost
    assert len(opt.last_plan_cache._best) == len(ref_memo)
    for subset, ref in ref_memo.items():
        got = opt.last_plan_cache.get(subset)
        assert (got.cost, got.card, got.plan) == (ref.cost, ref.card, ref.plan)


@settings(max_examples=150, deadline=None)
@given(st.one_of(join_graphs(), join_graphs(wide=True)))
def test_greedy_cost_is_reference_cost_on_trees(graph):
    """On a cycle-free connected graph the reference coster finds the one
    edge greedy used for every table, in the same orientation, so greedy's
    own cost and the reference cost of its table order are one number:
    the two are one cost model, not two copies that can drift."""
    joins, stats, sels, pk = graph
    tables = {t for j in joins for t in (j.left_table, j.right_table)}
    opt = JoinOptimizer(joins, pk)
    plan = opt.order_joins_greedy(stats, sels)
    assume(len(plan) == len(joins) == len(tables) - 1)
    ref = reference_cost_of_order(table_order_of_plan(plan), joins, stats, sels, pk)
    assert opt.last_plan_cost == ref


@settings(max_examples=150, deadline=None)
@given(st.one_of(join_graphs(), join_graphs(wide=True)))
def test_greedy_matches_rescanning_reference(graph):
    """Greedy's running PK flag is the rescan it replaced: same plan and
    same cost as tests/planner_reference.py's greedy on every graph."""
    joins, stats, sels, pk = graph
    opt = JoinOptimizer(joins, pk)
    plan = opt.order_joins_greedy(stats, sels)
    ref_plan, ref_cost = reference_order_joins_greedy(joins, pk, stats, sels)
    assert plan == ref_plan
    assert opt.last_plan_cost == ref_cost
