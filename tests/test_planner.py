"""Pytest ports of the reference join-optimizer assertions
(/root/reference/test/unit/optimizer/optimizer_test.cc:372-623):
cost-shape checks, cardinality values, and the three join-ordering
acceptance tests (semantic plan properties, not exact plans).
Pure Python — the DP never touches Spark.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
from pathlib import Path

from dbms_query_optimizer_spark.plans.planner import JoinOptimizer, LogicalJoinNode
from dbms_query_optimizer_spark.plans.stats import PredicateType, TableStats

from .shape_utils import check_linear, check_quadratic

EQ, LE = PredicateType.EQ, PredicateType.LE


def _stats(num_tuples: int, num_pages: int, io_cost: int = 100) -> TableStats:
    return TableStats(num_tuples=num_tuples, num_pages=num_pages, io_cost_per_page=io_cost)


def test_join_cost_shapes():
    """check_join_estimate_costs (optimizer_test.cc:81-140): linear in each
    of card1/card2/cost1/cost2, quadratic when all grow, and always greater
    than cost1+cost2."""
    jc = JoinOptimizer.estimate_join_cost

    def costs(card1s, card2s, cost1s, cost2s):
        out = []
        for c1, c2, k1, k2 in zip(card1s, card2s, cost1s, cost2s):
            v = jc(c1, c2, k1, k2)
            assert v > k1 + k2
            out.append(v)
        return out

    n = range(20)
    assert check_linear(costs([3 * i + 1 for i in n], [5] * 20, [5.0] * 20, [5.0] * 20))
    assert check_linear(costs([4] * 20, [3 * i + 1 for i in n], [5.0] * 20, [5.0] * 20))
    assert check_linear(costs([7] * 20, [7] * 20, [5.0 * (i + 1) for i in n], [3.0] * 20))
    assert check_linear(costs([9] * 20, [9] * 20, [5.0] * 20, [3.0 * (i + 1) for i in n]))
    assert check_quadratic(
        costs(
            [2 * (i + 1) for i in n],
            [9 * i + 1 for i in n],
            [5.0 * i + 2 for i in n],
            [3.0 * i + 1 for i in n],
        )
    )


def test_join_cardinality_pk_cases():
    """optimizer_test.cc:396-408 — t1 10200 rows @0.8 sel, t2 1000 rows
    @0.2 sel; PK on either side must give 8160 or 200."""
    card1 = _stats(10200, 120).estimate_table_cardinality(0.8)
    card2 = _stats(1000, 12).estimate_table_cardinality(0.2)
    assert (card1, card2) == (8160, 200)
    jc = JoinOptimizer.estimate_join_cardinality
    assert jc(EQ, card1, card2, True, False) in (8160, 200)
    assert jc(EQ, card1, card2, False, True) in (8160, 200)
    # no PK: max; non-equi: 0.3 * product
    assert jc(EQ, card1, card2, False, False) == 8160
    assert jc(LE, 100, 100, False, False) == 3000


def test_order_joins():
    """OrderJoinsTest (optimizer_test.cc:414-500): emp/dept/hobbies/hobby;
    'hobbies' (the 100k-row table) must not be outermost."""
    stats = {
        "emp": _stats(50000, 750),
        "dept": _stats(1000, 8),
        "hobby": _stats(1000, 15),
        "hobbies": _stats(100000, 500),
    }
    sels = {"emp": 0.1, "dept": 1.0, "hobby": 1.0, "hobbies": 1.0}
    nodes = [
        LogicalJoinNode("hobbies", "hobby", "c1", "c0", EQ),
        LogicalJoinNode("emp", "dept", "c1", "c0", EQ),
        LogicalJoinNode("emp", "hobbies", "c2", "c0", EQ),
    ]
    pk = {t: "c0" for t in stats}
    result = JoinOptimizer(nodes, pk).order_joins(stats, sels)

    assert len(result) == len(nodes)
    assert result[0].left_table != "hobbies"
    assert not (
        result[2].right_table == "hobbies"
        and "hobbies" in (result[0].left_table, result[0].right_table)
    )


def test_big_order_joins():
    """BigOrderJoinsTest (optimizer_test.cc:507-571): 10 shuffled joins over
    12 tables incl. a 100k-row big_table; big_table must end up outermost
    (last join's non-subplan side) and the DP must be fast (reference bound
    600 s including data population; pure DP should be < 5 s)."""
    stats = {"big_table": _stats(100000, 500)}
    sels = {"big_table": 1.0}
    for i in range(11):
        name = chr(ord("a") + i)
        stats[name] = _stats(100, 1)
        sels[name] = 1.0
    nodes = [
        LogicalJoinNode("a", "b", "c1", "c1", EQ),
        LogicalJoinNode("b", "c", "c0", "c0", EQ),
        LogicalJoinNode("c", "d", "c1", "c1", EQ),
        LogicalJoinNode("d", "e", "c0", "c0", EQ),
        LogicalJoinNode("e", "f", "c1", "c1", EQ),
        LogicalJoinNode("f", "g", "c0", "c0", EQ),
        LogicalJoinNode("g", "h", "c1", "c1", EQ),
        LogicalJoinNode("h", "i", "c0", "c0", EQ),
        LogicalJoinNode("i", "j", "c1", "c1", EQ),
        LogicalJoinNode("j", "big_table", "c2", "c2", EQ),
    ]
    random.Random(0).shuffle(nodes)
    pk = {t: "c0" for t in stats}
    t0 = time.monotonic()
    result = JoinOptimizer(nodes, pk).order_joins(stats, sels)
    elapsed = time.monotonic() - t0

    assert len(result) == len(nodes)
    assert result[-1].right_table == "big_table"
    assert elapsed < 5.0


def test_nonequality_order_joins():
    """NonequalityOrderJoinsTest (optimizer_test.cc:577-623): the single LE
    join must end up outermost."""
    stats = {}
    sels = {}
    for i in range(9):
        name = chr(ord("a") + i)
        stats[name] = _stats(100, 1)
        sels[name] = 1.0
    nodes = [
        LogicalJoinNode("a", "b", "c1", "c1", LE),
        LogicalJoinNode("b", "c", "c0", "c0", EQ),
        LogicalJoinNode("c", "d", "c1", "c1", EQ),
        LogicalJoinNode("d", "e", "c0", "c0", EQ),
        LogicalJoinNode("e", "f", "c1", "c1", EQ),
        LogicalJoinNode("f", "g", "c0", "c0", EQ),
        LogicalJoinNode("g", "h", "c1", "c1", EQ),
        LogicalJoinNode("h", "i", "c0", "c0", EQ),
    ]
    pk = {t: "c0" for t in stats}
    result = JoinOptimizer(nodes, pk).order_joins(stats, sels)

    assert len(result) == len(nodes)
    assert "a" in (result[-1].left_table, result[-1].right_table)


def test_cross_product_rejection():
    """Disconnected join graphs produce no plan rather than a cross product
    (join_optimizer.cc:232-234, 262-266)."""
    stats = {t: _stats(100, 1) for t in "abcd"}
    sels = {t: 1.0 for t in stats}
    nodes = [
        LogicalJoinNode("a", "b", "c0", "c0", EQ),
        LogicalJoinNode("c", "d", "c0", "c0", EQ),
    ]
    result = JoinOptimizer(nodes, {t: "c0" for t in stats}).order_joins(stats, sels)
    assert result == []


def test_greedy_fallback_matches_cost_model():
    """Greedy order is valid (no cross product) and never beats the DP
    (the DP is optimal over left-deep plans under the same model)."""
    from dbms_query_optimizer_spark.plans.cbo_compare import (
        reference_cost_of_order,
        table_order_of_plan,
    )

    stats = {
        "emp": _stats(100_000, 1000),
        "dept": _stats(1_000, 10),
        "hobby": _stats(500, 5),
        "hobbies": _stats(200_000, 2000),
    }
    pk = {"emp": "id", "dept": "id", "hobby": "id", "hobbies": None}
    joins = [
        LogicalJoinNode("emp", "dept", "dept_id", "id", EQ),
        LogicalJoinNode("emp", "hobbies", "id", "emp_id", EQ),
        LogicalJoinNode("hobbies", "hobby", "hobby_id", "id", EQ),
    ]
    sels = {t: 1.0 for t in stats}
    opt = JoinOptimizer(joins, pk)
    dp_plan = opt.order_joins(stats, sels)
    greedy_plan = opt.order_joins_greedy(stats, sels)
    assert len(greedy_plan) == len(joins)

    def cost(plan):
        return reference_cost_of_order(
            table_order_of_plan(plan), joins, stats, sels, pk
        )

    assert cost(greedy_plan) < float("inf")
    assert cost(dp_plan) <= cost(greedy_plan)


def test_greedy_scales_to_wide_join_graphs():
    """40-way chain join: far beyond the DP's 2^n reach; the greedy path
    must finish instantly and produce a fully-connected left-deep order."""
    from dbms_query_optimizer_spark.plans.cbo_compare import (
        reference_cost_of_order,
        table_order_of_plan,
    )

    n = 40
    rng = random.Random(7)
    tables = [f"t{i}" for i in range(n + 1)]
    stats = {t: _stats(rng.randint(1_000, 500_000), rng.randint(10, 5000)) for t in tables}
    pk = {t: "id" for t in tables}
    joins = [
        LogicalJoinNode(tables[i], tables[i + 1], "fk" if i else "id", "id", EQ)
        for i in range(n)
    ]
    rng.shuffle(joins)
    sels = {t: 1.0 for t in tables}
    opt = JoinOptimizer(joins, pk)
    t0 = time.monotonic()
    plan = opt.order_joins_greedy(stats, sels)
    elapsed = time.monotonic() - t0
    assert elapsed < 2.0
    assert len(plan) == n
    assert reference_cost_of_order(
        table_order_of_plan(plan), joins, stats, sels, pk
    ) < float("inf")


def _star(n_leaves: int) -> tuple[list[LogicalJoinNode], dict[str, TableStats]]:
    """Non-PK equi-join star over tables whose sizes repeat, the shape of
    perfbench's cbo_plan stars: many candidates tie on cost."""
    tables = [f"t{i}" for i in range(n_leaves + 1)]
    sizes = [(1_000, 10), (5_000, 50)]
    stats = {t: _stats(*sizes[i % 2]) for i, t in enumerate(tables)}
    joins = [LogicalJoinNode(t, "t0", f"{t}_c2", "t0_c2", EQ) for t in tables[1:]]
    return joins, stats


def _star_plan() -> list[tuple[str, str]]:
    joins, stats = _star(8)
    plan = JoinOptimizer(joins, {}).order_joins(stats, {})
    return [(j.left_table, j.right_table) for j in plan]


def test_plan_does_not_depend_on_hash_seed():
    """Cost ties go to the earliest join in the input, so every process
    plans the same star whatever its PYTHONHASHSEED."""
    root = Path(__file__).resolve().parents[1]
    code = "import json; from tests.test_planner import _star_plan; print(json.dumps(_star_plan()))"
    plans = []
    for seed in ("0", "1", "2", "3"):
        env = {**os.environ, "PYTHONHASHSEED": seed}
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=root, env=env, capture_output=True, text=True, check=True
        ).stdout
        plans.append([tuple(step) for step in json.loads(out)])
    assert all(p == plans[0] for p in plans)
    assert plans[0] == _star_plan()


def test_memo_holds_every_connected_subset():
    """The memo has one entry per connected join subset: 2^n - 1 for an
    n-join star, n(n+1)/2 (the contiguous runs) for an n-join chain."""
    for n in (1, 4, 7):
        joins, stats = _star(n)
        opt = JoinOptimizer(joins, {})
        assert len(opt.order_joins(stats, {})) == n
        assert len(opt.last_plan_cache._best) == 2**n - 1

        tables = [f"t{i}" for i in range(n + 1)]
        chain = [LogicalJoinNode(a, b, "id", "fk", EQ) for a, b in zip(tables, tables[1:])]
        opt = JoinOptimizer(chain, {t: "id" for t in tables})
        assert len(opt.order_joins(stats, {})) == n
        assert len(opt.last_plan_cache._best) == n * (n + 1) // 2


def test_disconnected_graph_has_no_full_plan():
    """Two components: each connected subset is memoized, the full set is
    not, and the plan is empty."""
    stats = {t: _stats(100, 1) for t in "abcde"}
    joins = [
        LogicalJoinNode("a", "b", "c0", "c0", EQ),
        LogicalJoinNode("b", "c", "c0", "c0", EQ),
        LogicalJoinNode("d", "e", "c0", "c0", EQ),
    ]
    opt = JoinOptimizer(joins, {})
    assert opt.order_joins(stats, {}) == []
    assert opt.last_plan_cost == 0.0
    assert len(opt.last_plan_cache._best) == 4  # ab, bc, de, ab+bc
    assert opt.last_plan_cache.get(frozenset(joins)) is None
    assert opt.last_plan_cache.get(frozenset(joins[:2])) is not None


def test_repeated_join_is_planned_once():
    """Equal LogicalJoinNodes are one join: [j1, j2, j1] plans two joins
    and memoizes the three subsets of {j1, j2}."""
    stats = {t: _stats(100 * (i + 1), i + 1) for i, t in enumerate("abc")}
    j1 = LogicalJoinNode("a", "b", "c0", "c0", EQ)
    j2 = LogicalJoinNode("b", "c", "c0", "c0", EQ)
    opt = JoinOptimizer([j1, j2, j1], {})
    plan = opt.order_joins(stats, {})
    assert len(plan) == 2
    assert {j1, j2} == {j if j in (j1, j2) else j.swap_inner_outer() for j in plan}
    assert len(opt.last_plan_cache._best) == 3
    assert opt.last_plan_cache.get(frozenset([j1, j2])).plan == plan
