"""Selinger-style cost-based join ordering (driver-side, pure Python).

Re-expresses the reference's core deliverable (BuzzDB
``src/optimizer/join_optimizer.cc``) as a Python planner over *named*
tables:

- cost model  : nested-loop ``cost1 + card1*cost2 + card1*card2``
  (join_optimizer.cc:40-55);
- cardinality : equi-join with a PK side dedupes to the other side's
  cardinality, no PK -> max(card1, card2), non-equi -> 0.3*card1*card2
  (join_optimizer.cc:76-92);
- search      : bottom-up DP over join subsets of growing size with
  memoized best subplans, cross-product rejection, inner/outer swap by
  cost, and best-so-far pruning (join_optimizer.cc:108-137, 195-292).
  Left-deep by construction.

The DP's inner loop inlines the two models, as it is the hot path.
Everything else folds ``JoinOptimizer._join_step``, which joins one table
onto an accumulated outer side (cost, card, running PK flag): the greedy
orderer ``order_joins_greedy`` and the fixed-order coster
``cbo_compare.reference_cost_of_order``.

Deviations from the reference (deliberate, recorded in SURVEY.md):
- PK-ness is explicit per-table metadata (``pk_columns``) instead of the
  ordinal convention "field index 0 is the PK" (join_optimizer.cc:220,224).
- The memo is shared, not copied per call (the reference passes its
  PlanCache by value — join_optimizer.cc:199 — an accidental
  copy-per-invocation).
- Subsets are bitmasks over the joins, as in join_optimizer.cc:153-168,
  but visited in increasing numeric order (every subset after all of its
  proper subsets) rather than size by size with next_permutation. A memo
  entry keeps its last join, not the whole plan; the plan is rebuilt by
  following these back-pointers once, at the end.
- Candidates inside a subset are tried in input order, so a cost tie goes
  to the earliest join in the input list and the plan is the same in every
  process (it does not depend on set iteration order or PYTHONHASHSEED).
- When the operand swap wins, the reference swaps the PK flags but NOT the
  cardinalities before estimating join cardinality
  (join_optimizer.cc:274-287), so its PK branch can return the PK side's
  cardinality instead of the probe side's. We swap both, which keeps
  estimate_join_cardinality's contract consistent; the reference's own
  assertions (optimizer_test.cc:396-408) hold either way.

The DP is O(2^n) in the number of JOINS, not in data size, and never
touches an executor. On a 4-core x86 VM it takes about 33 us for 3 joins,
about 9 ms for a 13-join chain or binary tree and about 38 ms for a
13-join star, whose 8191 subsets are all connected.
The chosen order is then emitted as one left-deep Catalyst logical plan
(emitter.py), where Catalyst picks the physical algorithms.
"""

from __future__ import annotations

from dataclasses import dataclass

from .stats import PredicateType, TableStats


@dataclass(frozen=True)
class LogicalJoinNode:
    """Binary (theta-)join spec over named tables/columns
    (reference join_optimizer.h:17-48)."""

    left_table: str
    right_table: str
    left_field: str
    right_field: str
    op: PredicateType = PredicateType.EQ

    def swap_inner_outer(self) -> "LogicalJoinNode":
        swapped_op = {
            PredicateType.GT: PredicateType.LT,
            PredicateType.GE: PredicateType.LE,
            PredicateType.LT: PredicateType.GT,
            PredicateType.LE: PredicateType.GE,
        }.get(self.op, self.op)
        return LogicalJoinNode(
            self.right_table, self.left_table, self.right_field, self.left_field, swapped_op
        )


@dataclass
class CostCard:
    cost: float
    card: int
    plan: list[LogicalJoinNode]


class PlanCache:
    """DP memo: best (cost, card, last join) per join subset
    (reference join_optimizer.h:64-112). A subset is a bitmask over
    ``joins``; its plan is rebuilt by following the last-join
    back-pointers."""

    def __init__(
        self,
        joins: list[LogicalJoinNode],
        best: dict[int, tuple[float, int, int]],
    ) -> None:
        self.joins = joins
        self._bit = {j: 1 << i for i, j in enumerate(joins)}
        # subset mask -> (cost, card, 2 * last join index + 1 if swapped)
        self._best = best

    def plan(self, s: int) -> list[LogicalJoinNode]:
        """The memoized left-deep order for subset mask ``s``."""
        plan = []
        while s:
            step = self._best[s][2]
            j = self.joins[step >> 1]
            plan.append(j.swap_inner_outer() if step & 1 else j)
            s ^= 1 << (step >> 1)
        plan.reverse()
        return plan

    def get(self, s: frozenset[LogicalJoinNode]) -> CostCard | None:
        if not all(j in self._bit for j in s):
            return None
        mask = sum(self._bit[j] for j in s)
        best = self._best.get(mask)
        if best is None:
            return None
        return CostCard(cost=best[0], card=best[1], plan=self.plan(mask))


class JoinOptimizer:
    """Left-deep Selinger DP over a list of join predicates."""

    def __init__(
        self,
        joins: list[LogicalJoinNode],
        pk_columns: dict[str, str | None] | None = None,
    ) -> None:
        self.joins = list(joins)
        # table -> primary key column (None = no single-column PK);
        # replaces the reference's "field 0 is PK" ordinal convention.
        self.pk_columns = pk_columns or {}

    # -- cost / cardinality models (reference numerics) ---------------------

    @staticmethod
    def estimate_join_cost(card1: int, card2: int, cost1: float, cost2: float) -> float:
        """Nested-loop model: outer scan + per-outer-tuple inner rescan + CPU
        per pair (join_optimizer.cc:53). Spark executes hash/broadcast joins,
        but the *relative* ordering this model induces is what the reference's
        tests specify, so we keep it for plan-choice parity."""
        return cost1 + card1 * cost2 + card1 * card2

    @staticmethod
    def estimate_join_cardinality(
        op: PredicateType, card1: int, card2: int, t1pkey: bool, t2pkey: bool
    ) -> int:
        """PK-aware equi-join cardinality (join_optimizer.cc:76-92).

        Python ints don't overflow, unlike the reference's int return
        (Appendix A quirk) — at 100 TB cardinalities the 0.3*c1*c2 term
        overflows 32-bit immediately, so the fix is required, not optional.
        """
        if op is PredicateType.EQ:
            if t1pkey:
                return card2
            if t2pkey:
                return card1
            return max(card1, card2)
        return int(0.3 * card1 * card2)

    def _is_pk(self, table: str, column: str) -> bool:
        return self.pk_columns.get(table) == column

    def _join_step(
        self,
        outer: tuple[float, int, bool] | None,
        j: LogicalJoinNode,
        stats: dict[str, TableStats],
        sels: dict[str, float],
    ) -> tuple[float, int, bool]:
        """Join ``j``'s right table onto the outer operand
        ``(cost, card, pk)``, accumulated side as the outer; ``None`` is
        ``j``'s left base table. ``pk`` says some join so far touched a PK
        column (reference has_Pkey, join_optimizer.cc:311-317); for a base
        table it is whether ``j``'s left column is its PK."""
        if outer is None:
            t = stats[j.left_table]
            outer = (
                t.estimate_scan_cost(),
                t.estimate_table_cardinality(sels.get(j.left_table, 1.0)),
                self._is_pk(j.left_table, j.left_field),
            )
        cost, card, pk = outer
        t2 = stats[j.right_table]
        t2_card = t2.estimate_table_cardinality(sels.get(j.right_table, 1.0))
        right_pk = self._is_pk(j.right_table, j.right_field)
        return (
            self.estimate_join_cost(card, t2_card, cost, t2.estimate_scan_cost()),
            self.estimate_join_cardinality(j.op, card, t2_card, pk, right_pk),
            pk or right_pk or self._is_pk(j.left_table, j.left_field),
        )

    # -- search -------------------------------------------------------------

    def order_joins(
        self,
        stats: dict[str, TableStats],
        filter_selectivities: dict[str, float],
    ) -> list[LogicalJoinNode]:
        """Bottom-up DP; returns the best left-deep join order
        (reference join_optimizer.cc:108-137).

        Join ``i`` of the de-duplicated input is bit ``i`` of a subset
        (join_optimizer.cc:153-168). Each subset extends the memoized best
        plan of ``subset - {j}`` by ``j`` (join_optimizer.cc:195-292), with
        ``j`` tried in input order, so cost ties go to the earliest join.
        """
        joins = list(dict.fromkeys(self.joins))  # equal nodes are one join
        n = len(joins)
        table_bit: dict[str, int] = {}
        for j in joins:
            for t in (j.left_table, j.right_table):
                table_bit.setdefault(t, 1 << len(table_bit))
        sels = filter_selectivities

        def side(table: str, field: str) -> tuple[int, float, int, bool]:
            return (
                table_bit[table],
                stats[table].estimate_scan_cost(),
                stats[table].estimate_table_cardinality(sels.get(table, 1.0)),
                self._is_pk(table, field),
            )

        # per join: (table bit, scan cost, scan card, PK flag) of each side
        left = [side(j.left_table, j.left_field) for j in joins]
        right = [side(j.right_table, j.right_field) for j in joins]
        ops = [j.op for j in joins]
        touched = [left[i][0] | right[i][0] for i in range(n)]
        # joins touching a PK column: whether a subplan touched one (the
        # reference's has_Pkey) depends only on which joins it holds, so it
        # is ``pk_mask & subset``
        pk_mask = sum(1 << i for i in range(n) if left[i][3] or right[i][3])
        join_cost = self.estimate_join_cost
        join_card = self.estimate_join_cardinality

        full = (1 << n) - 1
        tables = [0] * (full + 1)  # table bits a subset's joins touch
        # memo: subset -> (cost, card, 2 * last join + 1 if it was swapped)
        memo: dict[int, tuple[float, int, int]] = {}
        for s in range(1, full + 1):
            low = s & -s
            tables[s] = tables[s ^ low] | touched[low.bit_length() - 1]
            best: tuple[float, int, int] | None = None
            best_cost = float("inf")
            m = s
            while m:
                low = m & -m
                m ^= low
                rest = s ^ low
                i = low.bit_length() - 1
                if not rest:  # base case: both operands are base relations
                    _, t1_cost, t1_card, left_pkey = left[i]
                    _, t2_cost, t2_card, right_pkey = right[i]
                else:
                    cached = memo.get(rest)
                    if cached is None:
                        continue  # subset needed a cross product (cc:232-234)
                    # the sub-plan is the outer operand if it holds the left
                    # table (so a cycle edge keeps its left orientation)
                    if tables[rest] & left[i][0]:
                        t1_cost, t1_card, _ = cached
                        left_pkey = bool(pk_mask & rest)
                        _, t2_cost, t2_card, right_pkey = right[i]
                    elif tables[rest] & right[i][0]:
                        t2_cost, t2_card, _ = cached
                        right_pkey = bool(pk_mask & rest)
                        _, t1_cost, t1_card, left_pkey = left[i]
                    else:
                        continue  # neither side connects -> cross product (cc:262-266)
                # cost both operand orders; keep the cheaper (cc:270-281)
                cost1 = join_cost(t1_card, t2_card, t1_cost, t2_cost)
                cost2 = join_cost(t2_card, t1_card, t2_cost, t1_cost)
                step = 2 * i
                if cost2 < cost1:
                    cost1, step = cost2, step + 1
                    t1_card, t2_card = t2_card, t1_card
                    left_pkey, right_pkey = right_pkey, left_pkey
                if cost1 >= best_cost:
                    continue  # prune (cc:282-283)
                best_cost = cost1
                best = (cost1, join_card(ops[i], t1_card, t2_card, left_pkey, right_pkey), step)
            if best is not None:
                memo[s] = best
        # the winning plan's modeled cost and the full DP memo, observable
        # for tests/comparisons and the EXPLAIN-style memo dump
        # (q_cbo_plan_memo) — the reference keeps its PlanCache internal;
        # surfacing it makes the core artifact inspectable, not just
        # exercised.
        self.last_plan_cache = PlanCache(joins, memo)
        if full not in memo:  # no joins, or no plan without a cross product
            self.last_plan_cost = 0.0
            return []
        self.last_plan_cost = memo[full][0]
        return self.last_plan_cache.plan(full)

    def order_joins_greedy(
        self,
        stats: dict[str, TableStats],
        filter_selectivities: dict[str, float],
    ) -> list[LogicalJoinNode]:
        """Greedy O(n^2) join order for graphs too large for the DP.

        The Selinger DP is O(2^n) in the join count — fine for hand-written
        queries, unusable for the 50-way star/snowflake joins machine-
        generated pipelines produce. The engine plans with the DP
        (``order_joins``); this is a separate entry point for such graphs,
        and its cost is the bound the DP's plan is checked against
        (perfbench, tests). This is greedy operator ordering
        (Fegaras 1998-style GOO restricted to left-deep prefixes): seed
        with the cheapest single join under the reference cost model, then
        repeatedly attach the connected join with the lowest incremental
        NLJ cost. Every step, the seed included, is ``_join_step``: the
        accumulated side is the outer operand and carries a running PK
        flag, so each of the O(n) rounds costs each candidate in O(1).
        Same cost / cardinality / PK model as the DP, same cross-product
        avoidance; no optimality guarantee (tests assert DP <= greedy on
        small graphs).
        """
        if not self.joins:
            return []

        acc: tuple[float, int, bool] | None = None
        plan: list[LogicalJoinNode] = []
        used: set[LogicalJoinNode] = set()
        joined: set[str] = set()
        while len(plan) < len(self.joins):
            best = None
            for orig in self.joins:
                if orig in used:
                    continue
                # the seed tries both orientations of every join; later
                # joins are oriented so the accumulated plan is the outer
                # (t1) operand, and a both-sides-joined (cycle) edge keeps
                # its left orientation, mirroring the DP's left-branch
                # preference.
                if acc is None:
                    cands = (orig, orig.swap_inner_outer())
                elif orig.left_table in joined:
                    cands = (orig,)
                elif orig.right_table in joined:
                    cands = (orig.swap_inner_outer(),)
                else:
                    continue  # not connected yet -> would be a cross product
                for j in cands:
                    step = self._join_step(acc, j, stats, filter_selectivities)
                    if best is None or step[0] < best[0][0]:
                        best = (step, j, orig)
            if best is None:
                break  # disconnected join graph: no cross products, stop
            acc, j, orig = best
            plan.append(j)
            used.add(orig)
            joined.update((j.left_table, j.right_table))
        self.last_plan_cost = acc[0]
        return plan
