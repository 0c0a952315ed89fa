"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup``, hands the
harness a fixed sequence of ops for warm-up and for the timed window, and
checks the engine's outputs in ``check``. An op belongs to an op class;
latency statistics are taken per class and never pooled across classes
whose medians differ several-fold.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import datagen
import layers

# PERFBENCH_SMOKE=1 (set by selftest.py) shrinks every fixture to smoke scale
SMOKE = os.environ.get("PERFBENCH_SMOKE") == "1"


@dataclass
class Op:
    cls: str  # op class: latency statistics are per class
    kind: str  # "query", "plan", "write", "read" or "maint"
    run: Callable[[], None]


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    seconds: int
    tracer: object | None = None
    failures: list[str] = field(default_factory=list)
    # set-up phase -> seconds (the median where a phase is repeated)
    setup: dict[str, float] = field(default_factory=dict)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def count(self, name: str, value: float) -> None:
        if self.tracer:
            self.tracer.counts[name] += value


SETUP_REPEATS = 3


def timed_median(fn: Callable[[int], None], repeats: int = SETUP_REPEATS) -> float:
    """Run ``fn(i)`` ``repeats`` times; return the median wall seconds."""
    times = []
    for i in range(repeats):
        t0 = time.perf_counter()
        fn(i)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def n_cycles(seconds: int, cycle_s: float) -> int:
    """Fixed cycle count for a run length: the op sequence depends only on
    the seed and ``--seconds``, never on how fast the ops ran."""
    return max(2, round(seconds / cycle_s))


class Workload:
    """A workload runs whole cycles of ops: ``cycle(i, warm)`` builds
    cycle ``i`` of the timed sequence (``warm=0``) or of the warm-up
    (``warm=1``)."""

    name = ""
    cycle_s = 1.0  # rough seconds per cycle, only to size ``schedule``

    def cycle(self, i: int, warm: int = 0) -> list[Op]:
        raise NotImplementedError

    def warm_cycles(self):
        i = 0
        while True:
            yield self.cycle(i, warm=1)
            i += 1

    def schedule(self) -> list[Op]:
        ops = []
        for i in range(n_cycles(self.ctx.seconds, self.cycle_s)):
            ops.extend(self.cycle(i))
        return ops


# -------------------------------------------------------------- tpch_olap


class TpchOlap(Workload):
    """The analyst's experience: scans, joins and aggregates whose time is
    Spark execution, shuffle sizing and the emitter's broadcast hints.
    Catalog queries over generated tables, each run to the no-op sink and
    followed by ``release_tracked()``; one cycle runs every query once in
    a seeded order. Outputs are checked against each query's DuckDB oracle
    once per run, outside the timed window."""

    name = "tpch_olap"
    queries = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q18", "cbo_ordered_join"]
    sf = 0.001 if SMOKE else 0.02
    cycle_s = 3.0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.run_dir, "data")

    def setup(self) -> None:
        from dbms_query_optimizer_spark.engine import load_tables

        ctx = self.ctx
        ctx.setup["fixture_s"] = timed_median(
            lambda i: datagen.write(self.data_dir, ctx.seed, self.sf)
        )
        t0 = time.perf_counter()
        with ctx.span("engine.load_tables"):
            load_tables(ctx.spark, self.data_dir)
        ctx.setup["load_tables_s"] = time.perf_counter() - t0

    def _op(self, name: str) -> Op:
        from dbms_query_optimizer_spark.cache import release_tracked
        from dbms_query_optimizer_spark.operators import catalog

        fn = catalog.queries()[name]
        ctx = self.ctx

        def run() -> None:
            tr = ctx.tracer
            with ctx.span("operators.construct"):
                first = tr.status.next_job_id() if tr else 0
                df = fn(ctx.spark, self.data_dir)
                if tr:
                    ctx.count("operators.construct_jobs", tr.status.next_job_id() - first)
            if tr:
                # planned here only to read Catalyst's phase times; the
                # write below plans its own query execution again
                with ctx.span("catalyst.plan"):
                    ctx.count("catalyst.plan_ms", layers.catalyst_plan_ms(df))
            with ctx.span("spark.execute"):
                df.write.mode("overwrite").format("noop").save()
            ctx.count("cache.released", release_tracked())

        return Op(name, "query", run)

    def cycle(self, i: int, warm: int = 0) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 0, warm, i])
        return [self._op(self.queries[j]) for j in rng.permutation(len(self.queries))]

    def check(self) -> int:
        from dbms_query_optimizer_spark.operators import catalog
        from tests.oracle_utils import compare, duckdb_conn

        qs, oracles = catalog.queries(), catalog.oracles()
        conn = duckdb_conn(self.data_dir)
        try:
            for name in self.queries:
                ok, msg = compare(qs[name](self.ctx.spark, self.data_dir), conn, oracles[name])
                if not ok:
                    self.ctx.failures.append(f"{name}: {msg}")
        finally:
            conn.close()
        return len(self.queries)


# --------------------------------------------------------------- cbo_plan

CBO_TABLES = 14
CBO_GRAPHS = 9
CBO_ROWS = [100, 500] if SMOKE else [1_000, 5_000, 20_000, 50_000, 100_000]


class CboPlan(Workload):
    """The paper's core: histogram stats feed the Selinger DP, the emitter
    builds the join chain and Catalyst plans it; no Spark job runs in the
    timed window. Tables follow the reference's synthetic shape (uniform
    ints, column 0 the primary key); join graphs are chains, stars and
    binary trees of 9 to 13 joins, half with PK edges mixed in and half
    with non-PK edges only, each with histogram filters."""

    name = "cbo_plan"
    cycle_s = 3.0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.run_dir, "cbo")
        self.tables: dict[str, object] = {}
        self.stats: dict[str, object] = {}
        self.pk = {f"t{i}": f"t{i}_c0" for i in range(CBO_TABLES)}
        self.graphs = self._graphs()
        self.planned: dict[int, object] = {}

    def _write_tables(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([self.ctx.seed, 1])
        os.makedirs(self.data_dir, exist_ok=True)
        for i in range(CBO_TABLES):
            n = CBO_ROWS[i % len(CBO_ROWS)]
            cols = {f"t{i}_c0": rng.permutation(n).astype(np.int64)}
            for c, hi in ((1, n), (2, 1_000), (3, 31)):
                cols[f"t{i}_c{c}"] = rng.integers(1, hi, n, dtype=np.int64)
            pq.write_table(pa.table(cols), os.path.join(self.data_dir, f"t{i}.parquet"))

    def _graphs(self) -> list[tuple[list, list]]:
        from dbms_query_optimizer_spark.plans import LogicalJoinNode, PredicateType
        from dbms_query_optimizer_spark.plans.pipeline import FilterSpec

        rng = np.random.default_rng([self.ctx.seed, 2])
        graphs = []
        for g in range(CBO_GRAPHS):
            # shape, size and PK mix are fixed per graph index, so the DP's
            # work is the same for every seed; the seed picks the tables,
            # the edge columns and orientation, and the filters
            shape = ("chain", "star", "tree")[g % 3]
            n_joins = (9, 11, 13)[g // 3]
            with_pk = g % 2 == 0
            names = [f"t{i}" for i in rng.permutation(CBO_TABLES)[: n_joins + 1]]
            joins = []
            for k in range(1, len(names)):
                parent = {
                    "chain": names[k - 1],
                    "star": names[0],
                    "tree": names[(k - 1) // 2],
                }[shape]
                child = names[k]
                if with_pk and rng.random() < 0.5:  # foreign key onto the parent's PK
                    j = LogicalJoinNode(child, parent, f"{child}_c1", f"{parent}_c0")
                else:
                    j = LogicalJoinNode(child, parent, f"{child}_c2", f"{parent}_c2")
                joins.append(j.swap_inner_outer() if rng.random() < 0.5 else j)
            filters = [
                FilterSpec(
                    t,
                    f"{t}_c3",
                    PredicateType.LT if rng.random() < 0.5 else PredicateType.GT,
                    int(rng.integers(2, 30)),
                )
                for t in rng.choice(names, int(rng.integers(1, 4)), replace=False)
            ]
            graphs.append((joins, filters, with_pk))
        return graphs

    def setup(self) -> None:
        from dbms_query_optimizer_spark.plans import TableStats

        ctx = self.ctx
        ctx.setup["fixture_s"] = timed_median(lambda i: self._write_tables())
        t0 = time.perf_counter()
        with ctx.span("engine.load_tables"):
            self.tables = {
                f"t{i}": ctx.spark.read.schema(
                    ", ".join(f"t{i}_c{c} bigint" for c in range(4))
                ).parquet(os.path.join(self.data_dir, f"t{i}.parquet"))
                for i in range(CBO_TABLES)
            }
        ctx.setup["load_tables_s"] = time.perf_counter() - t0
        tr = ctx.tracer
        first = tr.status.next_job_id() if tr else 0

        t0 = time.perf_counter()
        self.stats = {
            name: TableStats.from_dataframe(df, columns=[f"{name}_c3"])
            for name, df in self.tables.items()
        }
        ctx.setup["stats_build_s"] = time.perf_counter() - t0
        if tr:
            ctx.setup["stats_jobs"] = tr.status.next_job_id() - first

    def _op(self, g: int) -> Op:
        from dbms_query_optimizer_spark.plans.pipeline import plan_and_emit

        joins, filters, _with_pk = self.graphs[g]
        ctx = self.ctx

        def run() -> None:
            planned = plan_and_emit(
                self.tables, joins, filters, pk_columns=self.pk, stats=self.stats
            )
            with ctx.span("catalyst.plan"):
                qe = planned.df._jdf.queryExecution()
                qe.executedPlan()
            self.planned[g] = planned
            if ctx.tracer:
                ctx.count("catalyst.plan_ms", layers.phases_ms(qe))

        return Op(f"graph{g:02d}", "plan", run)

    def cycle(self, i: int, warm: int = 0) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 3, warm, i])
        return [self._op(int(g)) for g in rng.permutation(CBO_GRAPHS)]

    def check(self) -> int:
        """Each graph's plan is left-deep and connected, covers every join
        and is the plan an independent DP run picks. On graphs without PK
        edges it also costs no more under the model than the greedy
        orderer's plan. With PK edges the model's join cardinality depends
        on operand orientation, so per-subset memoization is not optimal
        and greedy may legitimately win (tests/test_planner_properties.py);
        there the count of such graphs is reported, not failed."""
        from dbms_query_optimizer_spark.plans import JoinOptimizer

        self.detail = {"greedy_cheaper_with_pk": 0}
        for g, (joins, _filters, with_pk) in enumerate(self.graphs):
            planned = self.planned.get(g)
            if planned is None:
                self.ctx.failures.append(f"graph{g:02d}: never planned")
                continue
            plan, sels = planned.plan, planned.filter_selectivities
            problems = []
            covered = {j for j in plan} | {j.swap_inner_outer() for j in plan}
            if len(plan) != len(joins) or not all(j in covered for j in joins):
                problems.append("plan does not cover every join exactly once")
            joined = {plan[0].left_table, plan[0].right_table} if plan else set()
            for j in plan[1:]:
                if j.left_table not in joined and j.right_table not in joined:
                    problems.append(f"not left-deep connected at {j}")
                    break
                joined |= {j.left_table, j.right_table}
            dp = JoinOptimizer(joins, self.pk)
            if dp.order_joins(self.stats, sels) != plan:
                problems.append("plan differs from an independent DP run")
            greedy = JoinOptimizer(joins, self.pk)
            greedy.order_joins_greedy(self.stats, sels)
            if dp.last_plan_cost > greedy.last_plan_cost * (1 + 1e-9):
                if with_pk:
                    self.detail["greedy_cheaper_with_pk"] += 1
                else:
                    problems.append(
                        f"DP cost {dp.last_plan_cost} above greedy {greedy.last_plan_cost}"
                    )
            if problems:
                self.ctx.failures.append(f"graph{g:02d}: {'; '.join(problems)}")
        return len(self.graphs)


# ------------------------------------------------------------- txn_ingest

TXN_INITIAL_ROWS = 2_000 if SMOKE else 20_000
TXN_BATCH = 200 if SMOKE else 2_000
TXN_COMPACT_EVERY = 2  # cycles between compact + materialize_dvs + vacuum
TXN_NOTE = "note-0123456789a"  # 16 characters
# bytes one submitted user row holds: k (8) + grp (4) + v (8) + note (16)
TXN_ROW_BYTES = 36


class TxnModel:
    """In-memory model of the table: the set of live keys."""

    def __init__(self) -> None:
        self.keys: set[int] = set()

    def digest(self, keys) -> str:
        h = hashlib.sha256()
        for k in sorted(keys):
            h.update(int(k).to_bytes(8, "little", signed=True))
        return h.hexdigest()


class TxnIngest(Workload):
    """Reads beside writes on one manifest table with a bloom column,
    from a fresh table root: insert, merge upsert, merge-on-read delete of
    the oldest key range, bloom point read and zone-map range read, with
    compact + materialize_dvs + vacuum every few cycles. The op count is
    fixed, so the table state at op i is the same in every run of a seed;
    live rows stay bounded because each cycle deletes as many keys as it
    adds."""

    name = "txn_ingest"
    cycle_s = 3.5
    row_bytes = TXN_ROW_BYTES

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.root = ""
        self.table = None
        self.model = TxnModel()
        self.next_key = 0
        self.low_key = 0
        self.rows_submitted = 0
        self.bytes_written = 0
        self._seen: dict[str, int] = {}

    def _frame(self, ranges: list[tuple[int, int]], version: int):
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        df = None
        for lo, hi in ranges:
            part = spark.range(lo, hi)
            df = part if df is None else df.unionByName(part)
        return df.select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("int").alias("grp"),
            ((F.col("id") * 7 + version) % 1000 / 10.0).alias("v"),
            F.lit(TXN_NOTE).alias("note"),
        )

    def _create(self, root: str) -> None:
        from pyspark.sql.types import (
            DoubleType, IntegerType, LongType, StringType, StructField, StructType,
        )

        from dbms_query_optimizer_spark.sources.manifest import TransactionalTable

        schema = StructType(
            [
                StructField("k", LongType()),
                StructField("grp", IntegerType()),
                StructField("v", DoubleType()),
                StructField("note", StringType()),
            ]
        )
        self.root = root
        self.table = TransactionalTable.create(root, schema, bloom_columns=["k"])
        self.model = TxnModel()
        self.next_key = self.low_key = 0
        self._seen = {}
        self._insert_keys(TXN_INITIAL_ROWS)

    def _insert_keys(self, n: int) -> None:
        lo, hi = self.next_key, self.next_key + n
        txn = self.table.begin()
        txn.insert(self._frame([(lo, hi)], 0))
        txn.commit()
        self.model.keys.update(range(lo, hi))
        self.next_key = hi

    def setup(self) -> None:
        ctx = self.ctx
        ctx.setup["fixture_s"] = timed_median(
            lambda i: self._create(os.path.join(ctx.run_dir, f"table{i}"))
        )
        # earlier roots only timed the create; the last one is measured
        self._account_new_bytes()
        self.bytes_written = 0
        self.rows_submitted = 0

    # -- ops
    def _insert(self) -> None:
        self.rows_submitted += TXN_BATCH
        self._insert_keys(TXN_BATCH)

    def _merge(self, rng) -> None:
        # updates fall in the batch the cycle's insert just wrote, so every
        # seed rewrites the same number of files
        half = TXN_BATCH // 2
        start = self.next_key - TXN_BATCH + int(rng.integers(0, TXN_BATCH - half + 1))
        lo_new = self.next_key
        self.next_key += half
        self.rows_submitted += 2 * half
        txn = self.table.begin()
        txn.merge(
            self.ctx.spark,
            self._frame([(start, start + half), (lo_new, lo_new + half)], 1),
            "k",
        )
        txn.commit()
        self.model.keys.update(range(start, start + half))
        self.model.keys.update(range(lo_new, lo_new + half))

    def _delete(self) -> None:
        lo, hi = self.low_key, self.low_key + TXN_BATCH + TXN_BATCH // 2
        self.low_key = hi
        txn = self.table.begin()
        txn.delete_mor(self.ctx.spark, [("k", ">=", lo), ("k", "<", hi)])
        txn.commit()
        self.model.keys.difference_update(range(lo, hi))

    def _point(self, rng) -> None:
        key = int(rng.integers(max(0, self.low_key - TXN_BATCH), self.next_key))
        with self.ctx.span("manifest.read"):
            got = self.table.read(self.ctx.spark, where=("k", "=", key)).count()
        self._read_counts()
        want = int(key in self.model.keys)
        if got != want:
            self.ctx.failures.append(f"point read k={key}: {got} rows, model {want}")

    def _range(self, rng) -> None:
        lo = int(rng.integers(self.low_key, self.next_key))
        hi = lo + TXN_BATCH
        with self.ctx.span("manifest.read"):
            got = (
                self.table.read(self.ctx.spark, where=[("k", ">=", lo), ("k", "<", hi)])
                .count()
            )
        self._read_counts()
        want = sum(1 for k in range(lo, hi) if k in self.model.keys)
        if got != want:
            self.ctx.failures.append(f"range read [{lo},{hi}): {got} rows, model {want}")

    def _read_counts(self) -> None:
        scan = self.table.last_scan
        self.ctx.count("manifest.files_read", scan["files_read"])
        self.ctx.count("manifest.files_total", scan["files_total"])

    def _maintain(self) -> None:
        spark = self.ctx.spark
        self.table.compact(spark)
        self.table.materialize_dvs(spark)
        self.table.vacuum()

    def _account_new_bytes(self) -> int:
        """Bytes of files under the table root that appeared since the
        last call (files are immutable once written)."""
        new = 0
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                if p not in self._seen:
                    try:
                        self._seen[p] = os.path.getsize(p)
                    except OSError:
                        continue
                    new += self._seen[p]
        return new

    def cycle(self, i: int, warm: int = 0) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 4, warm, i])
        # a fixed order, so the table each op meets has the same shape for
        # every seed; the seed picks the keys the ops touch
        ops = [
            Op("insert", "write", self._insert),
            Op("merge", "write", lambda: self._merge(rng)),
            Op("point_read", "read", lambda: self._point(rng)),
            Op("delete_mor", "write", self._delete),
            Op("range_read", "read", lambda: self._range(rng)),
        ]
        if warm or (i + 1) % TXN_COMPACT_EVERY == 0:
            ops.append(Op("maintain", "maint", self._maintain))
        return ops

    def after_op(self) -> None:
        self.bytes_written += self._account_new_bytes()

    def warm_cycles(self):
        """Warm-up runs on its own table; the timed run starts from the
        freshly created table ``setup`` left."""
        measured = (self.root, self.table, self.model, self.next_key, self.low_key, self._seen)
        self._create(os.path.join(self.ctx.run_dir, "warm"))
        try:
            yield from super().warm_cycles()
        finally:
            (self.root, self.table, self.model, self.next_key, self.low_key, self._seen) = measured
            self.bytes_written = self.rows_submitted = 0

    def check(self) -> int:
        """The final table equals the model: row count and key-set hash."""
        keys = [r[0] for r in self.table.read(self.ctx.spark).select("k").collect()]
        if len(keys) != len(self.model.keys):
            self.ctx.failures.append(
                f"final table has {len(keys)} rows, model {len(self.model.keys)}"
            )
        elif self.model.digest(keys) != self.model.digest(self.model.keys):
            self.ctx.failures.append("final key set differs from the model")
        return 1

    def manifest_state(self) -> dict[str, float]:
        snap = self.table.snapshot()
        mdir = os.path.join(self.root, "manifest")
        latest = max(f for f in os.listdir(mdir) if f.endswith(".json"))
        return {
            "manifest_bytes": float(os.path.getsize(os.path.join(mdir, latest))),
            "live_files": float(len(snap["files"])),
        }


WORKLOADS = {w.name: w for w in (TpchOlap, CboPlan, TxnIngest)}
