"""Plan emitter: ordered join list + filters -> one composed DataFrame.

The reference stops at returning the join order (join_optimizer.h:105-106);
executing it is out of its scope. Here the order becomes one left-deep
Catalyst logical plan, built on the JVM side and analysed once:

- Each base relation is its DataFrame's logical plan; a per-table filter
  (SQL predicate text) wraps it in a ``Filter`` before joining (Catalyst
  would push it down anyway; doing it here keeps the logical plan aligned
  with the DP's filtered-cardinality inputs).
- Each join is an inner ``Join`` on a parsed ``l <op> r`` condition, with
  no hint: Spark's own size estimate against
  ``autoBroadcastJoinThreshold`` (and AQE at runtime) picks the algorithm.
- A join whose tables are both already joined is an extra edge and
  becomes a ``Filter`` over the chain.
- ``Dataset.ofRows`` wraps the finished plan, which is the one analysis.
  Building the chain with ``DataFrame.join`` instead would analyse a new
  Dataset per join, and every ``F.col`` and Column operator costs Py4J
  round trips for its call-site record.

Spark preserves user-specified join order when CBO join reordering is off
(the default), so the emitted shape IS the executed logical shape; AQE may
still convert shuffle joins to broadcast at runtime, which changes the
algorithm, not the order.
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame

from .planner import LogicalJoinNode


def quote(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def emit_plan(
    tables: dict[str, DataFrame],
    plan: list[LogicalJoinNode],
    filters: dict[str, str] | None = None,
) -> DataFrame:
    """Fold a left-deep join order into a single DataFrame.

    ``tables``  name -> base DataFrame.
    ``plan``    output of :meth:`JoinOptimizer.order_joins` (left-deep).
    ``filters`` optional per-table SQL predicates, applied pre-join.
    """
    if not plan:
        raise ValueError("empty plan")
    filters = filters or {}
    spark = tables[plan[0].left_table].sparkSession
    jsession = spark._jsparkSession
    client = spark._jvm._gateway_client

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, client)

    parse = jsession.sessionState().sqlParser().parseExpression
    Filter = jclass("org.apache.spark.sql.catalyst.plans.logical.Filter")
    Join = jclass("org.apache.spark.sql.catalyst.plans.logical.Join")
    Some = jclass("scala.Some")
    inner = jclass("org.apache.spark.sql.catalyst.plans.JoinType").apply("inner")
    no_hint = jclass("org.apache.spark.sql.catalyst.plans.logical.JoinHint").NONE()

    def base(name: str):
        node = tables[name]._jdf.logicalPlan()
        if name in filters:
            node = Filter(parse(filters[name]), node)
        return node

    def cond(j: LogicalJoinNode):
        return parse(f"{quote(j.left_field)} {j.op.value} {quote(j.right_field)}")

    first = plan[0]
    joined_tables = {first.left_table, first.right_table}
    current = Join(
        base(first.left_table), base(first.right_table), inner, Some(cond(first)), no_hint
    )
    for j in plan[1:]:
        if j.left_table in joined_tables and j.right_table in joined_tables:
            # both sides already joined: this predicate is an extra edge
            current = Filter(cond(j), current)
            continue
        if j.left_table in joined_tables:
            new_table = j.right_table
        elif j.right_table in joined_tables:
            new_table = j.left_table
        else:
            raise ValueError(f"plan is not left-deep connected at {j}")
        current = Join(current, base(new_table), inner, Some(cond(j)), no_hint)
        joined_tables.add(new_table)

    jdf = jclass("org.apache.spark.sql.classic.Dataset").ofRows(jsession, current)
    return DataFrame(jdf, spark)


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (for tests asserting broadcast/pushdown)."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )
