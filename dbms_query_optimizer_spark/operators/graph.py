"""Iterative graph computation: PageRank over the event-type transition
graph, plus the corpus-node-domain loops (WCC, BFS) further down.

PageRank's corpus-scale work (the per-user LEAD pair scan, the grouped
transition counts) runs distributed; the transition matrix those collapse
to is |event types|² rows — fixed by the event vocabulary, not the corpus
— so the 10 power iterations run driver-local over the collected matrix
(r11; the prior per-iteration broadcast-join chain was pure fixed
overhead: a 133-operator plan and 10 tiny jobs for ≤ |types|²-row
frames). The driver-orchestrated distributed-iteration pattern for
graphs whose NODE domain grows with the corpus lives in
``_frontier_loop`` below, shared by ``weakly_connected_components``,
``bfs_hops`` and ``kcore`` (frontier messaging, per-round checkpoint
lineage truncation).

The oracle unrolls the same power iteration as chained CTEs (standard SQL
forbids aggregation inside a recursive CTE member, so unrolling is the
portable formulation). Both engines fold contributions in deterministic
per-node sums of ≤|types| doubles; ROUND(…,6) absorbs ulp-order effects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import track_persist
from ..engine import load_tables

PR_ITERATIONS = 10
PR_DAMPING = 0.85


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted edge list: P(to | from) over the SHARED transition-pair
    definition (governance.transition_counts) — one source of truth for
    what a "transition" is across the matrix and PageRank operators."""
    from pyspark.sql import Window as W

    from .governance import transition_counts

    pairs = transition_counts(spark, sf_dir)
    w_from = F.sum("n_transitions").over(W.partitionBy("from_type"))
    return pairs.select(
        "from_type",
        "to_type",
        (F.col("n_transitions") / w_from).alias("p"),
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 fixed power iterations, damping 0.85) over event types.

    rank_{t+1}(i) = (1-d)/N + d·Σ_j P(j→i)·rank_t(j). The corpus-scale
    work — the per-user LEAD pair scan and the grouped transition counts
    — runs distributed (one pass, map-side combined); the transition
    MATRIX it collapses to is |event types|² rows, a quantity fixed by
    the event vocabulary, not the corpus, so the matrix is collected
    once (metadata-scale, the same class as the node count the previous
    formulation already collected) and the power iteration runs on the
    driver in plain doubles. r11 shape (guide §1.2 step 1): the prior
    per-iteration broadcast-join chain built a 133-operator physical
    plan whose analysis + 10 tiny-job rounds cost ~2 s at ANY scale —
    pure fixed overhead, since every joined frame was ≤ |types|² rows.
    A billion-NODE graph (user graph, not type graph) needs the
    distributed loop — that shape lives in
    ``weakly_connected_components``, which ``q_graph_wcc``,
    ``dedup.q_dedup_components`` and ``dedup.q_entity_resolution`` share;
    this operator's node domain never grows.
    """
    return _pagerank(spark, sf_dir, PR_ITERATIONS)


def _pagerank(spark: SparkSession, sf_dir: str, iterations: int) -> DataFrame:
    # |types|²-row collect: metadata-scale at any corpus size.
    rows = _edges(spark, sf_dir).collect()
    nodes = sorted(
        {r["from_type"] for r in rows} | {r["to_type"] for r in rows}
    )
    n = len(nodes)
    base = (1.0 - PR_DAMPING) / n
    incoming: dict[str, list[tuple[str, float]]] = {v: [] for v in nodes}
    for r in rows:
        incoming[r["to_type"]].append((r["from_type"], float(r["p"])))
    for lst in incoming.values():
        lst.sort()  # deterministic inflow fold order

    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        rank = {
            v: base
            + PR_DAMPING * sum((p * rank[u] for u, p in incoming[v]), 0.0)
            for v in nodes
        }
    # final rounding stays in Spark (F.round = HALF_UP on doubles, the
    # exact rounding the oracle comparison was proven against; Python's
    # round() is banker's and would diverge on .5e-6 boundaries)
    out = spark.createDataFrame(
        [(v, rank[v]) for v in nodes], "node string, rank double"
    )
    return out.select(
        "node", F.round("rank", 6).alias("pagerank")
    ).orderBy("node")


def _oracle_pagerank() -> str:
    base = f"(1.0 - {PR_DAMPING}) / (SELECT n FROM nn)"
    steps = []
    for i in range(1, PR_ITERATIONS + 1):
        steps.append(
            f"""r{i} AS (
    SELECT n2.node,
           {base} + {PR_DAMPING} * COALESCE(SUM(e.p * r.rank), 0.0) AS rank
    FROM nodes n2
    LEFT JOIN edges e ON e.to_type = n2.node
    LEFT JOIN r{i - 1} r ON r.node = e.from_type
    GROUP BY n2.node
)"""
        )
    return f"""
WITH pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    )
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
edges AS (
    SELECT from_type, to_type,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM pairs
),
nodes AS (
    SELECT DISTINCT from_type AS node FROM pairs
    UNION
    SELECT DISTINCT to_type FROM pairs
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{','.join(steps)}
SELECT node, ROUND(rank, 6) AS pagerank
FROM r{PR_ITERATIONS}
ORDER BY node
"""


TRIANGLE_MIN_SUPPORT = 2  # co-purchase edge threshold


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the part co-purchase graph
    (parts bought together in ≥ TRIANGLE_MIN_SUPPORT orders form an
    edge). Edges are oriented u < v so each triangle {i<j<k} is produced
    by exactly one join path (i→j)⋈(j→k)⋈(i→k) — two hash equi-joins, no
    post-dedup, the standard DataFrame formulation of the MapReduce
    triangle-enumeration algorithm. Per-join fan-out is bounded by node
    degree; at web scale the same query first re-orients edges
    low-degree→high-degree, which caps the join key's fan-out at
    O(sqrt(|E|)) — the degree-ordering refinement, noted here because the
    co-purchase graph is near-uniform and doesn't need it. Output is a
    1-row summary (nodes, edges, triangles) so the value hash is
    meaningful even when the triangle count is small.
    """
    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.toDF("okey", "pa")
    b = li.toDF("okey", "pb")
    edges = track_persist(
        a.join(b, "okey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= TRIANGLE_MIN_SUPPORT)
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
    )
    e1 = edges.toDF("i", "j")
    e2 = edges.toDF("j", "k")
    e3 = edges.toDF("i", "k")
    triangles = e1.join(e2, "j").join(e3, ["i", "k"])
    nodes = edges.select(F.col("u").alias("n")).union(edges.select("v")).distinct()
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(triangles.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


ORACLE_GRAPH_TRIANGLE_COUNT = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS okey, l_partkey FROM lineitem
),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b ON a.okey = b.okey AND a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
),
nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*) FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""


LINK_PRED_TOP_K = 50


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the part co-purchase graph:
    for every NON-edge pair sharing at least one neighbor, the Jaccard
    score |N(a)∩N(b)| / |N(a)∪N(b)| — the classic "customers also
    bought" / recommender-candidate generator, and the feature-prep
    step of graph-ML pipelines. Top LINK_PRED_TOP_K pairs by score.

    Shape: the same wedge join as triangle counting (candidate pairs =
    paths of length 2, per-join fan-out bounded by node degree; at web
    scale re-orient edges low-degree→high-degree first), one anti-join
    removes existing edges, degree lookups are |nodes|-sized joins, and
    the top-k is TakeOrdered — distributed, no global window. The score
    is one IEEE division of exact integers (cn / (deg_a+deg_b−cn)),
    bit-identical on both engines; ties at the cut break on (a, b).
    """
    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ia = li.toDF("okey", "pa")
    ib = li.toDF("okey", "pb")
    edges = track_persist(
        ia.join(ib, "okey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= TRIANGLE_MIN_SUPPORT)
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
    )
    und = edges.union(edges.select(F.col("v"), F.col("u"))).toDF("node", "nbr")
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    cand = (
        und.toDF("a", "n")
        .join(und.toDF("b", "n2"), F.col("n") == F.col("n2"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(edges, (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
              "left_anti")
    )
    scored = (
        cand.join(deg.toDF("a", "deg_a"), "a")
        .join(deg.toDF("b", "deg_b"), "b")
        .withColumn(
            "jaccard",
            F.col("cn").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double"),
        )
    )
    return (
        scored.select("a", "b", "cn", "deg_a", "deg_b", "jaccard")
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(LINK_PRED_TOP_K)
    )


ORACLE_GRAPH_LINK_PREDICTION = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS okey, l_partkey FROM lineitem
),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b ON a.okey = b.okey AND a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING COUNT(*) >= {TRIANGLE_MIN_SUPPORT}
),
und AS (
    SELECT u AS node, v AS nbr FROM edges
    UNION ALL
    SELECT v, u FROM edges
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY node),
cand AS (
    SELECT x.node AS a, y.node AS b, CAST(COUNT(*) AS BIGINT) AS cn
    FROM und x JOIN und y ON x.nbr = y.nbr AND x.node < y.node
    GROUP BY x.node, y.node
),
nonedge AS (
    SELECT c.* FROM cand c
    WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.u = c.a AND e.v = c.b
    )
)
SELECT a, b, cn, da.deg AS deg_a, db.deg AS deg_b,
       CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard
FROM nonedge n
JOIN deg da ON da.node = n.a
JOIN deg db ON db.node = n.b
ORDER BY jaccard DESC, a, b
LIMIT {LINK_PRED_TOP_K}
"""


def q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph + a log-log power-law
    fit: P(degree) frequencies with regr_slope over (ln degree,
    ln count) — the first diagnostic of any graph's shape (a heavy tail
    means hub documents that chain whole clusters together, which is
    exactly what decides between pair-dropping and component-based
    dedup). Degrees from one groupBy over the undirected edge list;
    the distribution is ≤ max-degree rows, so the regression and the
    broadcast of its 1-row result are metadata-sized at any corpus
    scale.
    """
    from .dedup import q_dedup_simhash_pairs

    edges = q_dedup_simhash_pairs(spark, sf_dir).select("id_a", "id_b")
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .union(edges.select("id_b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    dist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    fit = dist.agg(
        F.round(
            F.regr_slope(F.log("n_nodes"), F.log("degree")), 4
        ).alias("loglog_slope")
    )
    return (
        dist.crossJoin(F.broadcast(fit))
        .select("degree", "n_nodes", "loglog_slope")
        .orderBy("degree")
    )


def _oracle_degree_distribution() -> str:
    from .dedup import _sql_simhash_pair_ctes

    return (
        _sql_simhash_pair_ctes()
        + """,
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT id_a AS node FROM spairs
            UNION ALL
            SELECT id_b FROM spairs
        ) GROUP BY node
    ),
    dist AS (SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree),
    fit AS (
        SELECT ROUND(regr_slope(LN(n_nodes), LN(degree)), 4) AS loglog_slope
        FROM dist
    )
    SELECT d.degree, d.n_nodes, f.loglog_slope
    FROM dist d CROSS JOIN fit f
    ORDER BY d.degree
    """
    )


MARKOV_K = 25  # fixed absorption iterations — both engines run exactly K
MARKOV_CONV = "purchase"
MARKOV_CHANNELS = ["click", "error", "signup", "view"]  # transient types
MARKOV_START = "__start__"
MARKOV_NULL = "__null__"


def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order attribution chain from per-user event paths, truncated
    at the FIRST conversion (purchase absorbs): start→first event,
    consecutive-event transitions, last event→null for never-converting
    users. One distributed pass (user-partitioned windows + a grouped
    count); the result is (states+2)² rows at most — broadcast scale."""
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select("user_id", "event_type", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    wp = W.partitionBy("user_id")
    fp = F.min(
        F.when(F.col("event_type") == MARKOV_CONV, F.col("rn"))
    ).over(wp)
    kept = base.withColumn("fp", fp).filter(
        F.col("rn") <= F.coalesce(F.col("fp"), F.lit(2**31))
    )
    w2 = W.partitionBy("user_id").orderBy("rn")
    seq = kept.select(
        "event_type", "rn", "fp", F.lead("event_type").over(w2).alias("nxt")
    )
    # Each row contributes up to THREE transitions (its consecutive-event
    # edge, the start edge if it is the user's first event, the null edge
    # if it ends a never-converting path). Emitting them as one
    # conditional-array explode keeps the window chain (scan + user_id
    # exchange + two sorts) in the plan ONCE — the previous three-branch
    # unionAll re-executed that whole subtree per branch (r11, guide
    # §2.4). Multiset of (s, t) rows is identical by construction.
    contrib = F.array(
        F.when(
            F.col("nxt").isNotNull(),
            F.struct(
                F.col("event_type").alias("s"), F.col("nxt").alias("t")
            ),
        ),
        F.when(
            F.col("rn") == 1,
            F.struct(
                F.lit(MARKOV_START).alias("s"),
                F.col("event_type").alias("t"),
            ),
        ),
        F.when(
            F.col("nxt").isNull() & F.col("fp").isNull(),
            F.struct(
                F.col("event_type").alias("s"),
                F.lit(MARKOV_NULL).alias("t"),
            ),
        ),
    )
    return (
        seq.select(
            F.explode(F.filter(contrib, lambda x: x.isNotNull())).alias("st")
        )
        .select(F.col("st.s").alias("s"), F.col("st.t").alias("t"))
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven member
    of the attribution family (`first_touch` credits the entry,
    `linear_attribution` splits evenly; the Markov model credits each
    channel by how much the conversion probability DROPS when that
    channel is deleted from the journey graph — Anderl et al. 2014).

    Distributed part: the transition-count aggregate (user-partitioned
    windows, one shuffle). The chain itself is (|event types|+2)² numbers
    — broadcast scale — so the absorption probabilities are solved
    driver-side by K fixed power iterations, the same metadata-sized
    driver math as `similarity.py`'s PCA moments. The oracle unrolls the
    IDENTICAL K iterations per removal chain as CTEs, and every emitted
    probability is ROUND(…,6) — the `graph_pagerank` contract that
    absorbs summation-order ulps between engines. Exact integer
    `n_touch` anchors each channel row to the data.
    """
    trans_rows = _markov_transitions(spark, sf_dir).collect()
    counts: dict[tuple[str, str], int] = {(r.s, r.t): r.n for r in trans_rows}
    out_tot: dict[str, int] = {}
    for (s, _), n in counts.items():
        out_tot[s] = out_tot.get(s, 0) + n
    transient = sorted(out_tot)  # every source state is transient
    probs = {
        (s, t): n / out_tot[s] for (s, t), n in counts.items()
    }

    def absorb(removed: str | None) -> float:
        x = {s: 0.0 for s in transient}
        for _ in range(MARKOV_K):
            nxt = {}
            for s in transient:
                acc = probs.get((s, MARKOV_CONV), 0.0)
                for t in transient:
                    if t == removed:
                        continue
                    p = probs.get((s, t))
                    if p is not None:
                        acc += p * x[t]
                nxt[s] = acc
            x = nxt
        return x[MARKOV_START]

    p_base = absorb(None)
    effects = {c: p_base - absorb(c) for c in MARKOV_CHANNELS}
    te = sum(effects[c] for c in sorted(effects))
    rows = [
        (
            c,
            int(out_tot.get(c, 0)),
            p_base,
            p_base - effects[c],
            effects[c],
            effects[c] / te,
        )
        for c in MARKOV_CHANNELS
    ]
    # Round via F.round, not Python round(): the repo's ROUND(…,6)
    # contract pairs Spark F.round (HALF_UP) with DuckDB ROUND
    # (half-away-from-zero); Python's round-half-to-even would diverge
    # on an exact 1e-7 half-boundary.
    raw = spark.createDataFrame(
        rows,
        "channel string, n_touch long, p_base double, p_removed double,"
        " removal_effect double, credit_share double",
    )
    return raw.select(
        "channel",
        "n_touch",
        *[
            F.round(F.col(c), 6).alias(c)
            for c in ("p_base", "p_removed", "removal_effect", "credit_share")
        ],
    ).orderBy("channel")


def _oracle_markov_attribution() -> str:
    absorbing = f"'{MARKOV_CONV}', '{MARKOV_NULL}'"
    chains = [("none", None)] + [(c, c) for c in MARKOV_CHANNELS]
    steps = []
    for name, removed in chains:
        excl = absorbing + (f", '{removed}'" if removed else "")
        steps.append(
            f"x_{name}_0 AS MATERIALIZED (SELECT s, 0.0 AS val FROM pconv)"
        )
        for i in range(1, MARKOV_K + 1):
            steps.append(
                f"""x_{name}_{i} AS MATERIALIZED (
    SELECT pc.s, pc.pc + COALESCE(SUM(p.p * x.val), 0.0) AS val
    FROM pconv pc
    LEFT JOIN probs p ON p.s = pc.s AND p.t NOT IN ({excl})
    LEFT JOIN x_{name}_{i - 1} x ON x.s = p.t
    GROUP BY pc.s, pc.pc
)"""
            )
    eff_rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS channel,
           COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM counts
                     WHERE s = '{c}'), 0) AS n_touch,
           (SELECT val FROM x_none_{MARKOV_K} WHERE s = '{MARKOV_START}') AS p_base,
           (SELECT val FROM x_{c}_{MARKOV_K} WHERE s = '{MARKOV_START}') AS p_removed"""
        for c in MARKOV_CHANNELS
    )
    return f"""
WITH ordered AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), flagged AS (
    SELECT *, MIN(CASE WHEN event_type = '{MARKOV_CONV}' THEN rn END)
              OVER (PARTITION BY user_id) AS fp
    FROM ordered
), kept AS (
    SELECT user_id, event_type, rn, fp,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
    FROM flagged WHERE rn <= COALESCE(fp, 2147483647)
), trans AS (
    SELECT event_type AS s, nxt AS t FROM kept WHERE nxt IS NOT NULL
    UNION ALL
    SELECT '{MARKOV_START}', event_type FROM kept WHERE rn = 1
    UNION ALL
    SELECT event_type, '{MARKOV_NULL}' FROM kept
    WHERE nxt IS NULL AND fp IS NULL
), counts AS MATERIALIZED (
    SELECT s, t, CAST(COUNT(*) AS BIGINT) AS n FROM trans GROUP BY s, t
), probs AS MATERIALIZED (
    SELECT s, t,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY s) AS DOUBLE) AS p
    FROM counts
), pconv AS MATERIALIZED (
    SELECT st.s,
           COALESCE(MAX(CASE WHEN p.t = '{MARKOV_CONV}' THEN p.p END), 0.0)
               AS pc
    FROM (SELECT DISTINCT s FROM counts) st
    LEFT JOIN probs p ON p.s = st.s
    GROUP BY st.s
), {", ".join(steps)},
eff AS (
{eff_rows}
), tot AS (
    SELECT SUM(p_base - p_removed) AS te FROM eff
)
SELECT channel, n_touch,
       ROUND(p_base, 6) AS p_base,
       ROUND(p_removed, 6) AS p_removed,
       ROUND(p_base - p_removed, 6) AS removal_effect,
       ROUND((p_base - p_removed) / te, 6) AS credit_share
FROM eff, tot
ORDER BY channel
"""


def _frontier_loop(
    edges: DataFrame,
    init: Callable[[DataFrame], DataFrame],
    step: Callable[[DataFrame, DataFrame, int], DataFrame],
    rounds: int,
    error: str,
) -> DataFrame:
    """The bounded frontier loop behind WCC, BFS and k-core: the one
    place that owns the edge frame, the loop width, the per-round
    checkpoint, the empty-frontier stop and the round bound.

    A state is a node-domain frame whose boolean ``live`` column marks
    the frontier (WCC: labels that just improved; BFS: nodes first
    reached this round; k-core: nodes whose degree just fell below k).
    ``init(und)`` builds state 0 and ``step(und, state, r)`` builds
    state r from state r - 1, both over ``und``, the symmetric,
    distinct edge list (``src``, ``dst``). The loop stops at the first
    state with no live row and returns it without ``live``; if states
    0..``rounds`` all have a live row it raises ``RuntimeError(error)``
    without building state ``rounds + 1``.

    Loop shape (measured on local[32]):
    - ``und`` is persisted HASH-PARTITIONED on ``src`` at
      ``state_width``: every round re-joins it on ``src``, and a cached
      frame's partitioning is visible to the planner, so only the
      (shrinking) frontier moves each round; without the persist each
      round would re-run the whole upstream edge build. Its plan,
      shuffles included, is fixed when it is persisted, i.e. at the
      ambient ``spark.sql.shuffle.partitions``, whichever job first
      materializes it.
    - The rounds run with ``spark.sql.shuffle.partitions`` narrowed to
      ``state_width``, so each round's joins and aggregates plan
      ``width`` tasks instead of the session's full width: task launch
      was the measured majority of the WCC loop. The width tracks the
      configured parallelism (``state_width``), so this stays sound on a
      cluster. The setting is restored on exit.
    - Each state is coalesced to that width and ``localCheckpoint``-ed,
      so the plan depth stays constant over the rounds (labels,
      visited sets and degrees are node-domain-sized, the documented
      exception to the no-corpus-checkpoint rule) and nothing returned
      re-reads ``und``, which is released on every exit path.
    """
    from ..session import state_width

    spark = edges.sparkSession
    width = state_width(edges)
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(width, "src")
        .persist()
    )
    key = "spark.sql.shuffle.partitions"
    ambient = spark.conf.get(key)
    try:
        state = init(und).coalesce(width).localCheckpoint()
        spark.conf.set(key, str(width))
        for r in range(1, rounds + 2):
            if state.filter("live").count() == 0:
                return state.drop("live")
            if r > rounds:
                break
            state = step(und, state, r).coalesce(width).localCheckpoint()
    finally:
        spark.conf.set(key, ambient)
        und.unpersist()
    raise RuntimeError(error)


def _star_edges(members: DataFrame, keys: list[str]) -> DataFrame:
    """Star edges (member -> group min) per co-occurrence group: O(group)
    edges with the same connectivity as the quadratic clique — the
    lossless-blocking discipline shared by the WCC and BFS fixture
    graphs. ``members`` carries user_id + the grouping columns."""
    from pyspark.sql import Window as W

    mu = F.min("user_id").over(W.partitionBy(*keys))
    return (
        members.select("user_id", mu.alias("mu"))
        .filter(F.col("user_id") != F.col("mu"))
        .select(F.col("user_id").alias("src"), F.col("mu").alias("dst"))
        .distinct()
    )


WCC_MAX_ITERS = 30  # rounds bound = graph diameter; raise for path-like graphs


def weakly_connected_components(
    edges: DataFrame, max_iters: int = WCC_MAX_ITERS
) -> DataFrame:
    """Generic weakly-connected components over an edge list
    (``src``/``dst`` columns, any orientation) by iterative min-label
    propagation with DELTA (frontier) messaging — the one
    connected-components loop in the package: ``q_graph_wcc``,
    ``dedup.q_dedup_components`` (near-dup doc pairs) and
    ``dedup.q_entity_resolution`` (string part names, bounded at
    ``ER_MAX_ITERS``) all call it.

    Returns (node, component) where component = min node id reachable.
    Scale: labels are |nodes| rows and messages track the SHRINKING
    frontier (a node whose label didn't improve has nothing new to tell
    its neighbors); ``_frontier_loop`` runs the rounds. The first round
    needs no join: every node starts labelled with itself, so its round-1
    label is the min of itself and its neighbors, one aggregate over the
    ``src``-partitioned edge frame. ``max_iters`` bounds the rounds,
    that first one included.

    Each later round also POINTER-JUMPS: after the message step, every
    node takes the min of its new label and that label's label as of
    the previous round, so label chains shortcut every round — measured
    10 → 7 rounds (counting the final empty-frontier round) on the sf0.1
    fixture graph (one 1445-node component), 13 → 8 on the
    dedup_components near-dup graph. The jump reads the previous round's
    CHECKPOINTED labels, not this round's post-message labels: the
    latter made the jump a self-join of the round's uncheckpointed
    frame, which doubled the round cost on the entity_resolution name
    graph for no fewer rounds (local[4] on a 4-core VM: 0.27 s a round
    without a jump, 0.55 s with that jump, 0.38 s with this one). The
    jump is one extra node-domain join per round; safety is monotone
    (labels only decrease, and a label's label is always in the same
    component), and the frontier rule stays sound because ``live`` is
    computed against the round's FINAL label, message- or jump-sourced
    alike.
    """

    def first_round(und: DataFrame) -> DataFrame:
        return (
            und.groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("m"))
            .select(
                "node",
                F.least("node", "m").alias("label"),
                (F.col("m") < F.col("node")).alias("live"),
            )
        )

    def step(und: DataFrame, labels: DataFrame, _r: int) -> DataFrame:
        msg_min = (
            und.join(
                labels.filter("live").select(
                    F.col("node").alias("f_node"), F.col("label").alias("f_label")
                ),
                und.src == F.col("f_node"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("f_label").alias("m"))
        )
        stepped = labels.join(msg_min, "node", "left").select(
            "node",
            "label",
            F.least("label", F.coalesce("m", "label")).alias("l1"),
        )
        # pointer jump: follow l1 to the label node l1 held after the
        # previous round
        hop = labels.select(F.col("node").alias("j_node"), F.col("label").alias("j_l1"))
        new_label = F.least("l1", F.coalesce("j_l1", "l1"))
        return stepped.join(hop, stepped.l1 == F.col("j_node"), "left").select(
            "node", new_label.alias("label"), (new_label < F.col("label")).alias("live")
        )

    labels = _frontier_loop(
        edges,
        first_round,
        step,
        max_iters - 1,
        f"WCC did not converge in {max_iters} iterations",
    )
    return labels.select("node", F.col("label").alias("component"))


def _wcc_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic-WCC fixture graph: purchase events co-occurring in the
    same (day, hour, props.k) slot. The grouping is a fixture device
    (the repo's standard trick — cf. geo.py's derived coordinates) that
    yields non-trivial component structure from the seeded data (120
    components, max size 5 at sf0.01); the OPERATOR under test is the
    generic edge-list WCC above.

    Each co-occurrence group emits STAR edges (member -> group min), not
    the quadratic clique: O(group) edges with identical connectivity —
    the same lossless-blocking discipline as the LSH band join."""
    ev = load_tables(spark, sf_dir)["events"]
    members = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.hour("ts").alias("h"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .distinct()
    )
    return _star_edges(members, ["d", "h", "k"])


def q_graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components over a generic edge list — the graph
    primitive behind entity resolution, dedup clustering, and household/
    account linking — run on the purchase co-occurrence graph.

    Output: every purchase-active user with its component id (min user
    in the component) and the component size. Users with no edges are
    their own singleton components (isolated nodes never enter the
    propagation loop; they are union'd back label=self).

    The DuckDB oracle computes the same components with a recursive CTE
    (transitive closure, then per-node min) — full value parity for an
    operator SQL cannot express without recursion.
    """
    edges = _wcc_interactions(spark, sf_dir)
    ev = load_tables(spark, sf_dir)["events"]
    nodes = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("node"))
        .distinct()
    )
    comp = weakly_connected_components(edges)
    full = (
        nodes.join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("component", "node").alias("component"),
        )
    )
    from pyspark.sql import Window as W

    return (
        full.select(
            F.col("node").alias("user_id"),
            "component",
            F.count(F.lit(1))
            .over(W.partitionBy("component"))
            .alias("component_size"),
        )
        .orderBy("user_id")
    )


ORACLE_GRAPH_WCC = """
WITH RECURSIVE members AS (
    SELECT DISTINCT user_id,
           CAST(ts AS DATE) AS d,
           date_part('hour', ts) AS h,
           CAST(json_extract(props, '$.k') AS INT) AS k
    FROM events WHERE event_type = 'purchase'
),
star AS (
    SELECT user_id, MIN(user_id) OVER (PARTITION BY d, h, k) AS mu
    FROM members
),
e AS (SELECT DISTINCT user_id AS a, mu AS b FROM star WHERE user_id <> mu),
und AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
nodes AS (
    SELECT DISTINCT user_id AS node FROM events WHERE event_type = 'purchase'
),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT node AS user_id, component,
       COUNT(*) OVER (PARTITION BY component) AS component_size
FROM comp
ORDER BY user_id
"""


BFS_MAX_HOPS = 30  # max representable hop distance (oracle CTE depth bound)


def bfs_hops(edges: DataFrame, source) -> DataFrame:
    """Generic single-source BFS over an edge list (``src``/``dst``, any
    orientation): (node, hops) for every node reachable from ``source``,
    the source itself at hop 0. Unreachable nodes are excluded.

    Classic frontier BFS on ``_frontier_loop``: the first state is the
    source and its neighbors, read off the ``src``-partitioned edge frame
    with no join; then round d joins the nodes first reached in round
    d - 1 against the edge list, anti-joins out already-visited nodes,
    and tags survivors with distance d — each edge is traversed at most
    twice over the whole run (once per direction, the round its source
    enters the frontier), so total work is O(E) regardless of round
    count, and the visited set is the node-domain state checkpointed per
    round.

    Hops up to and INCLUDING ``BFS_MAX_HOPS`` are allowed, so the loop
    runs one confirming round past the bound: only a frontier still
    alive BEYOND it raises. ``BFS_MAX_HOPS`` is read at call time.
    """

    def first_hop(und: DataFrame) -> DataFrame:
        return (
            und.filter((F.col("src") == source) & (F.col("dst") != source))
            .select(F.col("dst").alias("node"), F.lit(1).alias("hops"), F.lit(True).alias("live"))
            .union(
                und.sparkSession.range(1).select(
                    F.lit(source).cast(und.schema["src"].dataType).alias("node"),
                    F.lit(0).alias("hops"),
                    F.lit(False).alias("live"),
                )
            )
        )

    def step(und: DataFrame, visited: DataFrame, r: int) -> DataFrame:
        # state r - 1 reached hop r; this one reaches hop r + 1
        reached = (
            und.join(
                visited.filter("live").select(F.col("node").alias("f_node")),
                und.src == F.col("f_node"),
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        return visited.select("node", "hops", F.lit(False).alias("live")).union(
            reached.select("node", F.lit(r + 1).alias("hops"), F.lit(True).alias("live"))
        )

    return _frontier_loop(
        edges,
        first_hop,
        step,
        BFS_MAX_HOPS,
        f"BFS frontier alive beyond {BFS_MAX_HOPS} hops — "
        "outside the oracle's CTE depth bound",
    )


def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distance over the generic edge list — the
    unweighted-shortest-path primitive (blast-radius queries, degrees of
    separation, influence radius), completing the graph family's
    distance axis next to connectivity (``graph_wcc``) and centrality
    (``graph_pagerank``).

    The fixture graph here is the ALL-events co-activity star graph
    ((day, hour, event_type) groups — denser than the purchase graph, so
    the driver-checked sf0.01 result carries the full 150-user level
    structure rather than a near-singleton component). Source = the
    minimum user with at least one edge, else the minimum user; the
    operator is the generic ``bfs_hops``. Output also carries n_at_hop —
    how many nodes share the row's distance — making the hash sensitive
    to the full level structure.

    The oracle walks the same graph with a bounded recursive CTE
    ((node, depth) states, depth < BFS_MAX_HOPS — so hops up to and
    INCLUDING BFS_MAX_HOPS are representable, then MIN(depth) per node).
    ``bfs_hops`` raises only for a frontier still alive BEYOND the
    bound, because the oracle could no longer represent those nodes.
    """
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir)["events"]
    members = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.hour("ts").alias("h"),
            F.col("event_type").alias("t"),
        )
        .distinct()
    )
    # cached: the source choice and the BFS edge build both read it
    edges = track_persist(_star_edges(members, ["d", "h", "t"]))
    # min edge-bearing user; on an edge-free fixture fall back to the min
    # user so the result is the source alone at hop 0 rather than a
    # crash/NULL divergence
    source = edges.agg(F.min(F.least("src", "dst")).alias("s")).collect()[0]["s"]
    if source is None:
        source = ev.agg(F.min("user_id").alias("s")).collect()[0]["s"]
    return (
        bfs_hops(edges, source)
        .select(
            F.col("node").alias("user_id"),
            "hops",
            F.count(F.lit(1)).over(W.partitionBy("hops")).alias("n_at_hop"),
        )
        .orderBy("user_id")
    )


ORACLE_GRAPH_BFS_HOPS = f"""
WITH RECURSIVE members AS (
    SELECT DISTINCT user_id,
           CAST(ts AS DATE) AS d,
           date_part('hour', ts) AS h,
           event_type AS t
    FROM events
),
star AS (
    SELECT user_id, MIN(user_id) OVER (PARTITION BY d, h, t) AS mu
    FROM members
),
e AS (SELECT DISTINCT user_id AS a, mu AS b FROM star WHERE user_id <> mu),
und AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
s AS (SELECT COALESCE((SELECT MIN(src) FROM und),
                      (SELECT MIN(user_id) FROM members)) AS source),
walk(node, depth) AS (
    SELECT source, 0 FROM s
    UNION
    SELECT u.dst, walk.depth + 1
    FROM walk JOIN und u ON u.src = walk.node
    WHERE walk.depth < {BFS_MAX_HOPS}
),
dist AS (SELECT node, CAST(MIN(depth) AS INT) AS hops FROM walk GROUP BY node)
SELECT node AS user_id, hops,
       COUNT(*) OVER (PARTITION BY hops) AS n_at_hop
FROM dist
ORDER BY user_id
"""


KCORE_K = 3  # minimum in-core degree
KCORE_QTY_MIN = 48  # fixture edge filter: supply links with quantity >= 48
# Oracle unroll depth == the Spark loop's round bound (handshake, the
# BFS_MAX_HOPS pattern): a cascade still shedding nodes beyond this
# raises Spark-side because the unrolled oracle could no longer follow.
# Measured cascade depth on the fixture is 1 round at every SF;
# tests/test_graph_wcc.py pins the bound on crafted multi-round graphs.
KCORE_MAX_ROUNDS = 8


def kcore(edges: DataFrame, k: int = KCORE_K, max_rounds: int = KCORE_MAX_ROUNDS) -> DataFrame:
    """Generic k-core over an edge list (``src``/``dst``, any
    orientation): the maximal subgraph where every node keeps >= k
    neighbors — the standard graph-curation primitive (dense-community
    seeds, spam/bot subgraph mining, coauthor-core extraction).

    DELTA-DECREMENT peeling, not recompute-all: degrees are computed
    ONCE, then each round joins only the just-dropped nodes against
    their incident edges and decrements the survivors' counts — an edge
    fires at most once per direction over the whole run (the round its
    endpoint drops), so total message volume is O(E) regardless of
    cascade depth, the same discipline as the BFS frontier and the WCC
    delta messaging. State is the node-domain (node, deg) frame on
    ``_frontier_loop``; the peel set is the frontier. Simultaneous-peel
    semantics (all deg<k nodes drop together), which is what makes the
    result order-independent and the unrolled oracle exact.

    Returns (node, core_degree) for surviving nodes; core_degree is the
    node's degree WITHIN the core (original degree minus every fired
    decrement). Raises if the cascade needs more than ``max_rounds``
    peel rounds.
    """

    def degrees(und: DataFrame) -> DataFrame:
        return (
            und.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).cast("int").alias("deg"))
            .withColumn("live", F.col("deg") < k)
        )

    def peel(und: DataFrame, deg: DataFrame, _r: int) -> DataFrame:
        dec = (
            und.join(
                deg.filter("live").select(F.col("node").alias("d_node")),
                und.src == F.col("d_node"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.count(F.lit(1)).cast("int").alias("dec"))
        )
        return (
            deg.filter(~F.col("live"))
            .join(dec, "node", "left")
            .select("node", (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg"))
            .withColumn("live", F.col("deg") < k)
        )

    deg = _frontier_loop(
        edges,
        degrees,
        peel,
        max_rounds,
        f"k-core cascade still shedding nodes after {max_rounds} "
        "rounds — outside the oracle's unroll bound",
    )
    return deg.select("node", F.col("deg").alias("core_degree"))


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the bipartite part–supplier supply graph (edges =
    distinct high-quantity lineitem links, quantity >= KCORE_QTY_MIN):
    parts and suppliers that remain after everything with fewer than
    KCORE_K strong supply relationships is iteratively peeled — the
    "dense trading core" of the supply network. Parts encode as
    2*partkey, suppliers as 2*suppkey+1 (disjoint node domains in one
    long id); output decodes back to (node_type, node_key) plus the
    in-core degree and the core size.

    The DuckDB oracle unrolls KCORE_MAX_ROUNDS simultaneous-peel steps
    (each recomputes degrees within the surviving set — the naive
    formulation; fixpoint is idempotent so extra unrolls are harmless)
    and emits the same decoded assignment — full value parity for an
    operator SQL cannot express without recursion over aggregates.
    """
    from pyspark.sql import Window as W

    li = load_tables(spark, sf_dir)["lineitem"]
    edges = (
        li.filter(F.col("l_quantity") >= KCORE_QTY_MIN)
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    core = kcore(edges)
    # core_size as a 1-row aggregate broadcast back — NOT a
    # partitionBy(lit(1)) window, which would funnel the node-domain
    # core through a SinglePartition exchange (the scale trap every
    # sibling global scalar here avoids the same way).
    size = core.agg(F.count(F.lit(1)).alias("core_size"))
    return (
        core.crossJoin(F.broadcast(size))
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").alias("node_key"),
            "core_degree",
            "core_size",
        )
        .orderBy("node_type", "node_key")
    )


def _oracle_kcore() -> str:
    # every step CTE is referenced TWICE by its successor (both join
    # legs); DuckDB inlines plain CTEs, so an unhinted unroll re-plans
    # a0's subtree 2^rounds times — measured 50.3 s vs 0.07 s
    # MATERIALIZED at sf0.001, identical rows (r12). MATERIALIZED is
    # semantics-free: each peel step computes once, as the Spark loop
    # does.
    steps = [
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und)",
    ]
    for r in range(1, KCORE_MAX_ROUNDS + 1):
        p = r - 1
        steps.append(
            f"""a{r} AS MATERIALIZED (
    SELECT u.src AS node
    FROM und u
    JOIN a{p} x ON u.src = x.node
    JOIN a{p} y ON u.dst = y.node
    GROUP BY u.src
    HAVING COUNT(*) >= {KCORE_K}
)"""
        )
    last = f"a{KCORE_MAX_ROUNDS}"
    return f"""
WITH e AS (
    SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
    FROM lineitem WHERE l_quantity >= {KCORE_QTY_MIN}
),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
{", ".join(steps)},
final AS (
    SELECT u.src AS node, CAST(COUNT(*) AS INT) AS core_degree
    FROM und u
    JOIN {last} x ON u.src = x.node
    JOIN {last} y ON u.dst = y.node
    GROUP BY u.src
)
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       node // 2 AS node_key,
       core_degree,
       COUNT(*) OVER () AS core_size
FROM final
ORDER BY node_type, node_key
"""


def oracles() -> dict[str, tuple]:
    return {
        "graph_pagerank": (q_graph_pagerank, _oracle_pagerank()),
        "graph_wcc": (q_graph_wcc, ORACLE_GRAPH_WCC),
        "graph_bfs_hops": (q_graph_bfs_hops, ORACLE_GRAPH_BFS_HOPS),
        "graph_kcore": (q_graph_kcore, _oracle_kcore()),
        "markov_attribution": (
            q_markov_attribution,
            _oracle_markov_attribution(),
        ),
        "graph_triangle_count": (q_graph_triangle_count, ORACLE_GRAPH_TRIANGLE_COUNT),
        "graph_link_prediction": (
            q_graph_link_prediction,
            ORACLE_GRAPH_LINK_PREDICTION,
        ),
        "graph_degree_distribution": (
            q_graph_degree_distribution,
            _oracle_degree_distribution(),
        ),
    }
