"""Physical-plan property regression tests.

Each representative query's expected plan shape lives here, as the
assertions themselves: a regression (lost pushdown, a dimension join
degrading to SortMergeJoin, a window sneaking in before a limit, an
accidental cartesian product) fails CI instead of silently shipping a
100×-worse plan. To read a whole plan, call ``.explain("formatted")`` on
the catalog entry.

Assertions target the formatted explain string — the same artifact a human
reads. Presence/absence checks run over the whole explain; ORDERING
checks run over the TREE section only (the indented operator diagram) —
the per-operator detail blocks that follow the tree repeat every
operator name, so any ordering assertion against the full string is
vacuously true.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from dbms_query_optimizer_spark.operators import catalog


def _tree(plan: str) -> str:
    """The operator-diagram section of a formatted explain (everything up
    to the first '(n) Operator' detail block). Tree lines are emitted
    top-down, so a child operator's line always appears AFTER its
    parent's — 'A above B in the plan' == 'A earlier than B in the tree'.
    """
    body = plan.split("== Physical Plan ==", 1)[-1]
    for i, line in enumerate(body.splitlines()):
        if line.startswith("(") and ") " in line:
            return "\n".join(body.splitlines()[:i])
    return body


@pytest.fixture(scope="module")
def explain(spark, sf_dir):
    qs = catalog.queries()
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, sf_dir).explain("formatted")
            cache[name] = buf.getvalue()
        return cache[name]

    return get


def test_flagship_pushdown_and_broadcast(explain):
    plan = explain("flagship_join_agg")
    assert "LessThan(o_totalprice,100000.0)" in plan  # filter reaches the scan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q6_all_predicates_pushed(explain):
    plan = explain("tpch_q6")
    # every predicate reaches the scan, which reads only referenced columns
    assert "LessThan(l_quantity,24.0)" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert plan.count("lineitem.parquet") == 1
    assert "Join" not in plan


def test_tpch_q2_single_lineitem_pass_no_selfjoin(explain):
    plan = explain("tpch_q2")
    # derived partsupp: exactly one lineitem scan feeds the whole query
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "Window" in plan  # min-per-part as a window, not a re-scan


def test_late_supplier_no_self_join(explain):
    plan = explain("late_supplier_blame")
    # Q21 shape collapsed to one aggregation: lineitem scanned once
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan


def _op_spans(tree: str, op: str) -> list[int]:
    """Start offsets of operator token ``op`` as a WHOLE word — a bare
    substring index would alias longer operator names (e.g. a 'Window'
    search matching WindowGroupLimit inserted by rank-limit pushdown)."""
    import re

    return [m.start() for m in re.finditer(rf"(?<![A-Za-z]){op}(?![A-Za-z])", tree)]


def test_zipf_rank_window_after_limit(explain):
    tree = _tree(explain("zipf_token_rank"))
    # the global-rank window must consume the TakeOrdered output (50 rows):
    # Window sits ABOVE TakeOrderedAndProject in the tree. The regression
    # (ranking the full vocabulary, limiting afterwards) flips the order.
    windows = _op_spans(tree, "Window")
    takes = _op_spans(tree, "TakeOrderedAndProject")
    assert windows and takes
    assert windows[0] < takes[0]


def test_curriculum_bins_no_global_window_on_corpus(explain):
    tree = _tree(explain("curriculum_bins"))
    # the single-partition cumulative window runs over the distinct-key
    # table, which an aggregate produces — so below the DEEPEST Window in
    # the tree there must still be a HashAggregate (the groupBy(n_chars)
    # key-count). Numbering raw corpus rows globally would put a Window
    # directly over the scan with no aggregate beneath it.
    windows = _op_spans(tree, "Window")
    assert windows
    below_last_window = tree[windows[-1]:]
    assert "HashAggregate" in below_last_window


def test_approx_counts_sample_filter_fused(explain):
    plan = explain("approx_counts_sampled")
    assert "md5" in plan and "Filter" in plan
    assert "Sample" not in plan  # deterministic predicate, not RNG sampling


def test_doc_length_histogram_no_corpus_shuffle(explain):
    plan = explain("doc_length_histogram")
    # two aggregation trees (bounds + buckets) over the same scan; the
    # cross join against the 1-row bounds must be a broadcast nested loop
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_brute_force_broadcast_probe(explain):
    plan = explain("knn_brute_force")
    assert "BroadcastNestedLoopJoin" in plan  # 5 probes × corpus by design
    assert "SortMergeJoin" not in plan


def test_sliding_distinct_dedupe_before_range_join(explain):
    tree = _tree(explain("sliding_distinct_users"))
    # the (day, user) dedupe aggregate must sit BELOW the range join in
    # the tree (children print after parents): joining raw events first
    # and deduping afterwards is the 100x-blowup regression.
    head, _, tail = tree.partition("BroadcastNestedLoopJoin")
    assert tail, "range join missing"
    assert "HashAggregate" in tail  # dedupe in the join's subtree


def test_shuffle_hash_join_strategy_pinned(explain):
    plan = explain("join_shuffle_hash")
    tree = _tree(plan)
    assert "ShuffledHashJoin" in tree  # the hinted middle strategy
    assert "SortMergeJoin" not in tree  # what Catalyst would default to
    assert "CartesianProduct" not in tree


@pytest.mark.parametrize(
    "name",
    ["global_row_number", "sample_systematic", "quantile_normalize",
     "rfm_segmentation", "shard_assignment_balanced", "woe_binning",
     "stats_equidepth_histogram", "model_auc_roc", "model_pr_auc",
     "spearman_rank_corr", "bh_fdr_report"],
)
def test_global_ranks_never_single_partition(explain, name):
    # These queries need GLOBAL row numbers / NTILEs. The naive form —
    # row_number() OVER (ORDER BY k) with no PARTITION BY — plans an
    # Exchange SinglePartition and funnels the whole frame through one
    # task (WindowExec's "No Partition Defined for Window" warning).
    # The shipped form is the distributed range-partitioned rank
    # (relational.distributed_row_number): every corpus Window is
    # partitioned by _pid, and the cumulative offsets are a driver-side
    # literal map (no window, no exchange at all). The only
    # SinglePartition exchanges that may remain are global 1-row
    # aggregates (e.g. rfm's broadcast max-date) — so every
    # SinglePartition exchange must sit DIRECTLY above a HashAggregate.
    # Formatted-explain numbering is bottom-up, so a unary Exchange node
    # (N) has child (N-1); an unaggregated corpus frame beneath a
    # SinglePartition exchange breaks that adjacency and fails here.
    import re

    plan = explain(name)
    assert "Window" in plan  # the pin isn't vacuous
    single_part_nodes = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) Exchange\n(?:[^\n]*\n)?Arguments: SinglePartition", plan
        )
    ]
    assert len(single_part_nodes) == plan.count("SinglePartition")
    for n in single_part_nodes:
        assert f"({n - 1}) HashAggregate" in plan, (
            f"{name}: SinglePartition exchange ({n}) carries an "
            "unaggregated frame — a global rank collapsed to one task"
        )


# ---------------------------------------------------------------------------
# Per-query structural pins. Every query benched in bench.py HEADLINE,
# and each representative non-headline plan listed at the end, carries
# at least the default gate (no cartesian product, no row-at-a-time
# Python eval) plus, where listed, the load-bearing property of ITS plan
# — so a Spark upgrade or refactor that silently de-optimizes a plan
# fails here instead of surfacing as an unexplained bench regression.
#
# must_have entries match the full formatted explain; entries prefixed
# with "tree:" match only the operator diagram. A leading "!" negates.
# An entry starting with an upper-case letter or "[" is a regex matched
# as a whole word (keep literal brackets out of it); any other entry is
# a plain substring.

_DEFAULT_MUST_NOT = ("CartesianProduct", "BatchEvalPython")

# No join operator of any strategy in the tree. A bare whole-word "Join"
# names no Spark operator, so it never matches BroadcastHashJoin,
# ShuffledHashJoin, SortMergeJoin or BroadcastNestedLoopJoin.
NO_JOIN = "!tree:[A-Za-z]*Join"

HEADLINE_PROPS: dict[str, list[str]] = {
    # relational core: partial (map-side) aggregation before the shuffle
    "agg_grouped": ["tree:HashAggregate", "partial_"],
    "join_multiway": ["BroadcastHashJoin"],
    "cbo_ordered_join": ["BroadcastHashJoin"],
    # rank-limit pushdown keeps per-group top-k from sorting whole groups
    "topk_per_group": ["tree:WindowGroupLimit"],
    "window_running": ["tree:Window"],
    "dedup_exact": ["tree:HashAggregate"],
    # LSH candidate generation must stay bucket-blocked (no theta join)
    "dedup_minhash_lsh": ["!tree:SortMergeJoin"],
    "dedup_simhash_pairs": ["!tree:SortMergeJoin"],
    "dedup_ngram_jaccard": [],
    "dedup_embedding_cosine": ["tree:FlatMapGroupsInPandas"],  # Arrow GEMM tiles
    # candidate generation is a JVM equi-join; the verify is the Arrow-
    # batched numpy kernel (same vectorized route as the exact GEMM twin)
    "dedup_embedding_cosine_lsh": ["tree:MapInPandas", "!tree:CartesianProduct"],
    "dedup_span_duplication": [],
    "knn_brute_force": ["tree:BroadcastNestedLoopJoin", "!tree:SortMergeJoin"],
    # bucketed ANN probes are an equi-join, never a nested loop
    "knn_lsh_bucketed": ["!tree:BroadcastNestedLoopJoin"],
    # centroid assignment is a tiny broadcast nested loop BY DESIGN (k
    # rows); the pin is that the corpus probe stays a broadcast equi-join
    "knn_ivf": ["tree:BroadcastHashJoin"],
    # text family: single-pass codegen column math, no Python eval plane
    "text_quality": ["!ArrowEvalPython", "!MapInPandas"],
    "text_lang_quality_summary": ["!ArrowEvalPython", "!MapInPandas"],
    "text_rolling_fingerprint": [],
    "text_tfidf_top_terms": [],
    "explode_tokens": ["tree:Generate", "tree:HashAggregate"],
    "percentile_exact": [],
    "multimodal_frame_sample": ["tree:Generate"],  # JVM frame-index explode
    "events_tumbling": ["tree:HashAggregate"],
    "events_sessionized": ["tree:Window"],
    "asof_join": ["tree:Window", "!tree:SortMergeJoin"],
    "asof_join_salted": ["tree:Window"],
    "range_join_bucketed": ["!tree:BroadcastNestedLoopJoin"],  # bucket equi-join
    "interval_overlap_join": ["!tree:SortMergeJoin"],  # census, no pair join
    "tpch_q1": ["tree:HashAggregate", "partial_", NO_JOIN],
    "tpch_q3": ["BroadcastHashJoin"],
    "tpch_q5": ["BroadcastHashJoin"],
    "tpch_q6": [],  # bespoke test above
    "tpch_q10": ["BroadcastHashJoin"],
    "tpch_q18": [],
    "tpch_q19": ["BroadcastHashJoin"],
    "events_rollup_multires": [],
    "events_funnel": ["tree:HashAggregate", "BroadcastHashJoin"],
    "latest_per_key": ["tree:WindowGroupLimit"],  # rank-1 pushdown
    "join_salted_skew": [],  # deliberate-replication demonstrator
    "quality_gopher_rules": ["!ArrowEvalPython", "!MapInPandas"],
    "text_unigram_logprob": [],
    "embedding_quantize_int8": ["!MapInPandas"],  # JVM transform math
    "corpus_prep": ["!tree:SortMergeJoin"],  # gates+LSH stay broadcast/blocked
    "curriculum_bins": [],  # bespoke test above
    "text_entropy": [],
    "sliding_distinct_users": [],  # bespoke test above
    "late_supplier_blame": [],  # bespoke test above
    "robust_stats_mad": [],
    "graph_pagerank": [],
    "tpch_q2": [],  # bespoke test above
    "source_python_datasource": [],
    "tpch_q15": [],
    "incremental_join_view": [],
    "txn_merge_upsert": [],
    # zone maps pruned the file list BEFORE planning: the scan's file
    # index holds exactly 2 of the 4 quartile files (formatted explain
    # prints the first path + "... 1 entries"), and the residual range
    # predicate is pushed into the parquet scan
    # (lowercase-start literals: uppercase-start pins go through the
    # whole-word regex matcher, and these contain regex metacharacters)
    "txn_zonemap_scan": ["... 1 entries]", "o_orderkey), GreaterThanOrEqual"],
    # bloom pruning left exactly ONE file in the scan's file index (a
    # multi-file index would print "... N entries]") and the = probe is
    # pushed into the parquet scan
    "txn_point_lookup": ["!entries]", "o_orderkey), EqualTo"],
    "txn_constraint_gate": [],  # lifecycle demo; default gates apply
    # the incoming batch's band keys BROADCAST-probe the persisted store
    # (batch << corpus); verification joins may shuffle, the probe must not
    "dedup_incremental_lsh": ["BroadcastHashJoin"],
    "flagship_join_agg": [],  # bespoke test above
    # PII masking is a single codegen projection: no Python eval plane,
    # no join, no shuffle before the presentation sort
    "pii_redact": ["!ArrowEvalPython", "!MapInPandas", NO_JOIN],
    # sequence-pattern match: ONE aggregate + a codegen regexp — no join,
    # no window, no Python eval plane
    "event_pattern_match": [NO_JOIN, "!tree:Window", "!ArrowEvalPython", "!MapInPandas"],
    # CDC chunking: map-only JVM higher-order chunker + one hash agg —
    # no join, no Python eval plane
    "dedup_cdc_chunks": ["tree:HashAggregate", NO_JOIN, "!MapInPandas"],
    # EWMA: ONE data shuffle (both windows share the user_id partitioning),
    # no self-join (that's the oracle's naive plan), JVM array fold only
    "ewma_smooth": ["tree:Window", NO_JOIN, "!MapInPandas", "!ArrowEvalPython"],
    # histogram sketch: bin counts combine map-side (partial_) and every
    # planned join is a broadcast (the tiny final sel==exact SMJ pair is
    # AQE-converted at runtime; the pin is that nothing row-heavy shuffles
    # as a join build)
    "quantile_sketch_mergeable": ["tree:HashAggregate", "partial_", "BroadcastHashJoin"],
    # lifecycle composites over the manifest fixture; default gates apply
    # (the DV anti-join / pruned read live inside the returned agg's plan)
    "txn_delete_mor": [],
    "txn_retention_delete": [],
    # boilerplate strip: segment counts shuffle distinct segments with
    # map-side partials; no Python plane anywhere in the rebuild
    "boilerplate_strip": ["tree:HashAggregate", "partial_", "!MapInPandas"],
    # ER: the blocked fuzzy self-join must stay broadcast (distinct-name
    # frame ≪ fact), never a cartesian
    "entity_resolution": ["BroadcastHashJoin", "!tree:CartesianProduct"],
    # PIT assembly: trailing counts are bucketed EQUI-joins and the
    # as-of carry is a window — no nested-loop theta join anywhere
    "feature_assembly_pit": ["tree:Window", "!tree:BroadcastNestedLoopJoin"],
    # lifecycle composites over the manifest fixture; default gates
    "txn_wap_publish": [],
    "txn_scd2_apply": [],
    # rolling median: ONE user-partitioned window (array select), never
    # the oracle's fan-out self-join; JVM higher-order funcs only
    "rolling_median": ["tree:Window", NO_JOIN, "!MapInPandas", "!ArrowEvalPython"],
    # Lindley balance: two stacked windows on one shuffle — no recursion,
    # no join, no Python plane
    "running_balance_clamped": ["tree:Window", NO_JOIN, "!MapInPandas", "!ArrowEvalPython"],
    # all 10 correlations from ONE map-side-combining aggregate pass
    "correlation_matrix": ["tree:HashAggregate", "partial_", NO_JOIN],
    # LSH-composed contrastive mining: candidate generation is a bucket
    # EQUI-join — only the exploded anchor table broadcasts, the corpus
    # is never fed through a nested loop
    "contrastive_pairs_lsh": [
        "BroadcastHashJoin", "!tree:BroadcastNestedLoopJoin",
    ],
    # prefix-filtered set-similarity join: candidates come from the bucket
    # explode (no self-join of the signature plan), verification is JVM
    # array_intersect — no nested-loop join, no Python plane
    "dedup_set_similarity_prefix": [
        "array_intersect", "!tree:BroadcastNestedLoopJoin", "!MapInPandas",
    ],
    # FIFO matching: prefix sums are per-part windows; the overlap join is
    # an EQUI-join on l_partkey (range predicate inside the partition),
    # never a nested loop over unbounded pairs
    "fifo_allocation": ["tree:Window", "!tree:BroadcastNestedLoopJoin"],
    # decomposition: daily cells aggregate map-side before any window; all
    # windows partition by event_type (never a global single partition)
    "seasonal_decompose": ["tree:Window", "partial_", "!SinglePartition"],
    # KM curve: every window partitions by segment (the one
    # SinglePartition exchange in the plan is the legitimate 1-row
    # max-date scalar aggregate, not a window)
    "survival_km": ["tree:Window", "windowspecdefinition(c_mktsegment"],
    # BPE pair counting: corpus collapses to the vocab first (two hash
    # aggregates), top-k is a distributed TakeOrdered, no window at all
    "bpe_pair_merge": [
        "tree:TakeOrderedAndProject", "tree:HashAggregate", "!tree:Window",
    ],
    # hashing trick: per-doc windows only; Horner hash runs JVM-side
    "feature_hash_vectorize": ["!MapInPandas", "!ArrowEvalPython", "!SinglePartition"],
    # ROC-AUC: domain collapse + distributed prefix scan — partitioned
    # window, map-side partials, NO join anywhere in the plan
    "model_auc_roc": [
        "tree:Window", "tree:HashAggregate", "partial_",
        NO_JOIN, "!MapInPandas", "!ArrowEvalPython",
    ],
    # PR-AUC: same machinery plus domain-sized equi-joins; no Python plane
    "model_pr_auc": ["tree:Window", "!MapInPandas", "!ArrowEvalPython"],
    # Spearman: the 50-value quantity rank table must BROADCAST onto the
    # fact; rank building is the partitioned prefix window
    # r11: the broadcast x-rank attach + y-domain collapse run behind
    # the ydom localCheckpoint, so the visible plan is the domain-sized
    # prefix window + the 1-row totals broadcast
    "spearman_rank_corr": [
        "tree:Window", "tree:Scan ExistingRDD", "BroadcastNestedLoopJoin",
        "!MapInPandas",
    ],
    # OHLC: argmin/argmax as struct-extreme AGGREGATES with map-side
    # combine (struct keys aren't hash-aggregable, so Spark plans
    # SortAggregate — still partial+final) — no window, no join at all
    "events_ohlc_bars": [
        "tree:SortAggregate", "partial_", "!tree:Window", NO_JOIN,
    ],
    # PERCENTILE_CONT: probe targets broadcast onto the value domain as
    # an EQUI-join; the only windows partition by event_type
    "percentile_cont_domain": [
        "tree:Window", "BroadcastHashJoin", "!tree:BroadcastNestedLoopJoin",
    ],
    # standardization: the 2-row fit broadcasts back; stack unpivot and
    # z-math stay JVM-side
    "feature_standardize": ["BroadcastHashJoin", "!MapInPandas", "!ArrowEvalPython"],
    # DSIR: the 64-row log-ratio table broadcasts onto per-doc bucket
    # counts; Horner hashing is a JVM lambda fold, no Python plane
    "dsir_importance_weights": ["BroadcastHashJoin", "!MapInPandas", "!ArrowEvalPython"],
    # Poisson bootstrap: the x100 replicate explode must collapse
    # map-side (partial_) before the B-row shuffle; weights are integer
    # threshold compares, no Python plane
    "bootstrap_ci_mean": [
        "tree:Generate", "tree:HashAggregate", "partial_", "!MapInPandas",
    ],
    # CUPED: per-user frame from one conditional-agg pass; pooled moments
    # and the boundary are broadcast 1-row aggregates
    "ab_test_cuped": [
        "tree:HashAggregate", "partial_", "!MapInPandas", "!ArrowEvalPython",
    ],
    # funnel: dedup canonicalization joins and the eval-span probe stay
    # broadcast/semi; no Python plane anywhere in the composite
    "pipeline_funnel_report": ["BroadcastHashJoin", "!MapInPandas", "!ArrowEvalPython"],
    # compiled tree ensemble: a pure codegen projection — no join, no
    # window, no Python eval plane
    "gbt_inference_sql": [
        NO_JOIN, "!tree:Window", "!MapInPandas", "!ArrowEvalPython",
    ],
    # connector write path: the returned frame is the read-back
    # aggregate over the staged part files; default gates apply
    "source_python_datasink": [],
    # item-item CF: pair support counts combine map-side; the norm
    # lookups are equi-joins; re-rank window only after the limit; the
    # hub cap (users > RECSYS_MAX_ITEMS_PER_USER items filtered BEFORE
    # the pair self-join) must be in the plan — "n_items" is the cap
    # aggregate's alias and "<= 64" its filter predicate
    "recsys_item_cosine": [
        "tree:HashAggregate", "partial_", "!tree:BroadcastNestedLoopJoin",
        "!MapInPandas", "n_items", "<= 64",
    ],
    # Markov attribution: returned frame is the driver-solved 4-row
    # attribution table (the distributed transition pass runs inside the
    # query function); default gates apply
    "markov_attribution": [],
    # advisor: bucket spans aggregate map-side over the ranked frame;
    # rank windows are _pid-partitioned (distributed_row_number)
    # spatial NN join: the candidate join is a hash equi-join on cell id
    # (never a theta join over points×facilities; the only nested loop is
    # the 9-row neighborhood offsets broadcast onto the SMALL side) and
    # the per-point argmin is a struct-min AGGREGATE with map-side
    # partials (SortAggregate — struct keys aren't hash-aggregable), not
    # a per-point rank window
    "geo_nearest_facility": [
        "BroadcastHashJoin", "tree:SortAggregate", "partial_",
        "!tree:SortMergeJoin", "!tree:Window",
    ],
    # density heatmap: one map-side-combined hash agg over cell ids, then
    # a distributed top-k — never a global sort or window over the cells
    "geo_grid_density": [
        "tree:TakeOrderedAndProject", "tree:HashAggregate", "partial_",
        "!tree:Window", NO_JOIN,
    ],
    # ACF: the corpus collapses to (type, day) in one partial-agg pass;
    # the lag window and moment join-back run on the days-sized frame
    # (stats broadcast onto it)
    "autocorr_lags": ["tree:Window", "BroadcastHashJoin", "partial_"],
    # gaps-and-islands: distinct + per-user window + aggregate — no join
    # anywhere in the plan
    "activity_islands": [
        "tree:Window", "tree:HashAggregate", "partial_", NO_JOIN,
    ],
    # time-decay attribution: equi-join pairing, per-conversion Σw
    # window, integer credit — no Python eval plane
    "time_decay_attribution": [
        "tree:Window", "partial_", "!MapInPandas", "!ArrowEvalPython",
    ],
    # BH step-up: global p-rank ships on distributed_row_number (the
    # SinglePartition-adjacency gate runs in
    # test_global_ranks_never_single_partition); k* is a 1-row broadcast.
    # The m-row tests frame is localCheckpointed (r11: it was re-derived
    # 3x), so the upstream half-join BroadcastHashJoin no longer appears
    # in explain() — the visible plan starts at the checkpoint scan.
    "bh_fdr_report": [
        "tree:Window", "tree:Scan ExistingRDD", "BroadcastNestedLoopJoin",
        "partial_",
    ],
    # l-diversity: one fact equi-join, classes-sized window + rollup
    "l_diversity_audit": [
        "tree:Window", "partial_", "!MapInPandas", "!ArrowEvalPython",
    ],
    # trigram mining: per-user lead windows, map-side-combined trigram
    # count, distributed top-k — no join, no global sort
    "event_trigram_mining": [
        "tree:Window", "tree:TakeOrderedAndProject", "partial_",
        NO_JOIN,
    ],
    # cluster evolution: the read half is two zone-pruned manifest
    # scans + 1-row aggregates; no corpus window, no Python plane
    "txn_cluster_evolution": ["!tree:Window", "!MapInPandas"],
    # vacuum report: one post-vacuum scan + 1-row aggregate
    "txn_vacuum_report": ["!tree:Window", "!MapInPandas"],
    # trajectory: one per-user lag window, map-side-combined aggregate
    "geo_trajectory_length": [
        "tree:Window", "partial_", NO_JOIN, "!MapInPandas",
    ],
    "cluster_key_advisor": [
        "tree:Window", "tree:HashAggregate", "partial_", "!MapInPandas",
    ],
    # generic WCC: the returned frame is label-join + size window over
    # node-domain checkpointed state; no Python plane anywhere, and the
    # star-edge build is an aggregate, never a pair join
    "graph_wcc": ["tree:Window", "!MapInPandas", "!ArrowEvalPython"],
    # the stateful sessionizer replay returns the memory-sink table; the
    # stateful plan itself ran inside the stream (applyInPandasWithState
    # is the one DELIBERATE Python plane — pinned by its dedicated tests)
    "streaming_sessionized": [],
    # trajectory as-of: ONE union-sort-window pass — no join operator of
    # any kind in the plan, no Python plane
    "geo_position_asof": ["tree:Window", NO_JOIN, "!MapInPandas"],
    # BFS: the returned frame is the visited union + level-count window
    # over checkpointed node-domain state; no Python plane
    "graph_bfs_hops": ["tree:Window", "!MapInPandas", "!ArrowEvalPython"],
    # k-center assignment: per-row struct-min over the K broadcast
    # centers (BroadcastNestedLoopJoin over K rows is the intended
    # shape), one hash aggregate, no Python plane and no sort-merge join
    "sample_kcenter_coreset": [
        "tree:HashAggregate", "!tree:SortMergeJoin", "!MapInPandas",
    ],
    # LOO vocabulary: distinct (token, source) + per-token aggregate;
    # no Python plane, no nested loop beyond the 1-row totals broadcast
    "source_loo_vocab": ["tree:HashAggregate", "partial_", "!MapInPandas"],
    # k-core peel runs at construction (localCheckpoint'd); the returned
    # tail is the checkpointed core + a 1-row broadcast size — no sort-
    # merge join, no Python plane
    "graph_kcore": ["!tree:SortMergeJoin", "!MapInPandas"],
    # first-seen collapse: map-side-combined per-user min(day), then the
    # cumulative sum over the tiny day calendar (the documented day-
    # domain Window exception)
    "cumulative_distinct_users": ["tree:HashAggregate", "partial_", "tree:Window"],
    # the three EXPLAIN-dump queries return driver-side createDataFrames
    # (the distributed work happened in the stats/DP build): a parquet
    # scan in the returned tail would mean the dump re-read data
    "cbo_plan_memo": ["!Scan parquet"],
    "stats_histogram_dump": ["!Scan parquet"],
    "stats_histogram_2d_dump": ["!Scan parquet"],
    # privacy-trio EMD: one corpus join+agg shuffle, then grid-sized work
    # behind broadcasts; the cumsum window partitions by class
    "t_closeness_audit": [
        "tree:HashAggregate", "partial_", "tree:Window", "BroadcastExchange",
    ],
    # M4: struct-extreme aggregates + explode — argext must NOT be a
    # rank window over raw event partitions
    "events_downsample_m4": [
        "tree:HashAggregate", "partial_", "tree:Generate", "!tree:Window",
    ],
    # Shapley: per-user bitmask aggregate is the only corpus shuffle;
    # the subset grid joins are broadcast
    "shapley_attribution": [
        "tree:HashAggregate", "partial_", "BroadcastExchange", "!MapInPandas",
    ],
    # Lloyd loop: k-row centroid frame broadcast against the PERSISTED
    # quantized corpus (InMemoryTableScan, not a parquet re-read per pass)
    "embedding_kmeans_lloyd": [
        "tree:BroadcastNestedLoopJoin", "tree:InMemoryTableScan", "!MapInPandas",
    ],
    # rank-sum without ranking: domain collapse + distributed prefix scan
    "mann_whitney_u": ["tree:HashAggregate", "partial_", "!MapInPandas"],
    # drawdown windows run over the bounded day calendar
    "max_drawdown": ["tree:Window", "tree:HashAggregate", "partial_"],
    # NOT IN must compile to broadcast anti joins (null-aware on the
    # unguarded branch), never a sort-merge fallback
    "join_null_aware_anti": [
        "BroadcastHashJoin", "tree:Union", "!tree:SortMergeJoin",
    ],
    # padding audit: scan-fused projection + one constant-size aggregate
    "pad_waste_report": [
        "tree:HashAggregate", "partial_", NO_JOIN, "!MapInPandas",
    ],
    # readability: map-only scorer — regexp counts fused into the scan,
    # nothing but the presentation sort after
    "text_readability": [NO_JOIN, "!tree:HashAggregate", "!MapInPandas"],
    # CDF-fed index maintenance runs at construction (manifest commits +
    # dynamic-overwrite cell rewrite); the returned tail is one
    # map-side-combined per-cell aggregate over the refreshed inverted
    # file — no join, no Python plane
    "index_refresh": [
        "tree:HashAggregate", "partial_", NO_JOIN, "!MapInPandas",
    ],
    # hybrid RRF fusion: per-leg global ranks are _pid-partitioned
    # windows (distributed_row_number — never a single-partition
    # window), the fused top-k is a TakeOrdered, and the only nested
    # loops are the 1-row broadcasts (query vector, corpus stats)
    "rrf_hybrid_search": [
        "tree:TakeOrderedAndProject", "tree:Window", "!MapInPandas",
    ],
    # conformal calibration: the order-statistic window partitions by
    # the group key over the calibration slice only; fit/q-hat rejoin
    # as 5-row broadcasts; coverage is one map-side-combined aggregate
    "conformal_intervals": [
        "tree:Window", "BroadcastHashJoin", "tree:HashAggregate",
        "partial_", "!MapInPandas",
    ],
    # the streamed fold runs at construction; the returned tail is the
    # same per-cell aggregate over the batch=*/cell=* inverted file
    "streaming_index_upsert": [
        "tree:HashAggregate", "partial_", NO_JOIN, "!MapInPandas",
    ],
    # the greedy selection ran at construction (K 1-row argmax rounds,
    # k-center discipline); the returned frame is driver metadata — a
    # parquet scan here would mean the rerank re-read the corpus
    "mmr_diversify_topk": ["!Scan parquet"],
    # the rank legs are localCheckpoint'd at construction (their own
    # plans carry the _pid-partitioned windows — rrf_hybrid_search pins
    # them); the returned tail is metric joins + 1-row aggregates over
    # the checkpointed depth-bounded frames — no parquet re-read
    "retrieval_ndcg_report": [
        "tree:HashAggregate", "!Scan parquet", "!MapInPandas",
    ],
    # Luhn audit: salting + candidate split + checksum lambdas all fuse
    # into the scan projection — map-only, like the other PII/text pins
    "pii_luhn_audit": [NO_JOIN, "!tree:HashAggregate", "!MapInPandas"],
    # winnowing: the fingerprint stage is the Arrow map (one MapInPandas),
    # the stop-cap filter is a partial-agg'd HashAggregate, and the pair
    # stage is an EQUI join on fp — a nested-loop here would mean the
    # blocking broke and the join went doc x doc
    "dedup_winnowing": [
        "MapInPandas", "tree:HashAggregate", "partial_",
        "!tree:BroadcastNestedLoopJoin",
    ],
    # JL projection: 16 x 64 literal BIGINT terms in one projection over
    # ONE scan — map-only + the output sort; a join here would mean the
    # norm column went back to being a join-back (the round-10 review)
    "embedding_random_projection": [NO_JOIN, "!MapInPandas"],
    # BPE training ran at construction (4 vocab-bounded rounds, 1-row
    # argmax collects); the returned merge table is driver metadata — a
    # parquet scan here would mean a round re-read the corpus
    "bpe_train_steps": ["!Scan parquet"],
    # ---- representative non-headline plans
    # Hive-partitioned read: the event_type predicate prunes directories
    # (PartitionFilters), so no residual Filter runs over the rows
    "source_partitioned_scan": [
        "PartitionFilters", "(click,purchase)", "!tree:Filter",
    ],
    # snapshot + delta partials: each side's shipdate cut is pushed to
    # its scan, the partial aggregates meet in a Union, then one final
    "incremental_agg_merge": [
        "tree:Union", "tree:HashAggregate", "partial_",
        "LessThan", "GreaterThanOrEqual",
    ],
    # dynamic partition pruning: the fact scan's partition filter is
    # decided at run time from the dim side
    "dpp_join_pruned": [
        "PartitionFilters", "dynamicpruningexpression(",
        "tree:BroadcastHashJoin",
    ],
    # constant-size band dim: a broadcast nested loop with the two range
    # predicates as its join condition, right for any fact scale
    "band_join_lookup": [
        "tree:BroadcastNestedLoopJoin Inner BuildRight", ">= lo#", "< hi#",
        "!tree:SortMergeJoin",
    ],
    # widest join in the TPC-H suite: dimensions broadcast, the
    # customer-region restriction as a left-semi broadcast join, the
    # conditional market-share aggregate as one partial+final pair
    "tpch_q8": [
        "tree:BroadcastHashJoin LeftSemi", "tree:BroadcastHashJoin",
        "partial_",
    ],
    # decontamination: eval spans probed map-side by a left-semi
    # broadcast (the corpus span explosion is never shuffled against
    # the eval set), then a left outer join back to the doc list
    "decontaminate_ngram": [
        "tree:Generate", "tree:BroadcastHashJoin LeftSemi",
        "tree:LeftOuter",
    ],
    # BM25: df table as a broadcast equi-join, the 1-row N/avgdl stats
    # as a broadcast nested loop, no shuffled pair join
    "bm25_score": [
        "tree:BroadcastHashJoin", "tree:BroadcastNestedLoopJoin",
        "!tree:SortMergeJoin",
    ],
    # ARG_MAX as partial+final max(struct) SortAggregate, never a
    # rank-1 window over every customer row
    "argmax_per_group": [
        "tree:SortAggregate", "partial_max(struct(", "!tree:Window",
    ],
    # Pareto frontier: a running-max Window over the per-price maxima,
    # never a quadratic self-join
    "skyline_pareto": [
        "tree:Window", "!tree:BroadcastNestedLoopJoin", "!tree:SortMergeJoin",
    ],
    # native WITH RECURSIVE: the engine's fixpoint operator, not N
    # unrolled joins; partial+final aggregate over its output
    "recursive_cte_ancestors": [
        "tree:UnionLoop", "tree:HashAggregate", "partial_",
        "!tree:BroadcastHashJoin", "!tree:SortMergeJoin",
    ],
    # post-OPTIMIZE read: the range predicate is pushed to a scan of
    # one compacted file (a second path would print ".parquet, ...")
    "txn_compact_scan": [
        "tree:Scan parquet", "GreaterThanOrEqual", "!.parquet, ",
    ],
    # sketches: HLL and approx-percentile in one ObjectHashAggregate;
    # the median rank-check is a broadcast nested loop on 1-row stats
    "approx_aggs": [
        "tree:ObjectHashAggregate", "partial_approx_count_distinct",
        "partial_percentile_approx", "tree:BroadcastNestedLoopJoin",
    ],
    # two-stage reservoir: stage 1 ranks per (source, _salt) shard and
    # keeps k rows each, stage 2 ranks per source over those
    "sample_reservoir_per_group": [
        "tree:Window", "tree:WindowGroupLimit", "hashpartitioning(source#",
        "_salt",
    ],
    # point-in-time SCD2: the dimension is a per-user lead() Window, the
    # interval rides a left-outer equi-join, never a nested loop
    "scd2_point_in_time": [
        "tree:Window", "lead(", "tree:LeftOuter",
        "!tree:BroadcastNestedLoopJoin",
    ],
    # cogrouped pandas: both inputs hash-partitioned on o_custkey into
    # one FlatMapCoGroupsInPandas; cents computed JVM-side
    "cogroup_reconcile": [
        "tree:FlatMapCoGroupsInPandas", "hashpartitioning(o_custkey",
        "!ArrowEvalPython", "!tree:SortMergeJoin",
    ],
    # frozen logistic gate: features and sigmoid fused into the scan
    # projection over a pruned schema; no Python, no shuffle but the sort
    "quality_classifier_score": [
        "ReadSchema: struct<doc_id:bigint,text:string,lang:string>",
        "!ArrowEvalPython", "!MapInPandas", "!tree:HashAggregate",
        "!hashpartitioning",
    ],
    # mixed-language ID: round-robin exchanges are deliberate barriers
    # against projection collapse re-inlining regexp_replace into every
    # marker count (measured 5.6 s vs 1.8 s at sf0.1 without them)
    "text_mixed_language": [
        "RoundRobinPartitioning", "!ArrowEvalPython", "!MapInPandas",
    ],
}


def _headline_names():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), os.pardir, "bench.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.HEADLINE


def test_every_headline_query_has_a_property_entry():
    missing = [n for n in _headline_names() if n not in HEADLINE_PROPS]
    assert not missing, f"headline queries without a plan pin: {missing}"


def _holds(plan: str, prop: str) -> bool:
    """Whether one HEADLINE_PROPS entry holds for a formatted explain."""
    negate = prop.startswith("!")
    pat = prop.lstrip("!")
    hay = _tree(plan) if pat.startswith("tree:") else plan
    pat = pat.removeprefix("tree:")
    if pat[0].isupper() or pat[0] == "[":
        found = bool(_op_spans(hay, pat))
    else:
        found = pat in hay
    return found != negate


@pytest.mark.parametrize("name", sorted(HEADLINE_PROPS))
def test_headline_plan_properties(explain, name):
    plan = explain(name)
    tree = _tree(plan)
    for op in _DEFAULT_MUST_NOT:
        assert op not in tree, f"{name}: forbidden operator {op}"
    for prop in HEADLINE_PROPS[name]:
        assert _holds(plan, prop), f"{name}: property {prop!r} violated"


def test_no_join_pin_rejects_every_join_operator(explain):
    # a real plan with a broadcast join fails the pin ...
    assert not _holds(explain("join_multiway"), NO_JOIN)
    # ... and so does a tree holding any other join strategy
    for op in ("ShuffledHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"):
        tree = f"== Physical Plan ==\n* Project (3)\n+- {op} Inner (2)\n"
        assert not _holds(tree, NO_JOIN), op
    assert _holds(explain("tpch_q1"), NO_JOIN)
