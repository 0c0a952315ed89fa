"""Released caches: every frame a dedup or graph operator persists is
registered with ``cache.track_persist``, so the harness's
``release_tracked()`` after the consuming action leaves the session's
cache manager empty. An untracked ``.cache()`` would sit there for the
rest of a full-catalog sweep."""

from __future__ import annotations

import pytest

from dbms_query_optimizer_spark.cache import release_tracked
from dbms_query_optimizer_spark.operators import catalog, graph

NAMES = [
    # the two connected-components users of graph.weakly_connected_components
    "dedup_components",
    "entity_resolution",
    # _doc_shingles users
    "dedup_minhash_lsh",
    "lsh_recall_report",
    "dedup_incremental_lsh",
    "dedup_containment",
    "dedup_keep_superset",
    "dedup_ngram_jaccard",
    "dedup_set_similarity_prefix",
    # the cached embedding frame of the k-means loop, the winnow frame
    "dedup_semantic",
    "dedup_winnowing",
    # graph.py triangle (co-purchase edge) users
    "graph_triangle_count",
    "graph_link_prediction",
    # graph._frontier_loop users (its edge frame; BFS's cached star edges)
    "graph_wcc",
    "graph_bfs_hops",
    "graph_kcore",
]


@pytest.mark.parametrize("name", NAMES)
def test_release_tracked_empties_cache_manager(spark, sf_dir, name):
    spark.catalog.clearCache()
    catalog.CATALOG[name][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


@pytest.mark.parametrize(
    "run",
    [
        lambda edges: graph.weakly_connected_components(edges, max_iters=2),
        lambda edges: graph.bfs_hops(edges, 0),
        lambda edges: graph.kcore(edges, k=2, max_rounds=2),
    ],
    ids=["wcc", "bfs_hops", "kcore"],
)
def test_graph_loop_releases_edge_frame_when_it_raises(spark, monkeypatch, run):
    # a 13-node path outlives every bound below; the loop's persisted
    # edge frame and its narrowed shuffle width must not outlive the raise
    monkeypatch.setattr(graph, "BFS_MAX_HOPS", 2)
    spark.catalog.clearCache()
    key = "spark.sql.shuffle.partitions"
    session_width = spark.conf.get(key)
    # wider than state_width's floor of 8, so the loop's narrowing shows
    spark.conf.set(key, "40")
    try:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "src long, dst long"
        )
        with pytest.raises(RuntimeError):
            run(edges)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert spark.conf.get(key) == "40"
    finally:
        spark.conf.set(key, session_width)
