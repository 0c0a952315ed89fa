"""Released caches: every frame a dedup or graph operator persists is
registered with ``cache.track_persist``, so the harness's
``release_tracked()`` after the consuming action leaves the session's
cache manager empty. An untracked ``.cache()`` would sit there for the
rest of a full-catalog sweep."""

from __future__ import annotations

import pytest

from dbms_query_optimizer_spark.cache import release_tracked
from dbms_query_optimizer_spark.operators import catalog

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
]


@pytest.mark.parametrize("name", NAMES)
def test_release_tracked_empties_cache_manager(spark, sf_dir, name):
    spark.catalog.clearCache()
    catalog.CATALOG[name][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
