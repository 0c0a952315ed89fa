"""Catalog contract: every entry is registered once and carries a DuckDB
value-hash oracle, and the entry query ``flagship_join_agg`` comes first
(``__spark_entry__.entry`` smoke depends on it). The catalog keeps
registration order; ``tests/test_queries_oracle.py`` oracle-checks every
entry."""

import pytest

from dbms_query_optimizer_spark.operators import catalog as C


def test_everything_oracled():
    """Since round 10 every catalog entry carries a DuckDB value-hash
    oracle — the 4 multimodal decode planes were the last rows-only
    entries, upgraded via SQL re-derivation of the LCG payload
    synthesis. Keep it that way: a new rows-only entry needs a
    documented proof that nothing SQL-recomputable exists."""
    no_oracle = [n for n in C.CATALOG if C.CATALOG[n][1] is None]
    assert no_oracle == [], no_oracle


def test_catalog_intact_after_reorder():
    # registration must not drop or duplicate entries
    names = list(C.CATALOG)
    assert len(names) == len(set(names))
    assert len(names) >= 161
    # entry()'s flagship query must stay first
    assert names[0] == "flagship_join_agg"


def test_duplicate_name_is_refused():
    # an explicit check, so it also holds under python -O
    name = next(iter(C.CATALOG))
    with pytest.raises(ValueError, match="duplicate query name"):
        C.register(name, *C.CATALOG[name])


def test_state_width_tracks_shuffle_partitions(spark):
    """state_width must reproduce the measured-optimal 8 at every local
    test width AND actually grow with cluster-scale configs — the
    derivation exists for partitions >> 32, so exercise that regime
    directly (no local drive can)."""
    from dbms_query_optimizer_spark.session import state_width

    df = spark.range(1)
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    try:
        for parts, want in [("5", 8), ("8", 8), ("32", 8), ("256", 64), ("2000", 500)]:
            spark.conf.set(key, parts)
            assert state_width(df) == want, (parts, want)
        # (the non-numeric fallback inside state_width can't be induced
        # here: Spark validates the conf value at set() time)
    finally:
        spark.conf.set(key, orig)
