"""Zone-map file skipping on the manifest table.

The observable contract: `read(where=...)` returns EXACTLY the rows a
full scan + filter returns, while opening only the files whose
footer-harvested min/max can satisfy the predicate. The pruning decision
itself (`prune_files` / `_zone_may_match`) is pure metadata, so it is
tested exhaustively against a brute-force evaluation; the end-to-end
path is tested for parity + file counts on a range-clustered table.

Reference tie-in: statistics that let the engine skip provably-excluded
work are the reference's TableStats idea (src/optimizer/
table_stats.cc:262-268) lifted from row-selectivity to file-selectivity.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dbms_query_optimizer_spark.sources.manifest import (
    TransactionalTable,
    _zone_may_match,
    prune_files,
)

OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _build(spark, root: str):
    """Four committed single-file transactions, k clustered [0,10) /
    [10,20) / [20,30) / [30,40); one file is all-NULL in v."""
    shutil.rmtree(root, ignore_errors=True)
    rows = [(i, float(i) if i < 30 else None, f"s{i:02d}") for i in range(40)]
    df = spark.createDataFrame(rows, "k long, v double, s string")
    table = TransactionalTable.create(root, df.schema)
    for lo in (0, 10, 20, 30):
        t = table.begin()
        t.insert(df.filter((F.col("k") >= lo) & (F.col("k") < lo + 10)).coalesce(1))
        t.commit()
    return TransactionalTable(root), df


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """Shared READ-ONLY table — the mutating merge test builds its own."""
    return _build(spark, str(tmp_path_factory.mktemp("zonemap") / "zm"))


def test_harvested_stats_present(clustered):
    table, _ = clustered
    snap = table.snapshot()
    assert len(snap["files"]) == 4
    stats = snap["stats"]
    assert set(stats) == set(snap["files"])
    zones = sorted(
        (s["k"]["min"], s["k"]["max"], s["k"]["rows"]) for s in stats.values()
    )
    assert zones == [(0, 9, 10), (10, 19, 10), (20, 29, 10), (30, 39, 10)]
    # all-NULL v file: no bounds, nulls == rows
    vnull = [s["v"] for s in stats.values() if s["v"]["nulls"] == 10]
    assert vnull == [{"min": None, "max": None, "nulls": 10, "rows": 10}]


@pytest.mark.parametrize("op", list(OPS))
@pytest.mark.parametrize("value", [-1, 0, 9, 10, 15, 29, 39, 40])
def test_prune_never_drops_matching_file(clustered, op, value):
    """Exhaustive soundness: a skipped file must contain NO row matching
    the predicate (completeness of pruning is checked by count below)."""
    table, _ = clustered
    snap = table.snapshot()
    kept, skipped = prune_files(snap, ("k", op, value))
    assert sorted(kept + skipped) == sorted(snap["files"])
    # brute force: k is contiguous within each file's [min, max] zone
    stats = snap["stats"]
    for f in skipped:
        z = stats[f]["k"]
        matches = [k for k in range(z["min"], z["max"] + 1) if OPS[op](k, value)]
        assert not matches, (op, value, z)


def test_prune_counts_tight_on_ranges(clustered):
    table, _ = clustered
    snap = table.snapshot()
    kept, skipped = prune_files(snap, ("k", ">=", 20))
    assert len(kept) == 2 and len(skipped) == 2
    kept, skipped = prune_files(snap, ("k", "=", 15))
    assert len(kept) == 1
    kept, skipped = prune_files(snap, ("k", "<", 0))
    assert len(kept) == 0


def test_all_null_zone_is_skipped(clustered):
    table, _ = clustered
    snap = table.snapshot()
    # v is NULL exactly in the [30,40) file: any comparison excludes it
    kept, skipped = prune_files(snap, ("v", ">=", 0.0))
    assert len(skipped) == 1
    z = snap["stats"][skipped[0]]["v"]
    assert z["nulls"] == z["rows"] == 10


def test_read_where_parity_and_file_counts(clustered, spark):
    table, df = clustered
    expected = sorted(
        (r.k, r.v, r.s) for r in df.filter(F.col("k") >= 17).collect()
    )
    got = sorted(
        (r.k, r.v, r.s)
        for r in table.read(spark, where=("k", ">=", 17)).collect()
    )
    assert got == expected
    assert table.last_scan == {"files_total": 4, "files_read": 3}
    # residual filter matters: the [10,20) file is read but rows 10..16 drop
    assert min(k for k, _, _ in got) == 17


def test_string_zone_pruning(clustered, spark):
    table, _ = clustered
    got = table.read(spark, where=("s", ">", "s29")).collect()
    assert table.last_scan["files_read"] == 1
    assert sorted(r.s for r in got) == [f"s{i}" for i in range(30, 40)]


def test_missing_stats_backward_compatible(clustered, spark, tmp_path):
    """A manifest without a stats section (pre-zone-map layout) must
    read fully and prune nothing."""
    table, _ = clustered
    snap = table.snapshot()
    legacy = {k: v for k, v in snap.items() if k != "stats"}
    kept, skipped = prune_files(legacy, ("k", ">=", 20))
    assert kept == legacy["files"] and skipped == []


def test_merge_refreshes_stats(spark, tmp_path):
    """Merge: the appended files arrive with fresh footer stats covering
    the updated values, and every live file has an entry."""
    table, df = _build(spark, str(tmp_path / "zm_merge"))
    src = spark.createDataFrame([(5, 99.0, "zz")], "k long, v double, s string")
    t = table.begin()
    t.merge(spark, src, "k")
    t.commit()
    snap = table.snapshot()
    assert set(snap["stats"]) == set(snap["files"])
    # the rewritten file's v zone now reaches 99
    vmax = max(
        s["v"]["max"] for s in snap["stats"].values() if s["v"]["max"] is not None
    )
    assert vmax == 99.0
    # pruning still sound after the merge
    kept, _ = prune_files(snap, ("v", ">=", 99.0))
    got = table.read(spark, where=("v", ">=", 99.0)).collect()
    assert [(r.k, r.v) for r in got] == [(5, 99.0)]
    assert table.last_scan["files_read"] == len(kept)


def test_compact_packs_and_preserves(spark, tmp_path):
    """OPTIMIZE semantics: same rows, fewer files, zones refreshed and
    range-selective after sort_by clustering; prior version still
    time-travel-readable."""
    table, df = _build(spark, str(tmp_path / "zm_compact"))
    v_before = table.latest_version()
    rows_before = sorted((r.k, r.v, r.s) for r in table.read(spark).collect())

    v = table.compact(spark, sort_by="k", target_files=2)
    assert v == v_before + 1
    snap = table.snapshot()
    assert len(snap["files"]) == 2
    assert set(snap["stats"]) == set(snap["files"])
    # clustered zones: the two files partition the key range
    zones = sorted((s["k"]["min"], s["k"]["max"]) for s in snap["stats"].values())
    assert zones[0][1] < zones[1][0]
    assert zones[0][0] == 0 and zones[1][1] == 39
    # data identical
    rows_after = sorted((r.k, r.v, r.s) for r in table.read(spark).collect())
    assert rows_after == rows_before
    # old version still readable (time travel)
    old = sorted((r.k, r.v, r.s) for r in table.read(spark, version=v_before).collect())
    assert old == rows_before
    # pruning selective on the packed layout
    table.read(spark, where=("k", ">=", zones[1][0]))
    assert table.last_scan == {"files_total": 2, "files_read": 1}


def test_compact_noop_below_two_files(spark, tmp_path):
    table, df = _build(spark, str(tmp_path / "zm_noop"))
    table.compact(spark, target_files=1)  # packs 4 -> 1
    assert len(table.snapshot()["files"]) == 1
    assert table.compact(spark) is None  # single file: nothing to pack


# ---------------------------------------------------------- property-based
# _zone_may_match is pure metadata logic, so hypothesis can hammer it:
# generate a file's actual values, derive its zone the way the harvester
# would, and assert pruning is SOUND (never skips a file containing a
# matching row) for every op and probe value.

from hypothesis import given, settings, strategies as st  # noqa: E402

_vals = st.lists(
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    min_size=1,
    max_size=12,
)
_probe = st.integers(min_value=-55, max_value=55)


@settings(max_examples=300, deadline=None)
@given(values=_vals, op=st.sampled_from(sorted(OPS)), probe=_probe)
def test_zone_match_sound_property(values, op, probe):
    present = [v for v in values if v is not None]
    zone = {
        "min": min(present) if present else None,
        "max": max(present) if present else None,
        "nulls": sum(1 for v in values if v is None),
        "rows": len(values),
    }
    has_match = any(OPS[op](v, probe) for v in present)
    may = _zone_may_match(zone, op, probe)
    if has_match:
        assert may, (zone, op, probe)
    # completeness on the shapes the harvester emits: with exact bounds,
    # range ops must prune when no value can match
    if present and not has_match and op in ("<", "<=", ">", ">="):
        assert not may, (zone, op, probe)


@settings(max_examples=200, deadline=None)
@given(probe=_probe, op=st.sampled_from(sorted(OPS)))
def test_zone_missing_stats_never_prunes(probe, op):
    assert _zone_may_match(None, op, probe)
    assert _zone_may_match({"min": None, "max": None, "nulls": None, "rows": 5}, op, probe)
    assert _zone_may_match({"min": 1, "max": 9, "nulls": 0, "rows": 5}, op, None)


def test_conjunct_pruning_intersects(clustered, spark):
    """AND-conjuncts: a file survives only if every conjunct's zone
    check passes — k >= 17 keeps 3 files, adding k < 25 drops [30,40)."""
    table, df = clustered
    pred = [("k", ">=", 17), ("k", "<", 25)]
    got = sorted(r.k for r in table.read(spark, where=pred).collect())
    assert got == list(range(17, 25))
    assert table.last_scan == {"files_total": 4, "files_read": 2}
    # multi-COLUMN conjunct: s zone narrows it to one file
    got = table.read(spark, where=[("k", ">=", 10), ("s", "<", "s20")]).collect()
    assert table.last_scan["files_read"] == 1
    assert sorted(r.k for r in got) == list(range(10, 20))


def test_timestamp_zone_pruning(spark, tmp_path):
    """TIMESTAMP zones (epoch-microsecond min/max) prune a retention
    read/delete: files wholly newer than the cutoff are never opened.
    Requires TIMESTAMP_MICROS output (INT96 writes no footer stats)."""
    import datetime as dt

    from dbms_query_optimizer_spark.sources.manifest import TransactionalTable

    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    root = str(tmp_path / "ts_table")
    df0 = spark.createDataFrame([], "id long, ts timestamp")
    table = TransactionalTable.create(root, df0.schema)
    for month in (1, 2, 3, 4):
        t = table.begin()
        rows = [
            (month * 100 + i, dt.datetime(2024, month, 1 + i))
            for i in range(5)
        ]
        t.insert(
            spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1)
        )
        t.commit()
    cutoff = dt.datetime(2024, 3, 1)
    got = table.read(spark, where=("ts", "<", cutoff)).collect()
    assert table.last_scan == {"files_total": 4, "files_read": 2}
    assert sorted(r.id for r in got) == [100 + i for i in range(5)] + [
        200 + i for i in range(5)
    ]
    td = table.begin()
    td.delete(spark, ("ts", "<", cutoff))
    assert len(td._replaced) == 2  # newer files proven clean, untouched
    td.commit()
    assert sorted(r.id // 100 for r in table.read(spark).collect()) == [3] * 5 + [4] * 5


def test_cluster_evolution_prunes_per_generation(spark, sf_dir):
    # q_txn_cluster_evolution's claim, re-checked structurally: after a
    # mid-table re-clustering, EACH scan's pruning follows the file
    # generation laid out for it (the spec-agnostic-zones argument).
    from dbms_query_optimizer_spark.operators.sources_queries import (
        q_txn_cluster_evolution,
    )

    rows = {r.scan: r for r in q_txn_cluster_evolution(spark, sf_dir).collect()}
    assert set(rows) == {"date_ge_q4", "key_ge_q4"}
    for r in rows.values():
        assert r.files_total == 8
        assert r.files_read == 5  # 1 surviving file + the 4 blind ones
        assert r.n_rows > 0  # a vacuous scan proves nothing
