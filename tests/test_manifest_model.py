"""Model-based property test of the manifest table's DML surface.

Hypothesis drives random sequences of the table's write operations
(insert / MOR merge / predicate DELETE / merge-on-read DV delete /
DV materialization / compaction / replaceWhere / key erasure / RESTORE)
against both the real TransactionalTable and a trivial in-memory
multiset model; after every commit the table's read must
equal the model, and time travel must reproduce every historical model
state. This is the test shape that catches OPERATION INTERACTIONS no
per-feature test enumerates (delete after restore, erase of a key a
merge just rewrote, replace_where over files a compaction-free history
scattered) — the same role the reference's randomized log tests play
for its WAL (reference: test/unit/log/log_manager_test.cc).

Rows are (k, v) pairs; the model is a Counter of rows (multiset — the
table has no uniqueness constraint except what merge imposes).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbms_query_optimizer_spark.sources.manifest import TransactionalTable

KEYS = st.integers(min_value=0, max_value=12)
VALS = st.integers(min_value=0, max_value=5)


def _op_insert():
    return st.tuples(
        st.just("insert"), st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=4)
    )


def _op_merge():
    return st.tuples(
        st.just("merge"),
        st.dictionaries(KEYS, VALS, min_size=1, max_size=3),
    )


def _op_delete():
    return st.tuples(st.just("delete"), KEYS)


def _op_replace():
    return st.tuples(
        st.just("replace"),
        KEYS,
        st.lists(st.tuples(KEYS, VALS), max_size=3),
    )


def _op_erase():
    return st.tuples(st.just("erase"), st.sets(KEYS, min_size=1, max_size=3))


def _op_delete_mor():
    return st.tuples(st.just("delete_mor"), KEYS)


def _op_materialize():
    return st.tuples(st.just("materialize"))


def _op_compact():
    return st.tuples(st.just("compact"))


def _op_restore():
    # target version picked as a fraction of history at execution time
    return st.tuples(st.just("restore"), st.floats(min_value=0.0, max_value=1.0))


OPS = st.lists(
    st.one_of(_op_insert(), _op_merge(), _op_delete(), _op_replace(), _op_erase(), _op_restore(), _op_delete_mor(), _op_materialize(), _op_compact()),
    min_size=1,
    max_size=6,
)


def _read_multiset(spark, root, version=None) -> Counter:
    t = TransactionalTable(root)
    return Counter((r.k, r.v) for r in t.read(spark, version).collect())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_random_op_sequences_match_model(spark, tmp_path_factory, ops):
    import uuid

    spark.sparkContext.setLogLevel("ERROR")
    root = str(tmp_path_factory.mktemp("model") / f"t_{uuid.uuid4().hex[:8]}")
    schema = spark.createDataFrame([], "k long, v long").schema
    table = TransactionalTable.create(root, schema)

    model = Counter()
    history: list[Counter] = [Counter()]  # model state per committed version

    def df_of(rows):
        return spark.createDataFrame(
            [(int(k), int(v)) for k, v in rows], "k long, v long"
        ).coalesce(1)

    for op in ops:
        txn = table.begin()
        kind = op[0]
        if kind == "insert":
            rows = op[1]
            txn.insert(df_of(rows))
            model = model + Counter((k, v) for k, v in rows)
        elif kind == "merge":
            upserts = op[1]
            txn.merge(spark, df_of(upserts.items()), "k")
            model = Counter(
                {(k, v): n for (k, v), n in model.items() if k not in upserts}
            ) + Counter((k, v) for k, v in upserts.items())
        elif kind == "delete":
            cut = op[1]
            txn.delete(spark, ("k", ">=", cut))
            model = Counter(
                {(k, v): n for (k, v), n in model.items() if not k >= cut}
            )
        elif kind == "replace":
            cut = op[1]
            rows = [(k, v) for k, v in op[2] if k >= cut]
            txn.replace_where(spark, ("k", ">=", cut), df_of(rows))
            model = Counter(
                {(k, v): n for (k, v), n in model.items() if not k >= cut}
            ) + Counter((k, v) for k, v in rows)
        elif kind == "erase":
            keys = op[1]
            txn.delete_keys(spark, df_of((k, 0) for k in keys).select("k"), "k")
            model = Counter(
                {(k, v): n for (k, v), n in model.items() if k not in keys}
            )
        elif kind == "delete_mor":
            # merge-on-read: same visible semantics as the COW delete,
            # entirely different mechanism (deletion vector + read-side
            # anti-join) — the model cannot tell them apart, which is
            # the contract
            cut = op[1]
            txn.delete_mor(spark, ("k", ">=", cut))
            model = Counter(
                {(k, v): n for (k, v), n in model.items() if not k >= cut}
            )
        elif kind == "materialize":
            txn.abort()  # table-level, not a staged txn
            if table.materialize_dvs(spark) is not None:
                history.append(Counter(model))  # content unchanged
            assert _read_multiset(spark, root) == model
            continue
        elif kind == "compact":
            txn.abort()  # table-level, not a staged txn
            if table.compact(spark) is not None:
                history.append(Counter(model))  # content unchanged
            assert _read_multiset(spark, root) == model
            continue
        elif kind == "restore":
            txn.abort()  # restore is table-level, not a staged txn
            target = int(op[1] * (len(history) - 1))
            table.restore(target)
            model = Counter(history[target])
            history.append(Counter(model))
            assert _read_multiset(spark, root) == model
            continue
        txn.commit()
        history.append(Counter(model))
        assert _read_multiset(spark, root) == model

    # time travel reproduces every historical state
    for version, snapshot in enumerate(history):
        assert _read_multiset(spark, root, version=version) == snapshot
