"""Seeded generator for the ten engine tables.

Writes ``{out_dir}/{table}.parquet`` with the column names and types the
engine's loader and the catalog's DuckDB oracles expect (FIXTURES.md §B):
a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``. Row counts scale linearly with ``sf`` (``lineitem`` has
6,000,000 × sf rows). The same ``(seed, sf)`` always writes the same
values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rows(sf: float, per_unit: int) -> int:
    return max(1, int(round(per_unit * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory."""
    rng = np.random.default_rng(seed)
    n_cust = _rows(sf, 150_000)
    n_supp = _rows(sf, 10_000)
    n_part = _rows(sf, 200_000)
    n_ord = _rows(sf, 1_500_000)
    n_line = _rows(sf, 6_000_000)
    n_ev = _rows(sf, 1_000_000)
    n_users = _rows(sf, 15_000)
    n_docs = _rows(sf, 50_000)
    n_vecs = _rows(sf, 20_000)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array(nk % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object)
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + rng.integers(0, 1000, n_part) * 0.1, 1)),
        }
    )
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, span_days, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, span_days + 95, n_line) * _DAY_US),
        }
    )
    # events: a 30-day stream at a constant mean rate, ordered by time
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array(
                np.char.add(
                    np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
                ).astype(object)
            ),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-vocabulary texts; 5% are near-duplicates of an earlier
    document (two tokens replaced, ``dup`` appended) so the dedup and
    entity-resolution operators find real pairs."""
    texts: list[str] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            toks.append("dup")
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write(out_dir: str, seed: int, sf: float) -> None:
    """Generate every table and write it to ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
