"""Structural invariants for the round-10 additions beyond the DuckDB
parity gate: the winnowing guarantee (shared long substring => shared
selected fingerprint) and the JL projection contract."""

import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _py_winnow(text: str) -> set[int]:
    """Independent single-threaded winnowing oracle (same constants)."""
    from dbms_query_optimizer_spark.functions.text import (
        ROLL_BASE,
        ROLL_K,
        ROLL_PRIME,
    )
    from dbms_query_optimizer_spark.operators.dedup import WINNOW_W
    import re

    nrm = re.sub(r"\s+", " ", text).lower()
    cp = [ord(c) for c in nrm]
    n = len(cp) - ROLL_K + 1
    if n < WINNOW_W:
        return set()
    hs = []
    for i in range(n):
        h = 0
        for j in range(ROLL_K):
            h = (h * ROLL_BASE + cp[i + j]) % ROLL_PRIME
        hs.append(h)
    return {
        min(hs[i : i + WINNOW_W]) for i in range(len(hs) - WINNOW_W + 1)
    }


def test_winnowing_guarantee_on_planted_pair(spark):
    """Schleimer/Wilkerson/Aiken: two documents sharing a run of
    >= WINNOW_W + ROLL_K - 1 characters MUST share a selected
    fingerprint; unrelated random texts almost surely must not."""
    from dbms_query_optimizer_spark.functions.text import ROLL_K
    from dbms_query_optimizer_spark.operators.dedup import (
        WINNOW_W,
        winnow_fingerprints_arrow,
    )

    shared_run = "the quick brown fox jumps over the lazy dog tonight"
    assert len(shared_run) >= WINNOW_W + ROLL_K - 1
    docs = spark.createDataFrame(
        [
            (1, "intro alpha " + shared_run + " outro beta gamma delta"),
            (2, "completely different opening text " + shared_run + " end"),
            (3, "zx qv jk wp mn bt ld rc fs hg uy ie oa zeta theta iota"),
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints_arrow(docs).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in out.groupby("doc_id")}
    assert by_doc[1] & by_doc[2], "planted shared run produced no shared fp"
    assert not (by_doc[1] & by_doc.get(3, set()))
    assert not (by_doc[2] & by_doc.get(3, set()))
    # engine fingerprints == the independent python winnow, per doc
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, fps in by_doc.items():
        assert fps == _py_winnow(rows[d])


def test_dedup_winnowing_pairs_recompute(spark):
    """Full-corpus pair report recomputed independently in Python at
    sf0.001 (500 docs) — same fingerprints, stop cap, and threshold."""
    from collections import defaultdict

    from dbms_query_optimizer_spark.operators.dedup import (
        WINNOW_STOP_DF,
        WINNOW_T,
        q_dedup_winnowing,
    )

    out = q_dedup_winnowing(spark, SF_DIR).toPandas()
    assert (out["id_a"] < out["id_b"]).all()
    assert (out["n_shared"] >= WINNOW_T).all()

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "text"]]
    doc_fps = {int(r.doc_id): _py_winnow(r.text) for r in docs.itertuples()}
    df = defaultdict(set)
    for d, fps in doc_fps.items():
        for fp in fps:
            df[fp].add(d)
    live = {fp for fp, ds in df.items() if 2 <= len(ds) <= WINNOW_STOP_DF}
    pair_n = defaultdict(int)
    for fp in live:
        ds = sorted(df[fp])
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                pair_n[(a, b)] += 1
    want = {p: n for p, n in pair_n.items() if n >= WINNOW_T}
    got = {
        (int(r.id_a), int(r.id_b)): int(r.n_shared) for r in out.itertuples()
    }
    assert got == want


def test_random_projection_jl_contract(spark):
    """E[pnorm2] = RP_OUT_DIM * qnorm2 for Rademacher projections: the
    corpus-mean ratio must sit near 1 (JL), and one vector's components
    must equal an independent numpy recompute."""
    from dbms_query_optimizer_spark.operators.similarity import (
        KMEANS_Q,
        RP_OUT_DIM,
        _rp_signs,
        q_embedding_random_projection,
    )

    out = q_embedding_random_projection(spark, SF_DIR).toPandas()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    assert len(out) == len(emb)
    ratio = out["pnorm2"] / (RP_OUT_DIM * out["qnorm2"])
    assert 0.7 <= ratio.mean() <= 1.3
    # exact recompute of the first 4 components for 5 vectors
    signs = np.array(_rp_signs())
    emb = emb.set_index("vec_id")
    for vid in out["vec_id"].head(5):
        v = np.asarray(emb.loc[vid, "embedding"], dtype=np.float64)
        qv = np.floor(v * KMEANS_Q + 0.5).astype(np.int64)
        p = signs @ qv
        row = out[out["vec_id"] == vid].iloc[0]
        assert [row.p0, row.p1, row.p2, row.p3] == list(p[:4])
        assert row.pnorm2 == int((p.astype(object) ** 2).sum())
        assert row.qnorm2 == int((qv.astype(object) ** 2).sum())


def test_bpe_train_steps_matches_python_oracle(spark):
    """The 4-round merge table recomputed by an independent Python BPE
    (dict/Counter, no SQL), including the left-to-right non-overlap
    merge semantics and the (count desc, pair asc) tie-break."""
    import re
    from collections import Counter

    from dbms_query_optimizer_spark.operators.text import (
        BPE_ROUNDS,
        q_bpe_train_steps,
    )

    out = [
        (int(r["round"]), r["sym_a"], r["sym_b"], int(r["total_count"]))
        for r in q_bpe_train_steps(spark, SF_DIR).collect()
    ]

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    vocab: Counter = Counter()
    for t in docs["text"]:
        for w in re.split(r"[^a-z]+", t.lower()):
            if len(w) >= 2:
                vocab[w] += 1
    segs = {w: list(w) for w in vocab}
    want = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pc: Counter = Counter()
        for w, f in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        m = max(pc.values())
        a, b = sorted(k for k, v in pc.items() if v == m)[0]
        want.append((rnd, a, b, m))
        for w, s in segs.items():
            nxt, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    nxt.append(a + b)
                    i += 2
                else:
                    nxt.append(s[i])
                    i += 1
            segs[w] = nxt
    assert out == want


def test_bpe_merge_fold_non_overlap(spark):
    """'aaaa' + (a,a) must segment [aa, aa] (left-to-right
    non-overlapping), 'abab' + (a,b) -> [ab, ab], 'banana' + (a,n) ->
    [b, an, an, a] — the fold semantics both engines share."""
    from dbms_query_optimizer_spark.operators.text import _bpe_fold_sql

    def run(word: str, a: str, b: str) -> list[str]:
        fold = _bpe_fold_sql(f"'{a}'", f"'{b}'")
        return (
            spark.sql(
                "SELECT split(trim(replace(aggregate("
                "transform(sequence(1, length(w)), i -> substring(w, i, 1)),"
                f" '|', (acc, x) -> {fold}), '|', ' ')), ' ') AS s"
                f" FROM (SELECT '{word}' AS w)"
            ).collect()[0]["s"]
        )

    assert run("aaaa", "a", "a") == ["aa", "aa"]
    assert run("abab", "a", "b") == ["ab", "ab"]
    assert run("banana", "a", "n") == ["b", "an", "an", "a"]


def test_bpe_train_survives_single_symbol_words(spark, tmp_path):
    """Regression (round-10 review): a standalone word equal to an early
    merge pair collapses to ONE symbol; Spark's sequence(1, 0) is
    [1, 0] — descending, not empty like DuckDB's generate_series — so
    the next round's pair explode crashed on element_at before the
    size(syms) >= 2 filter. The fixture makes ('i','n') the round-1
    argmax with 'in' itself in the vocabulary; all 4 rounds must run
    and match the oracle."""
    import shutil

    from dbms_query_optimizer_spark.engine import TABLES
    from dbms_query_optimizer_spark.operators.text import (
        BPE_ROUNDS,
        _oracle_bpe_train_steps,
        q_bpe_train_steps,
    )

    from .oracle_utils import compare, duckdb_conn

    fx = tmp_path / "bpe_fixture"
    fx.mkdir()
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", fx / f"{t}.parquet")
    texts = ["in in in in in in in in in in", "abcdef abcdef abcdef"]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "fixture",
            "n_chars": [len(t) for t in texts],
        }
    )
    docs.to_parquet(fx / "documents.parquet")

    out = q_bpe_train_steps(spark, str(fx))
    rows = out.collect()
    assert len(rows) == BPE_ROUNDS
    assert (rows[0]["sym_a"], rows[0]["sym_b"]) == ("i", "n")
    conn = duckdb_conn(str(fx))
    try:
        ok, msg = compare(
            q_bpe_train_steps(spark, str(fx)), conn, _oracle_bpe_train_steps()
        )
        assert ok, msg
    finally:
        conn.close()
