"""Structural invariants for the round-9 additions beyond the DuckDB
parity gate: RRF fusion arithmetic/ranks and the conformal order
statistic (recomputed independently in pandas)."""

import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def rrf(spark):
    from dbms_query_optimizer_spark.operators.similarity import (
        q_rrf_hybrid_search,
    )

    return q_rrf_hybrid_search(spark, SF_DIR).toPandas()


@pytest.fixture(scope="module")
def conf(spark):
    from dbms_query_optimizer_spark.operators.governance import (
        q_conformal_intervals,
    )

    return q_conformal_intervals(spark, SF_DIR).toPandas()


def test_rrf_score_is_the_rank_formula(rrf):
    from dbms_query_optimizer_spark.operators.similarity import RRF_C

    for _, row in rrf.iterrows():
        want = 0.0
        if pd.notna(row["r_lex"]):
            want += 1.0 / (RRF_C + row["r_lex"])
        if pd.notna(row["r_vec"]):
            want += 1.0 / (RRF_C + row["r_vec"])
        assert abs(row["rrf"] - round(want, 9)) < 1e-12


def test_rrf_shape_and_order(rrf):
    from dbms_query_optimizer_spark.operators.similarity import (
        RRF_DEPTH,
        RRF_QUERY_VEC,
        RRF_TOPK,
    )

    assert 0 < len(rrf) <= RRF_TOPK
    assert rrf["doc_id"].is_unique
    assert (rrf["doc_id"] != RRF_QUERY_VEC).all()  # no self-retrieval
    # fused list is sorted by score desc (doc_id tiebreak)
    assert (rrf["rrf"].values[:-1] >= rrf["rrf"].values[1:]).all()
    # leg ranks respect the depth cut and are unique within a leg
    for col in ("r_lex", "r_vec"):
        ranks = rrf[col].dropna()
        assert (ranks >= 1).all() and (ranks <= RRF_DEPTH).all()
        assert ranks.is_unique
    # a doc ranked high in BOTH legs must outscore a doc in one leg at
    # the same ranks — monotonicity of the fusion
    both = rrf[rrf["r_lex"].notna() & rrf["r_vec"].notna()]
    one = rrf[rrf["r_lex"].isna() | rrf["r_vec"].isna()]
    if len(both) and len(one):
        assert both["rrf"].max() > one["rrf"].min()


def test_conformal_qhat_is_kth_order_statistic(spark, conf):
    """Recompute the calibration order statistic independently (pandas
    over the same md5 split) — the invariant the SQL rank implements."""
    import hashlib
    import math

    from dbms_query_optimizer_spark.operators.governance import (
        CONF_BUCKETS,
        CONF_CAL_BUCKET,
        CONF_COV_DEN,
        CONF_COV_NUM,
        CONF_TEST_BUCKET,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")[
        ["o_orderkey", "o_orderpriority", "o_totalprice"]
    ]
    orders["_b"] = orders["o_orderkey"].map(
        lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        % CONF_BUCKETS
    )
    train = orders[~orders["_b"].isin([CONF_CAL_BUCKET, CONF_TEST_BUCKET])]
    fit = train.groupby("o_orderpriority")["o_totalprice"].agg(
        lambda s: round(float(s.sum()) / len(s), 4)
    )
    cal = orders[orders["_b"] == CONF_CAL_BUCKET].copy()
    cal["r"] = (cal["o_totalprice"] - cal["o_orderpriority"].map(fit)).abs().round(4)
    for _, row in conf.iterrows():
        rs = sorted(cal[cal["o_orderpriority"] == row["o_orderpriority"]]["r"])
        n = len(rs)
        assert n == row["n_cal"]
        k = min(math.ceil(CONF_COV_NUM * (n + 1) / CONF_COV_DEN), n)
        assert rs[k - 1] == pytest.approx(row["q_hat"], abs=1e-9)


def test_conformal_counts_consistent(conf):
    assert (conf["n_covered"] <= conf["n_test"]).all()
    assert (conf["coverage"] >= 0).all() and (conf["coverage"] <= 1).all()
    assert (conf["q_hat"] >= 0).all()
    # split-conformal at alpha=0.1 should land near 0.9 on exchangeable
    # data; a wide tolerance still catches an off-by-one k or a leaked
    # split (which push coverage toward 0.5 or 1.0 systematically)
    pooled = conf["n_covered"].sum() / conf["n_test"].sum()
    assert 0.75 <= pooled <= 1.0


def test_mmr_greedy_invariant(spark):
    """Each selected doc must maximize the MMR objective at its step,
    recomputed independently in pandas from the RRF frame + cosines."""
    import numpy as np

    from dbms_query_optimizer_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA_DEN,
        MMR_LAMBDA_NUM,
        q_mmr_diversify_topk,
        q_rrf_hybrid_search,
    )

    out = q_mmr_diversify_topk(spark, SF_DIR).toPandas()
    assert list(out["rank"]) == list(range(1, MMR_K + 1))
    assert out["doc_id"].is_unique

    cand = q_rrf_hybrid_search(spark, SF_DIR).toPandas()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").set_index("vec_id")
    vec = {
        d: np.asarray(emb.loc[d, "embedding"], dtype=np.float64)
        for d in cand["doc_id"]
    }

    def cos(a, b):
        va, vb = vec[a], vec[b]
        return round(
            float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6
        )

    rel = dict(zip(cand["doc_id"], cand["rrf"]))
    lam = MMR_LAMBDA_NUM / MMR_LAMBDA_DEN
    chosen: list[int] = []
    for _, row in out.iterrows():
        if not chosen:
            want = max(sorted(rel), key=lambda d: (rel[d], -d))
        else:
            scores = {
                d: round(
                    lam * rel[d] - (1 - lam) * max(cos(d, s) for s in chosen),
                    9,
                )
                for d in rel
                if d not in chosen
            }
            want = max(sorted(scores), key=lambda d: (scores[d], -d))
            assert abs(row["mmr"] - scores[want]) < 1e-9
        assert row["doc_id"] == want
        chosen.append(want)


def test_ndcg_report_sanity(spark):
    """The cosine leg IS the ground truth (nDCG/MRR/recall exactly 1);
    every metric is bounded; hit counts cannot exceed the cutoff."""
    from dbms_query_optimizer_spark.operators.similarity import (
        NDCG_K,
        q_retrieval_ndcg_report,
    )

    rep = q_retrieval_ndcg_report(spark, SF_DIR).toPandas().set_index("leg")
    assert set(rep.index) == {"bm25", "cosine", "rrf"}
    cos = rep.loc["cosine"]
    assert cos["ndcg_at_10"] == 1.0
    assert cos["mrr_at_10"] == 1.0
    assert cos["recall_at_10"] == 1.0
    assert cos["n_hits"] == NDCG_K
    for leg in ("bm25", "rrf"):
        row = rep.loc[leg]
        for m in ("ndcg_at_10", "mrr_at_10", "recall_at_10"):
            assert 0.0 <= row[m] <= 1.0, (leg, m)
        assert 0 <= row["n_hits"] <= NDCG_K
    # fusion includes the full cosine top-10 among its candidates, so
    # its recall can never fall below what rank-60 damping preserves:
    # at minimum it must register at least one ground-truth hit
    assert rep.loc["rrf", "n_hits"] >= 1


def test_luhn_audit_salting_classes(spark):
    """The deterministic salting must put every doc in its designed
    class: %3==0 has exactly one Luhn-VALID candidate, %3==1 exactly
    one INVALID candidate, %3==2 whatever the raw text had (no plant).
    Also recompute Luhn independently for every reported last4 doc."""
    from dbms_query_optimizer_spark.operators.text import q_pii_luhn_audit

    out = q_pii_luhn_audit(spark, SF_DIR).toPandas()
    m0 = out[out.doc_id % 3 == 0]
    m1 = out[out.doc_id % 3 == 1]
    assert (m0["n_luhn_valid"] >= 1).all()
    assert m0["has_valid_pan"].all()
    assert (m0["first_valid_last4"].str.len() == 4).all()
    # the invalid twin never validates (check digit shifted +5 mod 10)
    assert (m1["n_pan_candidates"] >= 1).all()
    assert (m1["n_luhn_valid"] == 0).all()
    assert (~m1["has_valid_pan"]).all()
    assert m1["first_valid_last4"].isna().all()

    # independent Luhn recompute of the planted PAN for a sample of docs
    import hashlib

    def luhn_ok(s: str) -> bool:
        total = 0
        for j, ch in enumerate(reversed(s), start=1):
            d = int(ch)
            total += (d * 2 - 9 if d * 2 > 9 else d * 2) if j % 2 == 0 else d
        return total % 10 == 0

    for doc_id in m0["doc_id"].head(20):
        digits = "".join(
            c for c in hashlib.md5(str(doc_id).encode()).hexdigest()
            if c.isdigit()
        )
        payload = (digits + "0" * 15)[:15]
        # brute the check digit the way the query's arithmetic defines it
        check = next(d for d in range(10) if luhn_ok(payload + str(d)))
        assert (
            out.loc[out.doc_id == doc_id, "first_valid_last4"].iloc[0]
            == (payload + str(check))[-4:]
        )


def test_mmr_pool_excludes_embeddingless(spark, tmp_path):
    """Candidate-pool contract (r9 ADVICE, medium): when the RRF top-k
    contains docs with NO embedding row — documents outnumber
    embeddings, the normal state of every SF — both the engine and the
    DuckDB oracle must drop them from the MMR pool, even when such a
    doc is the PURE-RELEVANCE argmax at step 1. The fixture engineers
    exactly that: doc 1 is the sole lexical hit (r_lex=1, rrf=1/61,
    tied-for-top with the best vector doc and winning the doc_id
    tie-break) but has no embedding row."""
    import shutil

    import numpy as np

    from dbms_query_optimizer_spark.engine import TABLES
    from dbms_query_optimizer_spark.operators.similarity import (
        EMB_DIM,
        MMR_K,
        ORACLE_MMR_DIVERSIFY_TOPK,
        q_mmr_diversify_topk,
    )

    from .oracle_utils import compare, duckdb_conn

    fx = tmp_path / "mmr_fixture"
    fx.mkdir()
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", fx / f"{t}.parquet")

    # doc 1: only doc containing the BM25 terms, NO embedding row.
    # docs 10..19: term-free texts, each WITH an embedding. doc 0 is
    # the query vector (excluded from both legs by construction).
    texts = {1: "join table query join table query join"}
    for d in range(10, 20):
        texts[d] = f"alpha beta gamma delta {d}"
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": "en",
            "source": "fixture",
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    docs.to_parquet(fx / "documents.parquet")

    rng = np.random.RandomState(7)
    vec_ids = [0] + list(range(10, 20))
    emb = pd.DataFrame(
        {
            "vec_id": vec_ids,
            "embedding": [
                rng.randn(EMB_DIM).astype(np.float32) for _ in vec_ids
            ],
            "label": 0,
        }
    )
    emb["label"] = emb["label"].astype("int32")
    emb.to_parquet(fx / "embeddings.parquet")

    out = q_mmr_diversify_topk(spark, str(fx)).toPandas()
    assert len(out) == MMR_K
    assert 1 not in set(out["doc_id"]), (
        "embedding-less lexical argmax leaked into the MMR shortlist"
    )
    conn = duckdb_conn(str(fx))
    try:
        ok, msg = compare(
            q_mmr_diversify_topk(spark, str(fx)), conn, ORACLE_MMR_DIVERSIFY_TOPK
        )
        assert ok, msg
        # the UNrestricted pool WOULD have picked doc 1 first — prove
        # the fixture actually exercises the divergence the fix closes
        naive = conn.execute(
            "SELECT doc_id FROM ("
            + ORACLE_MMR_DIVERSIFY_TOPK.replace(
                "WHERE doc_id IN (SELECT vec_id FROM embeddings)", ""
            )
            + ") WHERE rank = 1"
        ).fetchone()[0]
        assert naive == 1
    finally:
        conn.close()
