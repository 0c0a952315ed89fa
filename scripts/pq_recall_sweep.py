#!/usr/bin/env python
"""Measure PQ-ADC mean recall@TOP_K vs the exact L2 top-k at each SF.

The recall-vs-density trend is the contract this measures: with the
density-aware build (similarity._pq_k / _pq_shortlist) the trend must be
FLAT-or-rising as the corpus grows; a falling trend means the scaling
law stopped keeping pace and PQ_RECALL_FLOOR will silently decay at the
next scale jump (the r7 failure class: fixed k=32 + 4x shortlist fell
0.84 -> 0.60 going sf0.01 -> sf0.1). Run per round alongside the sf-max
full-catalog drive, and after any change to the PQ constants:

    python scripts/pq_recall_sweep.py [sf0.001 sf0.01 sf0.1]

Exits nonzero if any SF's mean recall is below PQ_RECALL_FLOOR or the
trend falls by more than 0.1 across consecutive SFs.

Args may be testdata names (sf0.001) or PATHS to fixture dirs — e.g.
the sf1 decade fixture from scripts/gen_scale_fixture.py:

    python scripts/gen_scale_fixture.py
    python scripts/pq_recall_sweep.py sf0.001 sf0.01 sf0.1 .scale_fixtures/sf1
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import SparkSession

from dbms_query_optimizer_spark.operators import similarity as S
from dbms_query_optimizer_spark.session import get_spark


def _recall_vs_exact(got, vecs) -> float:
    recalls = []
    for qid in range(S.N_QUERIES):
        d = sorted(
            (float(np.linalg.norm(vecs[qid] - v)), i)
            for i, v in vecs.items()
            if i != qid
        )
        truth = {i for _, i in d[: S.TOP_K]}
        mine = {r["neighbor_id"] for r in got if r["query_id"] == qid}
        recalls.append(len(mine & truth) / S.TOP_K)
    return sum(recalls) / len(recalls)


def mean_recall(spark: SparkSession, sf_dir: str) -> tuple[int, float, float]:
    """(corpus size, flat-PQ recall, composed IVF+PQ recall) at sf_dir.
    The indexes' build-once key covers the engine source, so the sweep
    measures the build the CURRENT constants produce, never a stale one."""
    got = S.q_embedding_pq_adc(spark, sf_dir).collect()
    got_ivfpq = S.q_knn_ivfpq(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
    return len(vecs), _recall_vs_exact(got, vecs), _recall_vs_exact(got_ivfpq, vecs)


def main() -> int:
    sfs = sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"]
    # repo-standard session (AQE/Arrow/driver-memory/code-cache knobs)
    spark = get_spark(
        app_name="pq_recall_sweep", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rc = 0
    measured = []
    for sf in sfs:
        sf_dir = sf if os.sep in sf else f"/root/testdata/{sf}"
        n, r, r_ivfpq = mean_recall(spark, sf_dir)
        print(
            f"{sf}: n={n} k={S._pq_k(n)} shortlist={S._pq_shortlist(n)} "
            f"mean_recall={r:.3f} ivfpq_recall={r_ivfpq:.3f}"
        )
        if r < S.PQ_RECALL_FLOOR:
            print(f"  FAIL: below PQ_RECALL_FLOOR={S.PQ_RECALL_FLOOR}")
            rc = 1
        if r_ivfpq < S.IVFPQ_RECALL_FLOOR:
            print(f"  FAIL: ivfpq below IVFPQ_RECALL_FLOOR={S.IVFPQ_RECALL_FLOOR}")
            rc = 1
        measured.append((n, sf, r, r_ivfpq))
    # trend check in CORPUS-SIZE order, independent of CLI arg order.
    # The flat-PQ trend must be flat-or-rising (density-aware knobs);
    # the IVF+PQ trend is additionally bounded by cell-coverage recall
    # (nprobe/k of the corpus read), so it gets the same -0.1 tolerance
    # against a FALLING trend but no rising requirement.
    measured.sort()
    for (n0, sf0, r0, i0), (n1, sf1, r1, i1) in zip(measured, measured[1:]):
        if r1 < r0 - 0.1:
            print(f"  FAIL: recall fell {r0:.3f} ({sf0}, n={n0}) -> "
                  f"{r1:.3f} ({sf1}, n={n1}) with density")
            rc = 1
        if i1 < i0 - 0.1:
            print(f"  FAIL: ivfpq recall fell {i0:.3f} ({sf0}, n={n0}) -> "
                  f"{i1:.3f} ({sf1}, n={n1}) with density")
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
