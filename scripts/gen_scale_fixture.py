#!/usr/bin/env python
"""Build the sf1 retrieval-scale fixture: one more DECADE of embedding
density than the largest driver testdata (r9 verdict task 5).

The driver generates sf0.001/0.01/0.1 only; the retrieval stack's
flatness/recall-trend claims are proven across those, and this fixture
extends the sweep one decade further WITHOUT touching /root/testdata
(read-only) or inventing new oracle inputs: the 2000 sf0.1 vectors are
kept VERBATIM (vec_ids 0..1999, so the query vectors and every
engine constant keep their meaning) and 18000 derived vectors are added
(vec_id 2000.., each a seeded Gaussian perturbation sigma=0.05 of a
random original, label inherited — cluster structure persists, density
x10). The remaining ``engine.TABLES`` are symlinked from sf0.1:
embedding-only queries never read them, and load_tables just needs the
paths to exist. Deterministic (fixed seed) so two builds byte-agree.

Round 11 extends the same recipe to DOCUMENTS (the dedup family's
fourth decade): 5000 originals + 45000 derived near-dups/non-dups.

Usage: python scripts/gen_scale_fixture.py  ->  .scale_fixtures/sf1/
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dbms_query_optimizer_spark.engine import TABLES  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".scale_fixtures", "sf1")
TARGET_N = 20_000
SIGMA = 0.05
SEED = 20260816


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    base = pd.read_parquet(f"{SRC}/embeddings.parquet")
    n0 = len(base)
    vecs = np.asarray(base["embedding"].to_list(), dtype=np.float32)
    labels = base["label"].to_numpy()
    rng = np.random.RandomState(SEED)
    idx = rng.randint(0, n0, size=TARGET_N - n0)
    noise = rng.normal(0.0, SIGMA, size=(TARGET_N - n0, vecs.shape[1]))
    new = (vecs[idx] + noise).astype(np.float32)
    out = pd.DataFrame(
        {
            "vec_id": np.concatenate(
                [base["vec_id"].to_numpy(), np.arange(n0, TARGET_N)]
            ).astype(np.int64),
            "embedding": list(vecs) + list(new),
            "label": np.concatenate([labels, labels[idx]]).astype(np.int32),
        }
    )
    out.to_parquet(f"{DST}/embeddings.parquet", index=False)

    # documents decade (r10 verdict task 4): same recipe as the vectors
    # — the 5000 sf0.1 documents kept VERBATIM (doc_id 0..4999, so the
    # dedup constants and any doc-keyed expectation keep their meaning)
    # plus 45000 derived docs (doc_id 5000..), each a token-level
    # perturbation of a random original: ~70% near-duplicates (drop or
    # swap a few tokens — exactly the population MinHash/winnowing/
    # prefix-filter dedup exists to find, so candidate-pair volume
    # scales realistically, not as disjoint-text zero work) and ~30%
    # shuffled-vocabulary non-duplicates. lang/source inherited,
    # n_chars recomputed. Deterministic (same seed stream).
    docs = pd.read_parquet(f"{SRC}/documents.parquet")
    d0 = len(docs)
    target_docs = d0 * 10
    texts = docs["text"].to_list()
    didx = rng.randint(0, d0, size=target_docs - d0)
    new_rows = []
    for i, bi in enumerate(didx):
        toks = texts[bi].split()
        mode = rng.rand()
        if mode < 0.35 and len(toks) > 4:  # near-dup: drop ~5% of tokens
            keep = rng.rand(len(toks)) >= 0.05
            toks = [t for t, k in zip(toks, keep) if k] or toks[:1]
        elif mode < 0.70 and len(toks) > 4:  # near-dup: swap ~5% of tokens
            vocab = list(dict.fromkeys(toks))
            toks = [
                vocab[rng.randint(0, len(vocab))] if rng.rand() < 0.05 else t
                for t in toks
            ]
        else:  # non-dup: resample the doc's own length from the vocab
            allv = texts[rng.randint(0, d0)].split()
            toks = [allv[rng.randint(0, len(allv))] for _ in range(len(toks))]
        new_rows.append(" ".join(toks))
    docs_out = pd.DataFrame(
        {
            "doc_id": np.concatenate(
                [docs["doc_id"].to_numpy(), np.arange(d0, target_docs)]
            ).astype(np.int64),
            "text": texts + new_rows,
            "lang": np.concatenate(
                [docs["lang"].to_numpy(), docs["lang"].to_numpy()[didx]]
            ),
            "source": np.concatenate(
                [docs["source"].to_numpy(), docs["source"].to_numpy()[didx]]
            ),
        }
    )
    docs_out["n_chars"] = docs_out["text"].str.len().astype(np.int32)
    doc_path = f"{DST}/documents.parquet"
    if os.path.islink(doc_path):  # pre-r11 fixture symlinked sf0.1 docs
        os.unlink(doc_path)
    docs_out.to_parquet(doc_path, index=False)

    for t in TABLES:
        if t in ("embeddings", "documents"):  # regenerated above
            continue
        link = f"{DST}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    print(
        f"wrote {DST}: {TARGET_N} vectors ({n0} original + derived), "
        f"{target_docs} documents ({d0} original + derived)"
    )


if __name__ == "__main__":
    sys.exit(main())
