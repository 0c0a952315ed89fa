"""``cache.build_once``: the one build-once path behind the persisted ANN
indexes and the LSH signature store.

Contract: the artifact directory is keyed on the kind, the real data
directory, each input file's (path, size, mtime_ns) and the package source
digest, so a rewritten input, a second data directory with the same
basename or an engine edit never reuses a stale artifact; publishing is
one rename, so a failed build leaves nothing behind and a concurrent
build of the same key that publishes first wins. A published build removes
the superseded roots of its own kind and data directory, and nothing else.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from dbms_query_optimizer_spark import cache


@pytest.fixture
def artifacts(tmp_path, monkeypatch):
    """Point gettempdir() at tmp_path; returns the artifacts parent."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return os.path.join(str(tmp_path), "spark_graft_artifacts")


def _data_dir(base, name="sf0.001", payload=b"PAR1-fake"):
    d = os.path.join(str(base), name)
    os.makedirs(d)
    with open(os.path.join(d, "embeddings.parquet"), "wb") as fh:
        fh.write(payload)
    return d


def _build_counting(calls):
    def build(out):
        calls.append(out)
        with open(os.path.join(out, "payload"), "w") as fh:
            fh.write("x")
        return {"n": len(calls)}

    return build


def test_hit_skips_build_and_marker_holds_build_result(artifacts, tmp_path):
    d = _data_dir(tmp_path / "data")
    calls = []
    root = cache.build_once("ivf", d, ("embeddings",), _build_counting(calls))
    assert os.path.dirname(root) == artifacts
    assert os.path.basename(root).startswith("ivf-")
    with open(os.path.join(root, "_BUILT")) as fh:
        assert json.load(fh) == {"n": 1}
    assert os.path.exists(os.path.join(root, "payload"))
    assert cache.build_once("ivf", d, ("embeddings",), _build_counting(calls)) == root
    assert len(calls) == 1
    assert os.listdir(artifacts) == [os.path.basename(root)]


def test_root_moves_with_input_size_mtime_and_source(artifacts, tmp_path, monkeypatch):
    d = _data_dir(tmp_path / "data")
    path = os.path.join(d, "embeddings.parquet")

    def root():
        return cache.build_once("ivf", d, ("embeddings",), lambda out: {})

    r0 = root()
    with open(path, "ab") as fh:  # size changes
        fh.write(b"more")
    r1 = root()
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))  # mtime only
    r2 = root()
    monkeypatch.setattr(cache, "_source_digest", lambda: "edited-engine")
    r3 = root()
    assert len({r0, r1, r2, r3}) == 4
    # the kind is part of the key as well
    assert cache.build_once("pq", d, ("embeddings",), lambda out: {}) != r3


def test_digest_change_removes_superseded_root(artifacts, tmp_path, monkeypatch):
    d = _data_dir(tmp_path / "data")
    old = cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    monkeypatch.setattr(cache, "_source_digest", lambda: "edited-engine")
    new = cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    assert new != old
    assert os.listdir(artifacts) == [os.path.basename(new)]


def test_prune_spares_other_sf_dir_and_other_kind(artifacts, tmp_path, monkeypatch):
    d = _data_dir(tmp_path / "data")
    other = _data_dir(tmp_path / "other")
    other_dir = cache.build_once("ivf", other, ("embeddings",), lambda out: {})
    other_kind = cache.build_once("pq", d, ("embeddings",), lambda out: {})
    cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    monkeypatch.setattr(cache, "_source_digest", lambda: "edited-engine")
    new = cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    assert sorted(os.listdir(artifacts)) == sorted(
        os.path.basename(p) for p in (other_dir, other_kind, new)
    )


def test_prune_spares_build_in_flight(artifacts, tmp_path, monkeypatch):
    d = _data_dir(tmp_path / "data")
    old = cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    # a concurrent build of the same kind and directory, not yet published
    in_flight = tempfile.mkdtemp(prefix=os.path.basename(old) + ".tmp-", dir=artifacts)
    monkeypatch.setattr(cache, "_source_digest", lambda: "edited-engine")
    new = cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    assert sorted(os.listdir(artifacts)) == sorted(
        os.path.basename(p) for p in (in_flight, new)
    )


def test_same_basename_in_two_dirs_gets_two_roots(artifacts, tmp_path):
    a = _data_dir(tmp_path / "a")
    b = _data_dir(tmp_path / "b")
    ra = cache.build_once("ivf", a, ("embeddings",), lambda out: {})
    rb = cache.build_once("ivf", b, ("embeddings",), lambda out: {})
    assert ra != rb


def test_failed_build_leaves_no_root_or_temp_dir(artifacts, tmp_path):
    d = _data_dir(tmp_path / "data")

    def build(out):
        with open(os.path.join(out, "half"), "w") as fh:
            fh.write("x")
        raise RuntimeError("training failed")

    with pytest.raises(RuntimeError, match="training failed"):
        cache.build_once("ivf", d, ("embeddings",), build)
    assert os.listdir(artifacts) == []


def test_concurrent_publisher_wins(artifacts, tmp_path):
    d = _data_dir(tmp_path / "data")
    root = cache.build_once("ivf", d, ("embeddings",), lambda out: {})
    shutil.rmtree(root)

    def build(out):
        # another process publishes the same key while this one builds
        os.makedirs(root)
        with open(os.path.join(root, "_BUILT"), "w") as fh:
            json.dump({"by": "competitor"}, fh)
        return {"by": "me"}

    assert cache.build_once("ivf", d, ("embeddings",), build) == root
    with open(os.path.join(root, "_BUILT")) as fh:
        assert json.load(fh) == {"by": "competitor"}
    assert os.listdir(artifacts) == [os.path.basename(root)]


def test_rewritten_corpus_retrains_ivf_and_ivfpq(spark, sf_dir, tmp_path, monkeypatch):
    """Rewrite a copy's embeddings in place (vectors negated): both
    indexes must come back under new roots and keep their recall floors.
    Serving the index trained on the old vectors reads recall 0.00, and an
    IVF+PQ retrained on stale IVF cells encodes the old vectors."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbms_query_optimizer_spark.operators import similarity as S

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = os.path.join(str(tmp_path), "sf0.001")
    os.makedirs(sf)
    for f in os.listdir(sf_dir):  # copyfile: the fixture files are read-only
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(sf, f))
    ivf0 = S.build_ivf_index(spark, sf)
    ivfpq0 = S.build_ivfpq_index(spark, sf)

    emb = os.path.join(sf, "embeddings.parquet")
    tbl = pq.read_table(emb)
    i = tbl.schema.get_field_index("embedding")
    neg = [[-x for x in v] for v in tbl.column(i).to_pylist()]
    pq.write_table(
        tbl.set_column(i, tbl.schema.field(i), pa.array(neg, tbl.schema.field(i).type)),
        emb,
    )

    assert S.build_ivf_index(spark, sf) != ivf0
    assert S.build_ivfpq_index(spark, sf) != ivfpq0

    ids = np.array(tbl.column("vec_id").to_pylist())
    X = -np.array(tbl.column(i).to_pylist(), dtype=np.float64)
    unit = X / np.linalg.norm(X, axis=1, keepdims=True)

    def recall(df, dist):
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = []
        for qi in np.flatnonzero(ids < S.N_QUERIES):
            d = dist(qi)
            d[qi] = np.inf
            truth = {int(ids[j]) for j in np.argsort(d, kind="stable")[: S.TOP_K]}
            recalls.append(len(got.get(int(ids[qi]), set()) & truth) / S.TOP_K)
        return sum(recalls) / len(recalls)

    r_ivf = recall(S.q_knn_ivf(spark, sf), lambda qi: -(unit @ unit[qi]))
    r_ivfpq = recall(S.q_knn_ivfpq(spark, sf), lambda qi: ((X - X[qi]) ** 2).sum(axis=1))
    assert r_ivf > S.IVF_RECALL_FLOOR, r_ivf
    assert r_ivfpq >= S.IVFPQ_RECALL_FLOOR, r_ivfpq
