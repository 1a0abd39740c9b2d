"""PQ ANN correctness: a NumPy twin of the full deterministic pipeline
(per-subspace Lloyd's with the same init/rounding/tie-breaks, encode, ADC
shortlist, exact rerank) must match the distributed result exactly, and
end-to-end recall@k vs the exact operator has a floor. Iterative k-means
inside -> no SQL oracle (same policy as the learned-IVF query)."""

import numpy as np
import pytest

from compute_histogram_spark.operators import clustering as CL
from compute_histogram_spark.operators import pq as PQ
from compute_histogram_spark.operators import similarity as SIM
from compute_histogram_spark.sources.tables import load


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def vecs(emb):
    rows = emb.select("vec_id", "embedding").collect()
    return {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}


def _np_kmeans(mat, n_clusters, iters):
    c = np.round(mat[:n_clusters].copy(), CL.DEC)
    for _ in range(iters):
        d = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ c.T) + (c * c).sum(1)[None, :]
        assign = np.argmin(np.round(d, CL.DEC), axis=1)
        for cid in range(n_clusters):
            members = mat[assign == cid]
            if len(members):
                c[cid] = members.mean(axis=0)
        c = np.round(c, CL.DEC)
    return c


def _np_pq_topk(vecs, m, ksub, iters, k, rerank, n_queries=10):
    ids = np.array(sorted(vecs))
    mat = np.stack([vecs[i] for i in ids])
    dim = mat.shape[1]
    dsub = dim // m
    books = np.stack([
        _np_kmeans(mat[:, s * dsub : (s + 1) * dsub], ksub, iters)
        for s in range(m)
    ])
    codes = np.empty((len(ids), m), dtype=np.int64)
    for s in range(m):
        x = mat[:, s * dsub : (s + 1) * dsub]
        d = (x * x).sum(1)[:, None] - 2.0 * (x @ books[s].T) + (
            books[s] * books[s]
        ).sum(1)[None, :]
        codes[:, s] = np.argmin(np.round(d, CL.DEC), axis=1)
    norms = np.linalg.norm(mat, axis=1)
    qmask = ids < n_queries
    out = {}
    for qi in np.where(qmask)[0]:
        q = mat[qi]
        lut = np.stack([
            books[s] @ q[s * dsub : (s + 1) * dsub] for s in range(m)
        ])  # [m, ksub]
        approx = lut[np.arange(m)[:, None], codes.T].sum(axis=0)
        approx = np.round(approx / (norms[qi] * norms), 6)
        cand = [
            (-approx[j], ids[j]) for j in range(len(ids)) if ids[j] != ids[qi]
        ]
        short = [v for _, v in sorted(cand)[:rerank]]
        exact = {
            v: round(
                float(vecs[ids[qi]] @ vecs[v])
                / (norms[qi] * float(np.linalg.norm(vecs[v]))),
                6,
            )
            for v in short
        }
        top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[int(ids[qi])] = [
            (rnk + 1, int(v), c) for rnk, (v, c) in enumerate(top)
        ]
    return out


def test_pq_topk_matches_numpy_twin(emb, vecs):
    got = {}
    for r in PQ.cosine_topk_pq(emb, k=5, m=8, ksub=16, iters=2,
                               rerank=40).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["vec_id"], r["cosine"])
        )
    want = _np_pq_topk(vecs, m=8, ksub=16, iters=2, k=5, rerank=40)
    assert set(got) == set(want)
    for q in want:
        assert got[q] == want[q], q


def test_pq_recall_floor_vs_exact(emb):
    exact = {}
    for r in SIM.cosine_topk(emb, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in PQ.cosine_topk_pq(emb, k=5, rerank=50).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_pq_compression_shape(emb):
    books = PQ.pq_train(emb, m=8, ksub=16, iters=1)
    assert books.shape == (8, 16, 8)
    codes = PQ.pq_encode(emb, books)
    row = codes.first()
    assert len(row["code"]) == 8
    assert all(0 <= c < 16 for c in row["code"])
    assert codes.count() == emb.count()


def test_sq_encode_bounds_and_fidelity(emb, vecs):
    rows = PQ.sq_encode(emb).collect()
    assert len(rows) == len(vecs)
    for r in rows[:20]:
        q = np.array(r["q"])
        assert np.abs(q).max() <= 127
        recon = q * r["scale"]
        v = np.array(r["v"])
        # int8 reconstruction error bounded by scale/2 per component
        assert np.abs(recon - v).max() <= r["scale"] / 2 + 1e-12


def test_sq_topk_recall_floor(emb):
    exact = {}
    for r in SIM.cosine_topk(emb, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in PQ.cosine_topk_sq(emb, k=5, rerank=30).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    # int8 is high fidelity: near-perfect recall expected
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_similarity_topk_pq_seed_oracle(spark, sf_dir):
    """Rotation-ready DuckDB twin (registry.SIMILARITY_PQ_ORACLE): PQ ANN
    with seed codebooks (iters=0) is value-exact cross-engine — staged
    for the 6th registry rotation."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.registry import (
        SIMILARITY_PQ_ORACLE,
        q_similarity_topk_pq,
    )

    sdf = q_similarity_topk_pq(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)  # keep the connection referenced: the
    # relation's .df() runs after the temporary would have been GC'd
    odf = con.sql(SIMILARITY_PQ_ORACLE).df()
    assert len(sdf) == 50
    assert compare("similarity_topk_pq", sdf, odf) == []


def test_sq_tier_never_composes(spark, sf_dir):
    """Guardrail (VERDICT r12 #8): cosine_topk_sq is the documented
    small-N baseline tier — its broadcast crossJoin scores queries
    against ALL codes (O(N*Q)), acceptable only standalone. Pin that
    (a) no package call site composes it into a pipeline (the only
    callers are its own module and the standalone registry row), and
    (b) the composed pipeline plans carry no Cartesian /
    nested-loop-join shape the SQ tier would introduce."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "compute_histogram_spark")
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        if rel.endswith("pq.py"):
            continue  # definition + tier docs
        src = open(path).read()
        if "cosine_topk_sq(" in src:
            # the standalone registry row is the one allowed call site
            allowed = rel == "registry.py" and src.count(
                "cosine_topk_sq(") == 1
            if not allowed:
                offenders.append(rel)
    assert offenders == [], offenders

    from compute_histogram_spark.registry import (
        q_corpus_pipeline,
        q_end_to_end_corpus,
    )

    for q in (q_corpus_pipeline, q_end_to_end_corpus):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
