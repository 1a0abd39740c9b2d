"""Learned-IVF (k-means) correctness: NumPy twin parity + recall floor.

The kmeans query has no SQL oracle (iterative, SURVEY §2.4), so this file IS
its correctness gate: the distributed Lloyd's implementation must reproduce a
driver-side NumPy implementation of the *same deterministic algorithm*
(same init, same rounding, same tie-breaks), and the end-to-end ANN query
must hit a recall floor against the exact operator.
"""

import numpy as np
import pytest

from compute_histogram_spark.operators import clustering as CL
from compute_histogram_spark.operators import similarity as SIM
from compute_histogram_spark.sources.tables import load


def _numpy_kmeans(vectors_by_id, n_clusters, iters):
    """Driver-side twin of CL.kmeans: identical init/rounding/tie-breaks."""
    ids = sorted(vectors_by_id)
    m = np.array([vectors_by_id[i] for i in ids], dtype=np.float64)
    c = np.round(m[:n_clusters].copy(), CL.DEC)
    for _ in range(iters):
        d = (m * m).sum(1)[:, None] - 2.0 * (m @ c.T) + (c * c).sum(1)[None, :]
        assign = np.argmin(np.round(d, CL.DEC), axis=1)
        for cid in range(n_clusters):
            members = m[assign == cid]
            if len(members):
                c[cid] = members.mean(axis=0)
        c = np.round(c, CL.DEC)
    return c


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def vecs(emb):
    rows = emb.select("vec_id", "embedding").collect()
    return {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}


def test_kmeans_matches_numpy_twin(emb, vecs):
    # Spark's groupBy-avg sums in shuffle order vs NumPy's index order, so
    # centroids agree to summation noise (<<1e-6), not bit-exactly.
    got = CL.kmeans(emb, n_clusters=10, iters=3)
    want = _numpy_kmeans(vecs, n_clusters=10, iters=3)
    assert got.shape == want.shape == (10, 64)
    np.testing.assert_allclose(got, want, atol=1e-5)


def test_assignment_is_nearest_centroid(emb, vecs):
    # Given FIXED centroids, assignment is deterministic (rounded distances,
    # lowest-cid ties) — the distributed kernel must match exactly.
    c = _numpy_kmeans(vecs, n_clusters=10, iters=2)
    assigned = {
        r["vec_id"]: r["cid"]
        for r in CL.assign_clusters(emb, c).select("vec_id", "cid").collect()
    }
    for vid, v in vecs.items():
        d = np.round(((c - v) ** 2).sum(axis=1), CL.DEC)
        assert assigned[vid] == int(np.argmin(d)), vid
    # every cluster id in range, index covers the whole corpus
    assert set(assigned) == set(vecs)
    assert all(0 <= cid < 10 for cid in assigned.values())


def test_kmeans_topk_recall_and_shape(emb):
    k = 5
    exact = SIM.cosine_topk(emb, k=k).collect()
    approx = CL.cosine_topk_kmeans(emb, k=k, n_clusters=10, iters=2, nprobe=2)
    rows = approx.collect()
    assert approx.columns == ["query_id", "rnk", "vec_id", "cosine"]

    true_nbrs = {}
    for r in exact:
        true_nbrs.setdefault(r["query_id"], set()).add(r["vec_id"])
    got_nbrs = {}
    for r in rows:
        assert 1 <= r["rnk"] <= k
        assert r["query_id"] != r["vec_id"]
        got_nbrs.setdefault(r["query_id"], set()).add(r["vec_id"])

    assert set(got_nbrs) == set(true_nbrs)  # every query answered
    hits = sum(len(true_nbrs[q] & got_nbrs[q]) for q in true_nbrs)
    recall = hits / sum(len(v) for v in true_nbrs.values())
    # learned coarse index with nprobe=2 of 10 clusters; the synthetic
    # embeddings are label-clustered so true neighbors mostly share a cell
    assert recall >= 0.6, recall


def test_kmeans_probes_rank_by_true_cosine(emb):
    # within the probed candidate set, ranking must equal exact cosine
    # ordering: rnk strictly increases as cosine (rounded) decreases
    rows = CL.cosine_topk_kmeans(emb, k=5, n_clusters=10, iters=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["cosine"], r["vec_id"]))
    for q, rs in by_q.items():
        rs.sort()
        cosines = [c for _, c, _ in rs]
        assert cosines == sorted(cosines, reverse=True), q


def test_embedding_moments_matches_numpy(spark, sf_dir):
    """The distributed one-pass covariance equals np.cov(bias=True) on the
    collected matrix (population covariance, rounded to DEC)."""
    import numpy as np

    from compute_histogram_spark.operators import clustering as CL
    from compute_histogram_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    rows = CL.embedding_moments(emb).collect()
    m = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.orderBy("vec_id").collect()]
    )
    ref = np.cov(m, rowvar=False, bias=True)
    n = m.shape[0]
    for r in rows:
        assert r["n"] == n
        assert abs(r["cov"] - round(ref[r["i"], r["j"]], 6)) <= 1e-6, (
            r["i"], r["j"], r["cov"], ref[r["i"], r["j"]],
        )
    d = m.shape[1]
    assert len(rows) == d * (d + 1) // 2


def test_pca_whiten_matches_numpy_and_is_map_only(spark, sf_dir):
    """pca_model + pca_whiten equal the pure-NumPy pipeline (same sign fix,
    same rounding), the whitened components have ~unit variance, and the
    transform plan contains no Exchange (map-only at any scale)."""
    import numpy as np

    from compute_histogram_spark.operators import clustering as CL
    from compute_histogram_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    mean, comp, vals = CL.pca_model(emb, k=4)
    assert comp.shape[1] == len(mean) and comp.shape[0] == 4
    assert list(vals) == sorted(vals, reverse=True)

    out = CL.pca_whiten(emb, mean, comp)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    got = {r["vec_id"]: np.asarray(r["proj"]) for r in out.collect()}
    m = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.orderBy("vec_id").collect()]
    )
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").collect()]
    ref = np.round((m - mean[None, :]) @ comp.T, 6)
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], ref[i], atol=1e-9), vid

    # whitening: per-component variance of the projection ~ 1 (up to the
    # DEC rounding of the model and eps regularization)
    var = ref.var(axis=0)
    assert np.all(np.abs(var - 1.0) < 0.05), var


def test_cosine_topk_pca_full_dim_equals_exact(spark, sf_dir):
    """At dim == d the orthonormal rotation preserves every cosine: the
    PCA tier must reproduce the exact operator's (query, rank, vec)
    triples verbatim."""
    from compute_histogram_spark.operators import clustering as CL
    from compute_histogram_spark.operators import similarity as S
    from compute_histogram_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()["embedding"])
    ex = [(r["query_id"], r["rnk"], r["vec_id"])
          for r in S.cosine_topk(emb, k=5).collect()]
    fu = [(r["query_id"], r["rnk"], r["vec_id"])
          for r in CL.cosine_topk_pca(emb, k=5, dim=d, overfetch=4).collect()]
    assert ex == fu and len(ex) > 0


def test_cosine_topk_pca_recall_floor(spark, sf_dir):
    """Half-dimension shortlist recall floor on the near-isotropic
    fixture (the tier's adversarial case; measured 0.92 at dim=32/64)."""
    from compute_histogram_spark.operators import clustering as CL
    from compute_histogram_spark.operators import similarity as S
    from compute_histogram_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()["embedding"])
    ex = {(r["query_id"], r["vec_id"])
          for r in S.cosine_topk(emb, k=5).collect()}
    ap = {(r["query_id"], r["vec_id"])
          for r in CL.cosine_topk_pca(emb, k=5, dim=d // 2).collect()}
    assert len(ex & ap) / len(ex) >= 0.85


def test_pca_index_disk_equals_memory_and_appends(spark, sf_dir, tmp_path):
    """write_pca_index -> cosine_topk_pca_index reproduces the in-memory
    tier verbatim (same shortlist, same rerank, no query-time training);
    append_to_pca_index projects a new batch with the STORED rotation so
    appended rows equal what a full rebuild would have produced."""
    import numpy as np

    from compute_histogram_spark.operators import clustering as CL
    from compute_histogram_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pca_idx")
    CL.write_pca_index(emb, path, dim=8)

    mem = [(r["query_id"], r["rnk"], r["vec_id"], r["cosine"])
           for r in CL.cosine_topk_pca(emb, k=5, dim=8).collect()]
    dsk = [(r["query_id"], r["rnk"], r["vec_id"], r["cosine"])
           for r in CL.cosine_topk_pca_index(spark, path, k=5).collect()]
    assert mem == dsk and len(mem) > 0

    # the stored model round-trips exactly (DEC-rounded at fit time)
    p = CL.pca_rotation(emb, dim=8)
    assert np.array_equal(CL.read_pca_model(spark, path), p)

    # append path: re-index a shifted copy of the corpus; the appended
    # candidate rows must equal the map-only projection under the
    # stored model (no retrain)
    shifted = emb.selectExpr("vec_id + 1000000 AS vec_id", "embedding")
    CL.append_to_pca_index(shifted, path)
    cand = spark.read.parquet(path + "/vectors")
    assert cand.count() == 2 * emb.count()
    a = {r["vec_id"]: r["rv"] for r in cand.where("vec_id >= 1000000").collect()}
    b = {r["vec_id"]: r["rv"]
         for r in CL._pca_candidates(shifted, p).collect()}
    assert a == b
