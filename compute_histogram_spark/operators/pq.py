"""Product-quantization (PQ) ANN — the memory-compression scale path.

Jegou et al. 2011 ("Product Quantization for Nearest Neighbor Search"):
split each d-dim vector into ``m`` subspaces of d/m dims, k-means each
subspace to ``ksub`` centroids, and store every vector as ``m`` small
codes. A 64-dim float32 vector (256 B) becomes 8 bytes at m=8/ksub=16 —
the representation that lets a 100 TB embedding corpus's candidate scan
fit in RAM. Queries score candidates with an asymmetric-distance LUT
(query-vs-centroid dot products, computed once per query), then the top
``rerank`` candidates are re-scored exactly — the standard ADC + rerank
pipeline (FAISS IVFPQ's inner loop).

Spark mapping, consistent with the sibling ANN operators
(operators/similarity.py, operators/clustering.py):

- codebook training reuses the distributed Lloyd's k-means per subspace —
  m small trainings over sliced arrays, centroids collected driver-side
  (O(m x ksub x d/m) floats — tiny, like the IVF centroids);
- encoding is one Arrow-batched GEMM kernel per batch producing the m
  codes (map-only, no shuffle);
- ADC scoring broadcasts the per-query LUTs inside the kernel closure
  (queries are a SMALL driver-side collect, the same contract as
  cosine_topk_gemm) and emits (query, candidate, approx) rows whose
  top-``rerank`` survive a WindowGroupLimit rank;
- only the surviving candidates' full vectors are touched again for the
  exact rerank — a vec_id equi-join, O(queries x rerank) rows.

Iterative k-means inside -> no SQL oracle (registry policy); correctness
is pinned in tests/test_pq.py: a NumPy twin of the full PQ pipeline must
match exactly, and end-to-end recall@k vs the exact operator has a floor.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from compute_histogram_spark.functions import vectors as V
from compute_histogram_spark.operators import clustering as CL
from compute_histogram_spark.operators.similarity import _ranked, _with_norms


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """-> codebooks ``[m, ksub, d/m]`` — ALL subspaces trained together:
    one assignment kernel + ONE aggregation per Lloyd's iteration instead
    of m independent trainings (m x fewer Spark jobs; measured ~5x faster
    at m=8). The math is bit-identical to per-subspace
    ``clustering.kmeans`` — same first-ksub init, distance rounding,
    lowest-id tie-break, mean update, centroid rounding — pinned by the
    NumPy-twin equality test in tests/test_pq.py.

    Per iteration: the Arrow kernel assigns every row's m subspace codes
    (one GEMM per subspace per batch), a ``posexplode`` emits (s, cid,
    pos, x) components, and a single partial->final avg aggregation
    produces the m*ksub*dsub centroid components — a driver collect of
    exactly codebook size, like the coarse k-means.
    """
    import pandas as pd

    e = emb.select(
        F.col(id_col).alias("vec_id"), V.to_double_array(vec_col).alias("v")
    )
    head = e.first()
    if head is None:
        raise ValueError("no vectors to train PQ on")
    dim = len(head["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    init = e.orderBy("vec_id").limit(ksub).collect()
    if len(init) < ksub:
        raise ValueError(f"need >= {ksub} vectors to seed PQ, got {len(init)}")
    seed = np.round(
        np.array([r["v"] for r in init], dtype=np.float64), CL.DEC
    )  # [ksub, dim]
    books = np.stack(
        [seed[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )  # [m, ksub, dsub]

    e = e.cache()
    try:
        for _ in range(iters):
            cb = np.ascontiguousarray(books)
            c_sq = (cb * cb).sum(axis=2)

            def kernel(batches, cb=cb, c_sq=c_sq):
                for pdf in batches:
                    vm = np.stack(pdf["v"].to_numpy())
                    b = vm.shape[0]
                    out_s, out_cid, out_pos, out_x = [], [], [], []
                    for s in range(m):
                        x = vm[:, s * dsub : (s + 1) * dsub]
                        d = (
                            (x * x).sum(axis=1)[:, None]
                            - 2.0 * (x @ cb[s].T)
                            + c_sq[s][None, :]
                        )
                        cid = np.argmin(np.round(d, CL.DEC), axis=1)
                        out_s.append(np.full(b * dsub, s, dtype=np.int32))
                        out_cid.append(np.repeat(cid.astype(np.int32), dsub))
                        out_pos.append(np.tile(np.arange(dsub, dtype=np.int32), b))
                        out_x.append(x.ravel())
                    yield pd.DataFrame(
                        {
                            "s": np.concatenate(out_s),
                            "cid": np.concatenate(out_cid),
                            "pos": np.concatenate(out_pos),
                            "x": np.concatenate(out_x),
                        }
                    )

            rows = (
                e.mapInPandas(kernel, "s int, cid int, pos int, x double")
                .groupBy("s", "cid", "pos")
                .agg(F.avg("x").alias("mean"))
                .collect()
            )
            new_books = books.copy()  # empty cluster -> keep old centroid
            for r in rows:
                new_books[r["s"], r["cid"], r["pos"]] = r["mean"]
            books = np.round(new_books, CL.DEC)
    finally:
        e.unpersist()
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (vec_id, v, nrm, code ARRAY<INT>) — map-only Arrow kernel, one
    GEMM per (batch, subspace); ties break to the lowest centroid id like
    the k-means assign kernel."""
    import pandas as pd

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _ksub, dsub = cb.shape
    c_sq = (cb * cb).sum(axis=2)  # [m, ksub]

    def kernel(batches):
        for pdf in batches:
            vm = np.stack(pdf["v"].to_numpy())  # [b, dim]
            b = vm.shape[0]
            codes = np.empty((b, m), dtype=np.int32)
            for s in range(m):
                x = vm[:, s * dsub : (s + 1) * dsub]
                d = (
                    (x * x).sum(axis=1)[:, None]
                    - 2.0 * (x @ cb[s].T)
                    + c_sq[s][None, :]
                )
                codes[:, s] = np.argmin(np.round(d, CL.DEC), axis=1)
            out = pdf[["vec_id", "v", "nrm"]].copy()
            out["code"] = list(codes)
            yield out

    e = _with_norms(emb.withColumnRenamed(id_col, "vec_id")).select(
        "vec_id", "v", "nrm"
    )
    return e.mapInPandas(
        kernel, "vec_id bigint, v array<double>, nrm double, code array<int>"
    )


def cosine_topk_pq(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    rerank: int = 50,
    query_filter: str = "vec_id < 10",
) -> DataFrame:
    """End-to-end PQ ANN with exact rerank — same output schema/semantics
    as the exact :func:`~compute_histogram_spark.operators.similarity.
    cosine_topk` (rank ties by (cosine desc, vec_id)), approximate recall.
    """
    import pandas as pd

    codebooks = pq_train(emb, m=m, ksub=ksub, iters=iters)
    codes = pq_encode(emb, codebooks)

    e = _with_norms(emb)
    q_rows = e.where(query_filter).select("vec_id", "v", "nrm").collect()
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["v"] for r in q_rows], dtype=np.float64)
    qn = np.array([r["nrm"] for r in q_rows], dtype=np.float64)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    mm, _ksub, dsub = cb.shape
    # per-query ADC lookup tables: lut[q, s, j] = <q_sub_s, centroid_sj>
    lut = np.einsum("qsd,sjd->qsj", qm.reshape(len(q_ids), mm, dsub), cb)

    def adc_kernel(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cn = pdf["nrm"].to_numpy(dtype=np.float64)
            codes_m = np.stack(pdf["code"].to_numpy())  # [b, m] int
            b = len(ids)
            # gather: approx_dot[q, b] = sum_s lut[q, s, codes[b, s]]
            approx = np.zeros((len(q_ids), b), dtype=np.float64)
            for s in range(mm):
                approx += lut[:, s, codes_m[:, s]]
            sims = approx / np.outer(qn, cn)  # approx cosine
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, b),
                    "vec_id": np.tile(ids, len(q_ids)),
                    "approx": np.round(sims.ravel(), 6),
                }
            )
            yield out[out["query_id"] != out["vec_id"]]

    cand = codes.select("vec_id", "nrm", "code").mapInPandas(
        adc_kernel, "query_id bigint, vec_id bigint, approx double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("vec_id")
    )
    short = (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= rerank)
        .select("query_id", "vec_id")
    )
    # exact rerank over the shortlist only
    qdf = emb.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v], float(n))
         for i, v, n in zip(q_ids, qm, qn)],
        "query_id bigint, qv array<double>, qn double",
    )
    pairs = (
        short.join(codes.select("vec_id", "v", "nrm"), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                V.cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")),
                6,
            ).alias("cosine"),
        )
    )
    return _ranked(pairs, k)


def sq_encode(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """int8 scalar quantization -> (vec_id, v, nrm, scale, q ARRAY<INT>):
    ``q_i = round(x_i / scale)`` with per-vector ``scale = max|x| / 127``.
    4x compression (vs PQ's 32x) at much higher fidelity — the middle rung
    of the compression ladder, entirely JVM-side expressions (no kernel):
    dot(a, b) ~= scale_a * scale_b * dot(q_a, q_b) on integers."""
    e = _with_norms(emb.withColumnRenamed(id_col, "vec_id")).select(
        "vec_id", "v", "nrm"
    )
    # an all-zero vector would give scale=0 and x/0 = NaN, which the ANSI
    # int cast rejects; floor the scale so zero vectors encode as all-zero q
    scale = F.greatest(
        F.aggregate(
            F.col("v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        )
        / F.lit(127.0),
        F.lit(1e-30),
    )
    return e.withColumn("scale", scale).withColumn(
        "q",
        F.transform(
            F.col("v"), lambda x: F.round(x / F.col("scale")).cast("int")
        ),
    )


def cosine_topk_sq(
    emb: DataFrame,
    k: int = 5,
    rerank: int = 50,
    query_filter: str = "vec_id < 10",
) -> DataFrame:
    """ANN over int8-quantized vectors: approximate cosine from the integer
    dot (scaled back), shortlist, exact rerank — same output contract as
    the exact operator. The candidate scan touches only (q, scale, nrm):
    a quarter of the float payload."""
    codes = sq_encode(emb)
    q = codes.where(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("scale").alias("qscale"),
        F.col("nrm").alias("qn"),
    )
    approx_dot = (
        F.aggregate(
            F.zip_with("qq", "q", lambda a, b: (a * b).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        * F.col("qscale")
        * F.col("scale")
    )
    cand = (
        F.broadcast(q)
        .crossJoin(codes.select("vec_id", "q", "scale", "nrm"))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(approx_dot / (F.col("qn") * F.col("nrm")), 6).alias(
                "approx"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("vec_id"))
    short = (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= rerank)
        .select("query_id", "vec_id")
    )
    e = _with_norms(emb)
    qv = e.where(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    pairs = (
        short.join(e.select("vec_id", "v", "nrm"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                V.cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")),
                6,
            ).alias("cosine"),
        )
    )
    # the final orderBy's range sampler re-runs the rerank cosines, but
    # over the post-WindowGroupLimit shortlist only (<= |queries| x rerank
    # rows read back from the shortlist's materialized exchange) — bounded
    # by construction, listed in plan_audit SORT_RESAMPLE_BOUNDED
    return _ranked(pairs, k)
