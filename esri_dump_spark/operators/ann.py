"""Approximate-nearest-neighbor search over an embedding column.

Two paths:
  * ``cosine_topk``      — brute-force exact top-k per query, entirely
                           in built-in expressions (zip_with/aggregate
                           dot product + window row_number). The
                           correctness baseline; O(|Q| x |P|) compute
                           but no shuffle of the big side beyond the
                           final window per query.
  * ``ivf_topk``         — IVF-style scale path: k-means-lite
                           centroids (sampled, driver-fit, tiny),
                           every vector assigned to its nearest
                           centroid JVM-side via a broadcast centroid
                           cross-score, queries probe ``nprobe``
                           nearest centroids, candidates equi-join on
                           centroid id, exact re-rank inside buckets.
                           At 10^12 rows the bucket join replaces the
                           full scan: compute drops by ~ncells/nprobe.

Distances are cosine; embeddings need not be normalized.

Plus the storage path: ``quantize_embeddings`` compresses float
vectors to symmetric per-vector int8 (4x smaller at rest and on the
wire; integer dot products downstream) and ``quantized_cosine_topk``
runs exact cosine top-k over the quantized table. The quantized twin
is airtight cross-engine: quantization is ``floor(x*127/mx + 0.5)``
(floor is IEEE-exact in both engines — never ``round()``, which is
BigDecimal in Spark and IEEE in DuckDB), dot products and norms are
integer-valued (<= 127^2 * dim, far below 2^53, so every partial sum
is exact whatever the fold order), and the only irrational step is
``sqrt`` — correctly rounded by IEEE 754 in both engines, unlike
``ln``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import _PAIR_COS_SQL, _cos_hoist

__all__ = ["cosine_topk", "fit_centroids", "assign_centroid",
           "ivf_topk", "quantize_embeddings", "quantized_cosine_topk",
           "QUANT_LAMBDA_SQL"]

# THE scalar int8-quantization body (CLAUDE.md one-spelling rule),
# shared by the Spark transform(...) and the DuckDB list_transform(...)
# wrappers — the array HOFs are spelled differently per engine, the
# per-element math identically. floor(x + 0.5) is round-half-up with
# IEEE-exact floor; constants are CAST AS DOUBLE (bare decimal
# literals would trigger Spark's non-IEEE decimal arithmetic).
QUANT_LAMBDA_SQL = ("CAST(floor(x * CAST(127 AS DOUBLE) / _mx"
                    " + CAST(0.5 AS DOUBLE)) AS INT)")


def cosine_topk(queries: DataFrame, vectors: DataFrame, k: int,
                query_id: str = "query_id", vec_id: str = "vec_id",
                q_vec: str = "embedding", p_vec: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank)."""
    q = _cos_hoist(queries, q_vec, "a", query_id)
    p = _cos_hoist(vectors, p_vec, "b", vec_id)
    scored = (F.broadcast(q).crossJoin(p)
              .withColumn("cosine", F.expr(_PAIR_COS_SQL)))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(vec_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, vec_id,
                    F.round("cosine", 6).alias("cosine"), "rank"))


def fit_centroids(vectors: DataFrame, vec_col: str = "embedding",
                  n_centroids: int = 16, iters: int = 5,
                  sample: int = 4096, seed: int = 42) -> np.ndarray:
    """k-means-lite on a deterministic sample, fitted driver-side.
    The centroid matrix is tiny (n_centroids x dim) and broadcast to
    executors by closure.

    The sample is a seeded uniform draw over the WHOLE table — NOT
    ``limit(sample)``, which takes the head of the first partition(s)
    and fits centroids on whatever region of the sphere the table
    happens to start with (embedding dumps are typically ordered by
    source). Mechanics chosen for scale: a count (metadata-only on
    parquet/Iceberg) sizes a Bernoulli ``sample()`` whose expectation
    is ~1.25x the target, the sampled rows (bounded, ~1.25x sample)
    come to the driver, and a seeded driver-side choice trims to
    exactly ``sample``. No global sort and no single task ever sees
    more than its own partition's sampled rows — unlike
    orderBy(rand).limit, which funnels partitions x sample rows
    through one final task."""
    n = vectors.count()
    sel = vectors.select(vec_col)
    if n > sample:
        frac = min(1.0, 1.25 * sample / n)
        sel = sel.sample(withReplacement=False, fraction=frac, seed=seed)
    pdf = sel.toPandas()
    if len(pdf) > sample:
        rng0 = np.random.default_rng(seed)
        pdf = pdf.iloc[rng0.choice(len(pdf), size=sample, replace=False)]
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True).clip(min=1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(C.shape[0]):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                C[j] = v / max(np.linalg.norm(v), 1e-12)
    return C


def assign_centroid(df: DataFrame, centroids: np.ndarray,
                    vec_col: str = "embedding",
                    out: str = "centroid_id") -> DataFrame:
    """Nearest-centroid id per row (Arrow-batched matmul)."""
    C = centroids

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True).clip(min=1e-12)
        return pd.Series((X @ C.T).argmax(axis=1).astype(np.int32))

    return df.withColumn(out, nearest(F.col(vec_col)))


def ivf_topk(queries: DataFrame, vectors: DataFrame, k: int,
             query_id: str = "query_id", vec_id: str = "vec_id",
             q_vec: str = "embedding", p_vec: str = "embedding",
             n_centroids: int = 16, nprobe: int = 4,
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF-bucketed ANN: probe ``nprobe`` centroid buckets per query,
    exact re-rank within. Recall < 1 by construction; raise nprobe to
    trade compute for recall (nprobe = n_centroids reproduces exact)."""
    if centroids is None:
        centroids = fit_centroids(vectors, p_vec, n_centroids)
    C = centroids
    npb = min(nprobe, C.shape[0])

    vecs = assign_centroid(
        vectors.select(F.col(vec_id), F.col(p_vec).alias("_pv")),
        C, "_pv")

    @pandas_udf("array<int>")
    def probes(qv: pd.Series) -> pd.Series:
        X = np.stack(qv.to_numpy()).astype(np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True).clip(min=1e-12)
        order = np.argsort(-(X @ C.T), axis=1)[:, :npb].astype(np.int32)
        return pd.Series(list(order))

    q = (queries.select(F.col(query_id), F.col(q_vec).alias("_qv"))
         .withColumn("centroid_id", F.explode(probes(F.col("_qv")))))
    # hoist after the probe UDF (it reads the raw float arrays) —
    # the re-rank then folds one dot per candidate
    q = _cos_hoist(q, "_qv", "a", query_id, "centroid_id")
    vecs = _cos_hoist(vecs, "_pv", "b", vec_id, "centroid_id")

    cand = q.join(vecs, "centroid_id", "inner")
    scored = cand.withColumn("cosine", F.expr(_PAIR_COS_SQL))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(vec_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, vec_id,
                    F.round("cosine", 6).alias("cosine"), "rank"))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_q: str = "qvec",
                        out_scale: str = "scale") -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = floor(v*127/mx
    + 0.5)`` with ``mx = max(|v|)``, dequant factor ``scale = mx/127``
    (so ``v ~ q * scale``). q is always in [-127, 127]. An all-zero
    vector quantizes to zeros with scale 0.0 — documented, not NULL. Map-only (zero exchanges); at rest the int8 column is
    ~4x smaller than the float32 array and downstream dot products
    become exact integer folds. NULL vectors pass through as NULL
    qvec/scale."""
    vd = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    mx = f"array_max(transform({vd}, x -> abs(x)))"
    q = (f"CASE WHEN _mx = CAST(0 AS DOUBLE) "
         f"THEN transform({vd}, x -> 0) "
         f"ELSE transform({vd}, x -> {QUANT_LAMBDA_SQL}) END")
    return (df.withColumn("_mx", F.expr(mx))
            .withColumn(out_q, F.expr(q))
            .withColumn(out_scale,
                        F.expr("_mx / CAST(127 AS DOUBLE)"))
            .drop("_mx"))


_QNORM = ("aggregate({q}, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)")
_QDOT = ("aggregate(zip_with(_qq, _pq, (x, y) -> "
         "CAST(x AS BIGINT) * y), 0L, (acc, v) -> acc + v)")


def quantized_cosine_topk(quantized: DataFrame, k: int,
                          query_vec_id: int, vec_id: str = "vec_id",
                          q_col: str = "qvec") -> DataFrame:
    """Exact cosine top-k over the int8-quantized table for one query
    id: integer dot products and norms (every partial sum exact —
    values are integer-valued and <= 127^2 * dim << 2^53), one double
    division and one IEEE-correctly-rounded sqrt at the end, so the
    raw ordering is bit-identical across engines (no ln-style ulp
    defense needed). Returns (vec_id, cosq_r, rank); zero-norm rows
    never score. The query row broadcasts; scoring is map-only;
    top-k is TakeOrderedAndProject."""
    if k <= 0:
        raise ValueError("k must be positive")
    base = (quantized
            .filter(F.col(q_col).isNotNull())
            .select(F.col(vec_id), F.col(q_col).alias("_pq"))
            .withColumn("_pn", F.expr(_QNORM.format(q="_pq"))))
    qrow = (base.filter(F.col(vec_id) == int(query_vec_id))
            .select(F.col("_pq").alias("_qq"),
                    F.col("_pn").alias("_qn")))
    scored = (base.crossJoin(F.broadcast(qrow))
              .filter((F.col("_pn") > 0) & (F.col("_qn") > 0))
              .withColumn("_cos", F.expr(
                  f"CAST({_QDOT} AS DOUBLE) / "
                  f"sqrt(CAST(_qn AS DOUBLE) * CAST(_pn AS DOUBLE))")))
    top = (scored.orderBy(F.desc("_cos"), F.asc(vec_id)).limit(int(k))
           # cosine can be negative: round + 0.0 per the signed-zero
           # invariant (ordering uses the raw _cos — sqrt/div are
           # deterministic, only the OUTPUT needs normalizing)
           .select(vec_id,
                   F.expr("round(_cos, 6) + 0.0").alias("cosq_r")))
    w = Window.orderBy(F.desc("cosq_r"), F.asc(vec_id))
    return top.withColumn("rank", F.row_number().over(w))
