"""IVF (inverted-file) approximate nearest neighbor — the clustered
alternative to hyperplane LSH (operators/similarity.py), per the
classic IVF design (Sivic & Zisserman "Video Google" 2003; Jégou et
al., PAMI 2011 — coarse quantizer + inverted lists, no product
quantization here since payload vectors are small).

Shape for scale:

- **fit**: Lloyd's k-means where only the ASSIGN step touches the
  corpus (Arrow-batched argmin against broadcast centroids — one pass
  per iteration, no shuffle) and the UPDATE step is one groupBy over
  (cluster, dim) — centroids (k×dim doubles) are the only
  driver-materialized state, which is the legitimate driver payload
  of any k-means at any corpus size.
- **assign**: each vector gets its nearest-centroid list id — a plain
  column computed per search; nothing is persisted.
- **search**: each query probes its ``n_probe`` nearest lists → join
  on list id → exact cosine + per-query top-k. Cost ≈
  (n_probe / k) × brute force, recall tunable via n_probe.

Deterministic end-to-end: centroid init takes the k vectors first by
id hash, numpy float64 math, ties broken by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pythondataingestionprocess_spark.functions.vectors import cosine


def _assign_udf(centroids: np.ndarray):
    """nearest-centroid id per vector (squared-L2 argmin, GEMM form)."""
    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("int")
    def _assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        # argmin ||x-c||^2 = argmin (|c|^2 - 2 x·c); |x|^2 constant per row
        d = c_sq[None, :] - 2.0 * (mat @ c.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return _assign


def _probe_udf(centroids: np.ndarray, n_probe: int):
    """the n_probe nearest list ids per query vector."""
    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("array<int>")
    def _probe(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        d = c_sq[None, :] - 2.0 * (mat @ c.T)
        idx = np.argsort(d, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(idx))

    return _probe


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    max_iter: int = 5,
) -> np.ndarray:
    """Lloyd's k-means, returning (k, dim) centroids. Empty clusters
    keep their previous centroid.

    Init is a deterministic HASH-SPREAD sample: rank ids by md5 and
    take the first k. First-k-by-id is equally deterministic but
    degenerate when low ids are correlated (e.g. all from one true
    cluster → k near-identical seeds → empty lists); the hash order is
    uncorrelated with any data ordering, same trick as
    deterministic_sample_per_source."""
    init = (
        df.select(F.md5(F.col(id_col).cast("string")).alias("_h"), vec_col)
        .orderBy("_h")
        .limit(k)
        .select(vec_col)
        .toPandas()[vec_col]
        .to_numpy()
    )
    centroids = np.vstack(init).astype(np.float64)
    for _ in range(max_iter):
        assigned = df.select(
            F.col(vec_col), _assign_udf(centroids)(F.col(vec_col)).alias("_c")
        )
        sums = (
            assigned.select("_c", F.posexplode(vec_col).alias("_dim", "_x"))
            .groupBy("_c", "_dim")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new = centroids.copy()
        acc = np.zeros_like(centroids)
        cnt = np.zeros(centroids.shape[0])
        for r in sums:
            acc[r["_c"], r["_dim"]] = r["_s"]
            cnt[r["_c"]] = r["_n"]
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty, None]
        if np.allclose(new, centroids):
            break
        centroids = new
    return centroids


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the inverted-list id of each vector's nearest centroid."""
    return df.withColumn("ivf_list", _assign_udf(centroids)(F.col(vec_col)))


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k: (query_id, neighbor_id, cos, rank), searching
    only the ``n_probe`` probed lists per query: probe-list equi-join
    (probed side broadcast — it is queries x n_probe rows), self-pair
    filter, exact cosine, per-query top-k with the neighbor_id tiebreak
    making the ranking a total order."""
    indexed = ivf_assign(corpus, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_vec"),
        "ivf_list",
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(_probe_udf(centroids, n_probe)(F.col(vec_col))).alias("ivf_list"),
    )
    scored = (
        indexed.join(F.broadcast(probed), "ivf_list")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine("query_vec", "neighbor_vec"))
        .select("query_id", "neighbor_id", "cos")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
