"""Product quantization (PQ) — the compressed-vector ANN tier
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE PAMI 2011), completing the family next to hyperplane
LSH (operators/similarity.py) and coarse-quantizer IVF
(operators/ivf.py).

The 100 TB story is BYTES: a 64-d float32 embedding is 256 bytes; its
PQ code at m=8 subspaces × 256-entry codebooks is 8 bytes — a 32×
reduction of what a scan must read, while search stays a cheap
table-lookup sum (ADC). At a billion vectors the raw corpus is
~256 GB/replica; the PQ corpus rides in ~8 GB — the difference between
an in-memory scan tier and an IO-bound one. IVF composes on top
(partition the CODES table by ivf_list and probe) exactly as PAMI
2011's IVFADC.

Design for Spark's execution model:

- **fit** (``pq_fit``): per-subspace Lloyd's k-means, ALL m subspaces
  advanced in ONE corpus pass per iteration — the assign step is a
  single Arrow-batched UDF emitting the m argmin codes per vector
  (broadcast codebooks), the update step one groupBy over
  (subspace, code, dim) whose output is codebook-sized
  (m × ksub × dsub cells), never corpus-sized. The driver
  materializes only the codebooks — the legitimate driver payload of
  any k-means.
- **encode** (``pq_encode``): map-side; one UDF call per batch, codes
  as ``array<smallint>`` (smallint so ksub=256 fits; parquet RLE makes
  the at-rest cost ~1 byte/code).
- **search** (``pq_search``): asymmetric distance computation — each
  RAW query builds an (m × ksub) lookup table of partial squared-L2
  distances to every codebook entry once; corpus codes are scored by
  m table lookups + a sum, vectorized as one numpy gather per batch.
  Queries ride the kernel closure (declared-small query side); the
  corpus is never shuffled — per-partition top-k partials
  feed one final top-k.

Vectors are L2-normalized at fit/encode/search, so squared-L2 order
equals cosine order (||a−b||² = 2 − 2·cos for unit vectors) and
recall is measured against the same cosine ground truth as the other
ANN tiers. Deterministic end-to-end: md5 hash-spread init (the
kmeans_fit discipline), float64 math, ties broken by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pythondataingestionprocess_spark.functions.vectors import norm


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    n = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    n[n == 0.0] = 1.0
    return mat / n


def _assign_codes_udf(codebooks: np.ndarray):
    """All m subspace codes per vector in one pass. ``codebooks`` is
    (m, ksub, dsub); input vectors are L2-normalized here so encode
    and fit see the same geometry."""
    cb = codebooks.astype(np.float64)
    m, ksub, dsub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)  # (m, ksub)

    @pandas_udf("array<smallint>")
    def _codes(emb: pd.Series) -> pd.Series:
        mat = _norm_rows(np.vstack(emb.to_numpy()).astype(np.float64))
        out = np.empty((mat.shape[0], m), dtype=np.int16)
        for s in range(m):
            sub = mat[:, s * dsub:(s + 1) * dsub]
            # argmin ||x-c||² = argmin (|c|² − 2 x·c); |x|² constant/row
            d = cb_sq[s][None, :] - 2.0 * (sub @ cb[s].T)
            out[:, s] = d.argmin(axis=1).astype(np.int16)
        return pd.Series(list(out))

    return _codes


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    max_iter: int = 5,
) -> np.ndarray:
    """Fit (m, ksub, dsub) PQ codebooks. The vector dim must be
    divisible by ``m``. Each iteration is ONE corpus pass (assign all
    subspaces) + one codebook-sized aggregation (update all
    subspaces); empty cells keep their previous centroid."""
    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    init_rows = (
        df.select(F.md5(F.col(id_col).cast("string")).alias("_h"), vec_col)
        .orderBy("_h")
        .limit(ksub)
        .select(vec_col)
        .toPandas()[vec_col]
        .to_numpy()
    )
    seeds = _norm_rows(np.vstack(init_rows).astype(np.float64))
    if seeds.shape[0] < ksub:
        raise ValueError(f"need >= {ksub} vectors to seed ksub={ksub}")
    # subspace s starts from the seeds' own s-th slice
    codebooks = np.stack(
        [seeds[:, s * dsub:(s + 1) * dsub] for s in range(m)]
    )  # (m, ksub, dsub)

    for _ in range(max_iter):
        coded = df.select(
            F.col(vec_col),
            _assign_codes_udf(codebooks)(F.col(vec_col)).alias("_codes"),
        )
        # one aggregation at (subspace, code, dim-within-subspace) grain;
        # vectors are re-normalized in SQL so the update averages the
        # same geometry the assign UDF saw. norm() (functions/vectors)
        # casts each element to double BEFORE squaring — a fold that
        # squared array<float> elements in float32 would diverge from
        # the UDF's float64 geometry — and
        # the zero-norm filter keeps a single all-zero vector (an empty
        # document's embedding) from killing the whole fit under ANSI
        # mode's DIVIDE_BY_ZERO (a directionless vector contributes
        # nothing to a cosine codebook anyway).
        vnorm = norm(vec_col)
        cells = (
            coded.filter(vnorm > 0)
            .select(
                F.posexplode(
                    F.transform(vec_col, lambda x: x.cast("double") / vnorm)
                ).alias("_gdim", "_x"),
                "_codes",
            )
            .select(
                (F.col("_gdim") / dsub).cast("int").alias("_s"),
                (F.col("_gdim") % dsub).alias("_d"),
                F.element_at(
                    "_codes", (F.col("_gdim") / dsub).cast("int") + 1
                ).alias("_c"),
                "_x",
            )
            .groupBy("_s", "_c", "_d")
            .agg(F.sum("_x").alias("_sum"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new = codebooks.copy()
        acc = np.zeros_like(codebooks)
        cnt = np.zeros((m, ksub))
        for r in cells:
            acc[r["_s"], r["_c"], r["_d"]] = r["_sum"]
            cnt[r["_s"], r["_c"]] = r["_n"]
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty][:, None]
        if np.allclose(new, codebooks):
            break
        codebooks = new
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id_col, pq_code array<smallint>)`` — the at-rest compressed
    corpus. Map-side only; keep any layout columns (e.g. ivf_list) by
    encoding before the select if IVFADC composition is wanted."""
    return df.select(
        F.col(id_col),
        _assign_codes_udf(codebooks)(F.col(vec_col)).alias("pq_code"),
    )


def _adc_scores_udf(codebooks: np.ndarray, q_mat: np.ndarray):
    """Approximate squared-L2 of every (corpus code, query) pair via
    the per-query ADC lookup tables; q_mat is (n_q, dim) RAW queries
    riding the closure (declared-small query side)."""
    cb = codebooks.astype(np.float64)
    m, ksub, dsub = cb.shape
    q = _norm_rows(q_mat.astype(np.float64))
    # lut[qi, s, c] = ||q_sub − cb[s,c]||²   (n_q, m, ksub)
    lut = np.stack(
        [
            ((q[:, s * dsub:(s + 1) * dsub][:, None, :] - cb[s][None, :, :]) ** 2).sum(
                axis=2
            )
            for s in range(m)
        ],
        axis=1,
    )

    @pandas_udf("array<double>")
    def _scores(codes: pd.Series) -> pd.Series:
        cmat = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, m)
        n = cmat.shape[0]
        out = np.zeros((n, lut.shape[0]))
        for s in range(m):
            # gather the s-th partial distance for every (row, query)
            out += lut[:, s, :][:, cmat[:, s]].T
        return pd.Series(list(out))

    # non-deterministic mark: pq_search posexplodes the score array —
    # without it InferFiltersFromGenerate + PushPredicateThroughProject
    # duplicate the ADC pass over the whole corpus (guide §4.4; see
    # similarity._buckets_udf)
    return _scores.asNondeterministic()


def pq_search(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-``k`` corpus ids per query by ADC distance over the encoded
    corpus: ``(q_id, vec_id, adc_dist, rank)``. One corpus-codes scan;
    the only shuffle is the per-query top-k (k·n_q rows after the
    rank-limit pushdown). Ties break by corpus id. ``exclude_self``
    drops corpus rows whose id equals the query id (the
    knn_bruteforce contract, for recall comparisons)."""
    q_pd = queries.select(q_id_col, q_vec_col).toPandas()
    q_ids = [v.item() if hasattr(v, "item") else v for v in q_pd[q_id_col]]
    q_mat = np.vstack(q_pd[q_vec_col].to_numpy())

    qid_map = F.create_map(
        *[x for i, q in enumerate(q_ids) for x in (F.lit(i), F.lit(q))]
    )
    scored = (
        codes.select(
            F.col(id_col),
            _adc_scores_udf(codebooks, q_mat)(F.col("pq_code")).alias("_d"),
        )
        .select(id_col, F.posexplode("_d").alias("_qi", "adc_dist"))
        .select(qid_map[F.col("_qi")].alias(q_id_col), id_col, "adc_dist")
    )
    if exclude_self:
        scored = scored.filter(F.col(q_id_col) != F.col(id_col))
    w = W.partitionBy(q_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
