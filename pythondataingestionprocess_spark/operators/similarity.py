"""Similarity search over embedding columns (BASELINE.json north
star; no counterpart in the reference).

Two tiers, same output contract (query_id, neighbor_id, cos, rank):

- **Brute-force top-k**: broadcast the (small) query set against the
  corpus, cosine in codegen, per-query top-k via window. Exact; the
  baseline the ANN path is measured against. At 100 TB the corpus
  side stays partition-parallel and nothing shuffles but the
  (queries × k) result.
- **LSH-bucketed ANN**: random-hyperplane signs → Hamming-space
  buckets; candidates share a bucket (multi-probe = several
  independent tables); top-k within candidates. Approximate recall
  tunable by tables × bits; cost bounded by bucket sizes.

Random-hyperplane (sign-random-projection) LSH per Charikar (STOC
2002); multi-table banding per Indyk & Motwani (1998). Hyperplanes
are generated from a fixed seed, so results are deterministic
run-to-run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.vectors import cosine


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query (self-matches excluded).

    Ranking breaks cosine ties by neighbor id — total order, so the
    result is deterministic and oracle-comparable.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine("q_vec", "c_vec"))
        .select("query_id", "neighbor_id", "cos")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (standard normal components)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _buckets_udf(tables: list[list[list[float]]]):
    """All tables' bucket ids in one Arrow-batched matmul.

    This is the one place dense linear algebra beats built-in
    expressions: 32 hyperplane dot products per row as interpreted
    array folds cost ~1000 scalar ops/row in the expression
    interpreter; one numpy (n×dim)·(dim×32) GEMM per Arrow batch is
    ~100× cheaper and stays vectorized end-to-end — the sanctioned
    Pandas-UDF escape hatch, not a row-at-a-time Python UDF.

    Returned marked NON-DETERMINISTIC although the
    GEMM is pure: every caller explodes the bucket array right after
    this projection, and InferFiltersFromGenerate inserts a
    ``size(bs) > 0 AND isnotnull(bs)`` predicate that
    PushPredicateThroughProject then rewrites in terms of the UDF
    expression — duplicating the ArrowEvalPython node, so the corpus
    GEMM (the vector path's dominant cost) ran TWICE per side
    (committed evidence: plans/r17/embedding_ann_recall_before.txt
    nodes 22+25 / 31+34). The non-deterministic mark forbids the
    duplication; the inferred filter is pure overhead here anyway
    (bucket arrays are never empty or null).
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.vstack([np.asarray(t, dtype=np.float64) for t in tables])
    sizes = [len(t) for t in tables]

    @pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        signs = mat @ planes.T >= 0  # (n, total_bits)
        out = np.zeros((len(mat), len(sizes)), dtype=np.int32)
        offset = 0
        for t, sz in enumerate(sizes):
            weights = (1 << np.arange(sz)).astype(np.int32)
            out[:, t] = signs[:, offset : offset + sz] @ weights
            offset += sz
        return pd.Series(list(out))

    return _buckets.asNondeterministic()


def hyperplane_bucket_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    bits_per_table: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(id, table, bucket) LSH membership rows — THE one construction
    of the hyperplane tables (``seed + 101 * t`` per table) and the
    posexplode shape, shared by the batch near-dup operators and the
    streaming vector store: separate copies of this scheme would let a
    seeding/encoding change silently desynchronize the streaming
    store/probe from the batch operators — quietly different LSH
    recall, no error."""
    tables = [
        hyperplanes(dim, bits_per_table, seed + 101 * t)
        for t in range(n_tables)
    ]
    return df.select(
        F.col(id_col), _buckets_udf(tables)(F.col(vec_col)).alias("bs")
    ).select(F.col(id_col), F.posexplode("bs").alias("table", "bucket"))


# --------------------------------------------------- replayable LSH
#
# Sign-random-projection LSH whose bucket assignment is bit-exactly
# reproducible in ANY engine (the DuckDB oracle included), so a
# lossy candidate bound (per-bucket cap) can sit INSIDE a
# hash-checked face instead of being trusted recall-neutral:
#
# - components are quantized q_i = floor(e_i * 2^20) as int64 —
#   float32 -> float64 promotion is exact, *2^20 is an exponent
#   shift, floor is unambiguous; every engine gets the same integer;
# - hyperplanes are Rademacher (+/-1 per component), packed as one
#   63-bit mask per plane derived from md5 (stdlib-stable forever;
#   bit 63 is pinned 0 so the mask never reads negative under
#   SQL's arithmetic >>) — sign-random-projection per Charikar
#   (STOC 2002) works for any symmetric component law;
# - the plane dot is Sum +/- q_i: every intermediate is an integer
#   << 2^53, so even a float64 GEMM (BLAS, any blocking/FMA) is
#   EXACT — fast vectorized path and cross-engine determinism at
#   once. Bucket bit = (dot >= 0); bucket id = Sum bit_j << j.
#
# The Gaussian path above stays the contract for the persistent /
# streaming stores (their on-disk scheme is pinned); this path is
# for one-shot batch faces that want an oracle-replayable pipeline.

_RADEMACHER_QUANT = 1048576  # 2^20


def rademacher_masks(
    n_tables: int, bits_per_table: int, seed: int
) -> list[list[int]]:
    """Per-(table, plane) 63-bit sign masks, md5-derived — stable
    across numpy/python versions (no RNG object in the derivation).
    Bit i of the mask gives component i's sign (+1 if set); bit 63 is
    always 0 so the value stays non-negative in engines whose `>>`
    on signed 64-bit is arithmetic."""
    import hashlib

    return [
        [
            int.from_bytes(
                hashlib.md5(
                    f"rademacher:{seed}:{t}:{j}".encode()
                ).digest()[:8],
                "big",
            )
            & ((1 << 63) - 1)
            for j in range(bits_per_table)
        ]
        for t in range(n_tables)
    ]


def _rademacher_buckets_udf(masks: list[list[int]]):
    """All tables' bucket ids in one exact float64 GEMM per Arrow
    batch (see module comment: integer-valued doubles < 2^53 make
    BLAS bit-deterministic here). Marked non-deterministic for the
    same reason as :func:`_buckets_udf` — the posexplode right
    above it otherwise duplicates the GEMM per reference (the cosine
    face paid 8 corpus GEMMs where 2 suffice:
    plans/r17/dedup_embedding_cosine_before.txt)."""
    from pyspark.sql.functions import pandas_udf

    sign_rows = []
    for trow in masks:
        for m in trow:
            bits = (m >> np.arange(64, dtype=np.int64)) & 1
            sign_rows.append(bits * 2 - 1)
    signs_mat = np.asarray(sign_rows, dtype=np.float64)  # (total_bits, 64)
    sizes = [len(t) for t in masks]

    @pandas_udf("array<long>")
    def _buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        q = np.floor(mat * float(_RADEMACHER_QUANT))  # exact integers
        dots = q @ signs_mat.T  # exact: integer-valued throughout
        bit = dots >= 0
        out = np.zeros((len(mat), len(sizes)), dtype=np.int64)
        offset = 0
        for t, sz in enumerate(sizes):
            weights = (np.int64(1) << np.arange(sz, dtype=np.int64))
            out[:, t] = bit[:, offset : offset + sz] @ weights
            offset += sz
        return pd.Series(list(out))

    return _buckets.asNondeterministic()


def rademacher_bucket_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    bits_per_table: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(id, table, bucket) membership rows under the replayable
    integer-Rademacher scheme — same posexplode shape as
    :func:`hyperplane_bucket_rows`, different (SQL-replayable)
    bucket function."""
    masks = rademacher_masks(n_tables, bits_per_table, seed)
    return df.select(
        F.col(id_col),
        _rademacher_buckets_udf(masks)(F.col(vec_col)).alias("bs"),
    ).select(F.col(id_col), F.posexplode("bs").alias("table", "bucket"))


def rademacher_masks_sql_values(masks: list[list[int]]) -> str:
    """The masks as a SQL VALUES body `(t, j, m), ...` for inlining
    into an oracle that replays the bucket assignment."""
    return ", ".join(
        f"({t}, {j}, CAST({m} AS BIGINT))"
        for t, trow in enumerate(masks)
        for j, m in enumerate(trow)
    )


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    bits_per_table: int = 4,
    n_tables: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane-sign bucket in
    ≥1 of ``n_tables`` independent tables, then exact cosine + window
    top-k over candidates only.

    Defaults (8 tables × 4 bits) are tuned for the *worst case* —
    uniformly random vectors, where true neighbors are barely more
    aligned than noise. Real embedding corpora are clustered; there,
    raise bits_per_table (deeper buckets, cheaper candidates) for the
    same recall."""
    tables = [
        hyperplanes(dim, bits_per_table, seed + 101 * t) for t in range(n_tables)
    ]

    buckets_udf = _buckets_udf(tables)

    def with_buckets(df: DataFrame, side: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(f"{side}_id"),
            buckets_udf(F.col(vec_col)).alias("bs"),
        )
        # bucket rows carry only (id, table, bucket) — the 64-float
        # vectors never enter the bucket join / pair dedup shuffle
        return out.select(
            f"{side}_id", F.posexplode("bs").alias("table", "bucket")
        )

    qb = with_buckets(queries, "query")
    cb = with_buckets(corpus, "neighbor")
    cand_ids = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # re-attach vectors only for surviving candidate pairs
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_vec")
    )
    scored = (
        cand_ids.join(F.broadcast(q_vecs), "query_id")
        .join(c_vecs, "neighbor_id")
        .withColumn("cos", cosine("query_vec", "neighbor_vec"))
        .select("query_id", "neighbor_id", "cos")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
