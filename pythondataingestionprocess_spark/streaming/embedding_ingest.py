"""Streaming embedding near-dup screening against a persistent
hyperplane-bucket store — the vector twin of ``dedup_ingest``'s
minhash pipeline (engine-added; completes the daily-ingest dedup
architecture across both modalities a training-data pipeline dedups
on: text shingles and embedding vectors).

Each micro-batch of incoming vectors is:

1. screened WITHIN the batch (``cosine_near_dup_pairs`` on the batch
   alone);
2. screened AGAINST EVERYTHING PREVIOUSLY INGESTED by the batch
   incremental operator, ``cosine_near_dup_pairs_incremental``, with
   the store's committed tables as its corpus side — corpus×corpus
   work is never repeated, so the marginal cost of a batch stays
   proportional to the batch;
3. appended to the store (its bucket membership + its raw vectors),
   making it "corpus" for every later batch.

The store is one :class:`~pythondataingestionprocess_spark.pipeline.txn_group.TableGroup`
rooted at ``store_dir`` — one commit log over three tables:

- ``vec_buckets`` (id, table, bucket) — hyperplane-LSH membership
  rows the cross-batch candidate join probes;
- ``vectors``     (id, embedding) — the verify-side representation
  (exact cosine without re-reading the source);
- ``meta``        (dim) — the store's embedding dimension, committed
  with the first batch.

Scale semantics are dedup_ingest's: bucket the ``vec_buckets`` table
BY (table, bucket) on a metastore for a co-located candidate join;
the incremental operator prunes the store's vectors to candidate ids
before the verify join, so payload movement is bounded by the batch,
not the corpus. Exactly-once is dedup_ingest's one rule (its module
docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.operators import dedup as dd
from pythondataingestionprocess_spark.operators.similarity import (
    hyperplane_bucket_rows,
)
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup, stream_txn

_DIM = 64
_BITS = 12
_TABLES = 8
_SEED = 7
_APP_ID = "embedding_dedup_batch_fn"


def _banded(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    # the ONE shared bucket construction (operators/similarity.py) —
    # the store and every probe must hash identically to the batch
    # operators or LSH recall silently diverges
    return hyperplane_bucket_rows(
        df, id_col, vec_col,
        dim=dim, bits_per_table=_BITS, n_tables=_TABLES, seed=_SEED,
    )


def _check_dim(batch_df: DataFrame, vec_col: str, dim: int) -> None:
    """Fail FAST with a clear message on a dimension mismatch instead
    of an opaque numpy shape error inside the pandas UDF. One tiny
    aggregate over an already-checkpointed batch; min AND max so a
    single corrupt row inside an otherwise-clean batch is caught too
    (first-row sniffing would miss it). NULL vectors are counted
    separately: min/max skip NULLs, so a null embedding row would
    pass the size check and still blow up with the opaque shape/NPE
    inside the pandas UDF."""
    row = batch_df.select(
        F.min(F.size(F.col(vec_col))).alias("lo"),
        F.max(F.size(F.col(vec_col))).alias("hi"),
        F.count(F.when(F.col(vec_col).isNull(), 1)).alias("nulls"),
    ).first()
    if row is None:
        return  # empty batch
    if row["nulls"]:
        raise ValueError(
            f"{row['nulls']} row(s) have a NULL {vec_col}; drop or "
            f"impute them before ingest — the store cannot hash a "
            f"missing embedding"
        )
    if row["lo"] is None:
        return  # empty batch
    if row["lo"] != dim or row["hi"] != dim:
        raise ValueError(
            f"embedding dimensions [{row['lo']}, {row['hi']}] != store "
            f"dimension {dim}; pass dim= matching your model to the "
            f"ingest factory"
        )


def _require_store_dim(store: TableGroup, sid: int, dim: int,
                       store_dir: str) -> None:
    """The store's committed dimension must equal ``dim``. Without
    this check, redeploying with a different model/dim would hash
    meaningless buckets and null-pad every verify cosine — silently
    reporting ZERO cross duplicates forever; with it, the mismatch is
    one clear error."""
    stored = store.read("meta", sid).first()["dim"]
    if stored != dim:
        raise ValueError(
            f"store at {store_dir} was built with dim={stored}; "
            f"got dim={dim} — buckets would be meaningless"
        )


def screen_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int = _DIM,
    bucket_cap: int = 1000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for one incoming vector batch: within-batch
    pairs plus cross pairs against the store (a store with no commits
    → within-batch only). Returns (id_a, id_b, cos, kind) with ``kind``
    'within' or 'cross'; for cross pairs id_a is the NEW vector. Does
    NOT mutate the store — append via :func:`append_to_store` after
    consuming the result.

    The cross pairs ARE ``cosine_near_dup_pairs_incremental`` with the
    store's ``vec_buckets`` / ``vectors`` tables, read at one
    snapshot, as its corpus side: the same per-bucket ``bucket_cap``
    rule, candidate prune and verify as the batch face. ``bucket_cap``
    also caps the within-batch screen. ``banded`` optionally supplies
    the batch's bucket rows (one hyperplane matmul per batch, shared
    by both screen halves and the store append)."""
    store = TableGroup(spark, store_dir)
    sid = store.current_snapshot()
    if sid is not None:
        _require_store_dim(store, sid, dim, store_dir)
    if banded is None:
        banded = _banded(batch_df, id_col, vec_col, dim)
    kw = dict(
        threshold=threshold, dim=dim, bits_per_table=_BITS,
        n_tables=_TABLES, seed=_SEED, bucket_cap=bucket_cap,
    )
    within = dd.cosine_near_dup_pairs(
        batch_df, id_col, vec_col, banded=banded, **kw
    ).withColumn("kind", F.lit("within"))
    if sid is None:
        return within  # first batch: nothing committed yet
    cross = dd.cosine_near_dup_pairs_incremental(
        store.read("vectors", sid), batch_df, id_col, vec_col,
        corpus_banded=store.read("vec_buckets", sid), new_banded=banded,
        **kw,
    )
    return within.unionByName(
        cross.select(
            F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b"),
            "cos",
        )
        # an id the store holds twice (two ad-hoc appends) verifies
        # against both of its vector rows
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("kind", F.lit("cross"))
    )


def append_to_store(
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    dim: int = _DIM,
    banded: DataFrame | None = None,
) -> None:
    """Append this batch's bucket membership and vectors to the store
    in one commit — the first commit also records the store's
    dimension. Same exactly-once contract as
    dedup_ingest.append_to_store. ``banded`` reuses a precomputed
    bucket frame (see screen_batch)."""
    spark = batch_df.sparkSession
    store = TableGroup(spark, store_dir)
    sid = store.current_snapshot()
    if sid is not None:
        _require_store_dim(store, sid, dim, store_dir)
    buckets = banded if banded is not None else _banded(
        batch_df, id_col, vec_col, dim
    )
    with store.transaction(stream_txn(_APP_ID, batch_df, batch_id)) as t:
        if sid is None:
            t.append("meta", spark.createDataFrame([(int(dim),)], "dim int"))
        t.append("vec_buckets", buckets)
        t.append("vectors", batch_df.select(id_col, vec_col))


def embedding_dedup_batch_fn(
    store_dir: str,
    pairs_out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int = _DIM,
    bucket_cap: int = 1000,
):
    """foreachBatch factory: screen → write pairs (per-batch subdir) →
    commit bucket membership + vectors (module docstring:
    exactly-once). ``dim`` must match the embedding model; every batch is checked
    up-front (min AND max vector size) with a clear error, and the
    store persists its dimension so a redeploy with a different model
    fails loudly instead of silently finding zero duplicates.
    Several queries may feed one store (each commits under its own query
    id), but each needs its own ``pairs_out_dir``: the ``batch_id=N``
    subdirs of two queries would overwrite each other."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if TableGroup(spark, store_dir).committed(
                stream_txn(_APP_ID, batch_df, batch_id)):
            return
        batch_df = batch_df.localCheckpoint(eager=True)  # read the source once
        _check_dim(batch_df, vec_col, dim)
        # ONE hyperplane matmul per batch (the vector path's dominant
        # cost), threaded through within-screen, cross probe, and the
        # store append instead of three times per micro-batch; bucket
        # rows are batch-proportional (n_tables rows per vector), so
        # eager materialization is bounded
        banded = _banded(batch_df, id_col, vec_col, dim).localCheckpoint(
            eager=True
        )
        pairs = screen_batch(
            spark, batch_df, store_dir, id_col, vec_col, threshold, dim=dim,
            bucket_cap=bucket_cap, banded=banded,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_out_dir, f"batch_id={batch_id}")
        )
        append_to_store(
            batch_df, store_dir, id_col, vec_col, batch_id=batch_id, dim=dim,
            banded=banded,
        )

    return fn
