"""Streaming DSIR curation — score every arriving micro-batch against
a FIXED target distribution and the EVOLVING raw-corpus distribution,
routing target-like documents onward (engine-added; the published
batch method is operators/dsir.py, Xie et al. arXiv:2302.03169; this
is its ingest-time face, same store discipline as dedup_ingest.py).

State is one :class:`~pythondataingestionprocess_spark.pipeline.txn_group.TableGroup`
rooted at ``store_dir``, over two tables:

- ``target`` (bucket, c) — the target corpus bucket counts, written
  ONCE at bootstrap (``init_target_state``) from the curated slice;
  m rows, never touched again.
- ``raw`` (bucket, c) — one mergeable count state per ingested batch
  (operators/dsir.bucket_counts — an integer monoid, so the fold over
  batches is exact, no float-order caveat); born empty at bootstrap.

Per micro-batch (``dsir_batch_fn``):

1. featurize the batch (map-side);
2. read the raw states of every committed batch at the same snapshot
   as the target and fold them with this batch's counts → the raw
   distribution over everything seen so far INCLUDING this batch
   (scores converge to the full-corpus DSIR weights as the stream
   drains);
3. score the batch (the m log-ratios collapse to a literal array —
   zero-shuffle scoring, m-row driver state, the method's contract);
4. write ``(id, n_feats, logw, selected)`` to ``scores/batch_id=N``
   with overwrite, and
5. commit this batch's count state to ``raw``.

Exactly-once is ``dedup_ingest``'s one rule (its module docstring), so
a replay never counts a batch twice.

At 100 TB the raw state is m rows PER BATCH (kilobytes) — compaction
is a trivial re-sum; the documents themselves never ride the state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.operators import dsir
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup, stream_txn

_APP_ID = "dsir_batch_fn"


def init_target_state(
    target_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
) -> None:
    """Fit the fixed target bucket counts once, at bootstrap, and
    start the raw state empty in the same commit."""
    counts = dsir.bucket_counts(dsir.featurize(target_docs, id_col, text_col, m=m))
    with TableGroup(target_docs.sparkSession, store_dir).transaction() as t:
        t.overwrite("target", counts)
        t.overwrite("raw", counts.limit(0))


def score_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    threshold: float = 0.0,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(scores, batch_counts)``: per-doc
    ``(id, n_feats, logw, selected)`` against target vs all-seen-so-far
    (prior batches + this one), and this batch's mergeable count state
    (for the caller to persist). Docs with NULL/whitespace-only text
    have no features and no score row — screen them upstream if they
    must be accounted for."""
    store = TableGroup(spark, store_dir)
    sid = store.current_snapshot()
    bucketed = dsir.featurize(batch_df, id_col, text_col, m=m).localCheckpoint(
        eager=True
    )
    batch_counts = dsir.bucket_counts(bucketed)
    raw_counts = dsir.merge_bucket_counts(store.read("raw", sid), batch_counts)
    ratio = dsir.log_ratio_vector(
        dsir.log_dist_from_counts(store.read("target", sid), m=m),
        dsir.log_dist_from_counts(raw_counts, m=m),
        m=m,
    )
    scores = dsir.dsir_logweights(bucketed, ratio, id_col=id_col).withColumn(
        "selected", F.col("logw") >= F.lit(float(threshold))
    )
    return scores, batch_counts


def dsir_batch_fn(
    store_dir: str,
    scores_out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    threshold: float = 0.0,
):
    """foreachBatch factory: score → write scores (per-batch subdir) →
    commit this batch's count state (module docstring: exactly-once). Wire
    it with file_ingest.file_stream + run_ingestion, after
    ``init_target_state`` has been run once against the curated target
    corpus. Several queries may feed one store (each commits under its
    own query id), but each needs its own ``scores_out_dir``: the
    ``batch_id=N`` subdirs of two queries would overwrite each other."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = TableGroup(spark, store_dir)
        txn = stream_txn(_APP_ID, batch_df, batch_id)
        if store.committed(txn):
            return
        batch_df = batch_df.localCheckpoint(eager=True)  # read the source once
        scores, batch_counts = score_batch(
            spark, batch_df, store_dir, id_col, text_col,
            m=m, threshold=threshold,
        )
        scores.write.mode("overwrite").parquet(
            os.path.join(scores_out_dir, f"batch_id={batch_id}")
        )
        with store.transaction(txn) as t:
            t.append("raw", batch_counts)

    return fn
