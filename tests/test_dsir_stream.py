"""Streaming DSIR curation (streaming/dsir_ingest.py): the evolving
raw state converges to the full-corpus counts exactly, batch scores
equal the batch recomputed against everything-seen-so-far, foreachBatch
retries are idempotent (a batch never counts itself twice), and the
end-to-end file-stream pipeline routes target-like docs."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.operators import dsir
from pythondataingestionprocess_spark.pipeline.snapshot_store import _SnapshotLog
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup
from pythondataingestionprocess_spark.streaming import dsir_ingest as di

M = 64


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


A_DOC = "alpha beta gamma delta"
B_DOC = "omega psi chi phi"


@pytest.fixture()
def store(spark, tmp_path):
    store_dir = str(tmp_path / "dsir_store")
    target = _docs(spark, [(100 + i, A_DOC) for i in range(4)])
    di.init_target_state(target, store_dir, m=M)
    return store_dir


def test_state_converges_and_scores_match_full_recompute(spark, store, tmp_path):
    b1 = _docs(spark, [(1, A_DOC), (2, B_DOC)])
    b2 = _docs(spark, [(3, A_DOC), (4, B_DOC), (5, B_DOC)])
    out = str(tmp_path / "scores")
    fn = di.dsir_batch_fn(store, out, m=M)
    fn(b1, 0)
    fn(b2, 1)

    # raw state fold == one-pass counts over the union, exactly
    raw = TableGroup(spark, store).read("raw")
    folded = {
        (r["bucket"], r["c"])
        for r in raw.groupBy("bucket").agg(F.sum("c").alias("c")).collect()
    }
    full = {
        (r["bucket"], r["c"])
        for r in dsir.bucket_counts(
            dsir.featurize(b1.unionAll(b2), m=M)
        ).collect()
    }
    assert folded == full

    # batch-2 scores == recompute against target vs everything seen
    tdist = dsir.log_dist_from_counts(
        TableGroup(spark, store).read("target"), m=M
    )
    rdist = dsir.bucket_log_dist(dsir.featurize(b1.unionAll(b2), m=M), m=M)
    ratio = dsir.log_ratio_vector(tdist, rdist, m=M)
    expect = {
        r["doc_id"]: (r["n_feats"], r["logw"])
        for r in dsir.dsir_logweights(dsir.featurize(b2, m=M), ratio).collect()
    }
    got = {
        r["doc_id"]: (r["n_feats"], r["logw"])
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    assert got == expect


def test_retry_never_counts_a_batch_twice(spark, store, tmp_path):
    b1 = _docs(spark, [(1, A_DOC), (2, B_DOC)])
    out = str(tmp_path / "scores")
    fn = di.dsir_batch_fn(store, out, m=M)
    fn(b1, 0)
    first = {
        r["doc_id"]: r["logw"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=0")).collect()
    }
    fn(b1, 0)  # foreachBatch retry after a crash-window
    raw = TableGroup(spark, store).read("raw")
    total = raw.agg(F.sum("c").alias("t")).collect()[0]["t"]
    n_feats = 7 * 2  # 2 docs x (4 unigrams + 3 bigrams)
    assert total == n_feats  # not doubled
    again = {
        r["doc_id"]: r["logw"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=0")).collect()
    }
    assert again == first


def test_first_batch_crash_leaves_recoverable_state(
        spark, store, tmp_path, monkeypatch):
    """A crash during the first batch's state commit, after the data
    files land but before the claim, leaves no visible raw state: the
    retry scores as the first batch and counts its rows once."""
    def crash(self, record, next_id):
        raise RuntimeError("crash before the claim")

    b1 = _docs(spark, [(1, A_DOC), (2, B_DOC)])
    out = str(tmp_path / "scores")
    fn = di.dsir_batch_fn(store, out, m=M)
    with monkeypatch.context() as m:
        m.setattr(_SnapshotLog, "claim", crash)
        with pytest.raises(RuntimeError, match="before the claim"):
            fn(b1, 0)
    assert TableGroup(spark, store).read("raw").count() == 0
    fn(b1, 0)  # the retry after the crash — must succeed
    got = {
        r["doc_id"]: r["selected"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=0")).collect()
    }
    assert got == {1: True, 2: False}
    raw_df = TableGroup(spark, store).read("raw")
    assert raw_df.agg(F.sum("c")).collect()[0][0] == 14  # counted once


def test_selection_routes_target_like_docs(spark, store, tmp_path):
    batch = _docs(spark, [(1, A_DOC), (2, B_DOC), (3, A_DOC)])
    scores, _ = di.score_batch(spark, batch, store, m=M, threshold=0.0)
    got = {r["doc_id"]: r["selected"] for r in scores.collect()}
    assert got == {1: True, 2: False, 3: True}


def test_end_to_end_file_stream(spark, store, tmp_path):
    from pythondataingestionprocess_spark.streaming import file_ingest

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    with open(os.path.join(inbox, "a.json"), "w") as f:
        for i, text in [(1, A_DOC), (2, B_DOC)]:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")

    out = str(tmp_path / "scores")
    stream = file_ingest.file_stream(spark, inbox, "doc_id long, text string")
    file_ingest.run_ingestion(
        stream,
        di.dsir_batch_fn(store, out, m=M),
        str(tmp_path / "ckpt"),
    ).awaitTermination(90)

    got = {
        r["doc_id"]: r["selected"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1: True, 2: False}
    raw = TableGroup(spark, store).read("raw")
    assert raw.agg(F.sum("c")).collect()[0][0] == 14
