"""Exactly-once streaming JDBC sink (streaming/jdbc_sink.py) against
live embedded Derby: ledger-gated replay, the crash-between-write-and-
ledger window (delete-before-append), upsert idempotence, and a real
file stream end-to-end with a simulated checkpoint-recovery replay."""

from __future__ import annotations

import json
import os
import time

import pytest

from pythondataingestionprocess_spark.pipeline.jdbc_store import (
    JdbcTableStore,
    derby_url,
)
from pythondataingestionprocess_spark.streaming.jdbc_sink import (
    LEDGER_TABLE,
    StreamingJdbcSink,
)

ROWS_SCHEMA = "id long, v string"


@pytest.fixture
def store(spark, tmp_path):
    return JdbcTableStore(spark, derby_url(str(tmp_path / "derbydb")))


def _rows(store, table):
    return sorted(
        (r["id"], r["v"]) for r in store.read(table).select("id", "v").collect()
    )


def test_append_replay_is_idempotent(spark, store):
    sink = StreamingJdbcSink(store, "sink_events", sink_id="s1")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], ROWS_SCHEMA)
    b1 = spark.createDataFrame([(3, "c")], ROWS_SCHEMA)
    sink(b0, 0)
    sink(b1, 1)
    assert _rows(store, "sink_events") == [(1, "a"), (2, "b"), (3, "c")]
    # checkpoint-recovery replay of BOTH batches: ledger short-circuits
    sink(b0, 0)
    sink(b1, 1)
    assert _rows(store, "sink_events") == [(1, "a"), (2, "b"), (3, "c")]
    ledger = store.read(LEDGER_TABLE).collect()
    assert {(r["sink_id"], r["batch_id"], r["n_rows"]) for r in ledger} == {
        ("s1", 0, 2), ("s1", 1, 1)
    }


def test_append_crash_between_write_and_ledger(spark, store):
    """The at-least-once window: the data write landed (possibly
    partially) but the ledger row did not. The replay must DELETE that
    batch's rows before re-appending — final state exactly once."""
    from pyspark.sql import functions as F

    sink = StreamingJdbcSink(store, "sink_events", sink_id="s1")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], ROWS_SCHEMA)
    # simulate the crash: half of batch 0 written (with the sink's own
    # row stamps), NO ledger row
    half = (
        spark.createDataFrame([(1, "a")], ROWS_SCHEMA)
        .withColumn("batch_seq", F.lit(0))
        .withColumn("batch_sink", F.lit("s1"))
    )
    store.append("sink_events", half)
    assert store.read(LEDGER_TABLE).count() == 0
    # recovery replays the full batch through the sink
    sink(b0, 0)
    assert _rows(store, "sink_events") == [(1, "a"), (2, "b")]
    assert store.read(LEDGER_TABLE).count() == 1


def test_upsert_mode_merges_and_replays(spark, store):
    sink = StreamingJdbcSink(
        store, "sink_state", sink_id="s2", mode="upsert", keys=["id"]
    )
    sink(spark.createDataFrame([(1, "a"), (2, "b")], ROWS_SCHEMA), 0)
    sink(spark.createDataFrame([(2, "B"), (3, "c")], ROWS_SCHEMA), 1)
    assert _rows(store, "sink_state") == [(1, "a"), (2, "B"), (3, "c")]
    # crash window for upsert: the MERGE itself is idempotent — rerun
    # batch 1 with the ledger row missing
    conn_sink = StreamingJdbcSink(
        store, "sink_state", sink_id="s2_replay", mode="upsert", keys=["id"]
    )
    conn_sink(spark.createDataFrame([(2, "B"), (3, "c")], ROWS_SCHEMA), 1)
    assert _rows(store, "sink_state") == [(1, "a"), (2, "B"), (3, "c")]


def test_upsert_batch_is_deduped_once(spark, store, monkeypatch):
    """An upsert micro-batch is deduped once, before it is persisted:
    the merge that replaces the table runs no second dedup aggregate
    over the persisted batch, and the ledger still records the
    post-dedup row count."""
    sink = StreamingJdbcSink(
        store, "sink_state", sink_id="s3", mode="upsert", keys=["id"]
    )
    sink(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)  # bootstrap
    merged = []
    overwrite = store.overwrite

    def spy(name, df):
        merged.append(df)
        overwrite(name, df)

    monkeypatch.setattr(store, "overwrite", spy)
    sink(spark.createDataFrame([(2, "b"), (2, "b"), (3, "c")], ROWS_SCHEMA), 1)

    def aggregates(plan):
        kids = plan.children()
        return (plan.getClass().getSimpleName() == "Aggregate") + sum(
            aggregates(kids.apply(i)) for i in range(kids.size())
        )

    [df] = merged
    assert aggregates(df._jdf.queryExecution().optimizedPlan()) == 0
    assert _rows(store, "sink_state") == [(1, "a"), (2, "b"), (3, "c")]
    ledger = store.read(LEDGER_TABLE).filter("sink_id = 's3'").collect()
    assert {(r["batch_id"], r["n_rows"]) for r in ledger} == {(0, 1), (1, 2)}


def test_two_sinks_share_the_ledger_without_collisions(spark, store):
    a = StreamingJdbcSink(store, "sink_a", sink_id="qa")
    b = StreamingJdbcSink(store, "sink_b", sink_id="qb")
    a(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)
    b(spark.createDataFrame([(9, "z")], ROWS_SCHEMA), 0)  # same batch_id
    assert _rows(store, "sink_a") == [(1, "a")]
    assert _rows(store, "sink_b") == [(9, "z")]


def test_two_append_sinks_share_one_table(spark, store):
    """ADVICE r9: rows are stamped with their sink id and the replay
    DELETE is scoped to (batch_sink, batch_seq) — so two append-mode
    sinks feeding the SAME table with colliding batch_ids can never
    delete each other's rows, even through the crash-window replay."""
    from pyspark.sql import functions as F

    a = StreamingJdbcSink(store, "shared", sink_id="qa")
    b = StreamingJdbcSink(store, "shared", sink_id="qb")
    a(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)
    # b's batch 0 crashes mid-write: half landed, no ledger row
    half = (
        spark.createDataFrame([(8, "y")], ROWS_SCHEMA)
        .withColumn("batch_seq", F.lit(0))
        .withColumn("batch_sink", F.lit("qb"))
    )
    store.append("shared", half)
    # recovery replays b's FULL batch 0 — must replace only qb's slice
    b(spark.createDataFrame([(8, "y"), (9, "z")], ROWS_SCHEMA), 0)
    assert _rows(store, "shared") == [(1, "a"), (8, "y"), (9, "z")]
    # and a replay of a's committed batch stays a no-op
    a(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)
    assert _rows(store, "shared") == [(1, "a"), (8, "y"), (9, "z")]


def test_sink_id_with_quote_is_safe(spark, store):
    """VERDICT r9: ledger statements go through PreparedStatement
    parameters, so a quote in the (operator-supplied) sink_id cannot
    break — or inject into — the ledger SQL."""
    sid = "it's-q1"
    sink = StreamingJdbcSink(store, "sink_q", sink_id=sid)
    sink(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)
    # committed-probe, replay DELETE, and ledger insert all bind sid
    sink(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)
    assert _rows(store, "sink_q") == [(1, "a")]
    ledger = store.read(LEDGER_TABLE).collect()
    assert {(r["sink_id"], r["batch_id"], r["n_rows"]) for r in ledger} == {
        (sid, 0, 1)
    }


def test_batch_index_created_at_bootstrap(spark, store):
    """VERDICT r9: the replay DELETE's batch_seq index is created when
    the sink bootstraps its data table (batch_sink stays a residual
    predicate — Derby cannot index the CLOB-mapped string column)."""
    sink = StreamingJdbcSink(store, "sink_ix", sink_id="si")
    sink(spark.createDataFrame([(1, "a")], ROWS_SCHEMA), 0)
    # Derby catalog: SYSCONGLOMERATES rows with ISINDEX = true
    n = (
        spark.read.jdbc(
            store.url,
            "(SELECT c.CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES c "
            "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID "
            # Spark's JDBC writer leaves the TABLE name unquoted, so
            # Derby folds it to uppercase in the catalog
            "WHERE t.TABLENAME = 'SINK_IX' AND c.ISINDEX) ix",
            properties=store.properties,
        ).count()
    )
    assert n >= 1


def test_rejects_bad_modes(spark, store):
    with pytest.raises(ValueError, match="append|upsert"):
        StreamingJdbcSink(store, "t", sink_id="x", mode="merge")
    with pytest.raises(ValueError, match="requires keys"):
        StreamingJdbcSink(store, "t", sink_id="x", mode="upsert")


def test_file_stream_end_to_end_into_derby(spark, store, tmp_path):
    """Real readStream → foreachBatch(sink) → Derby, then a second
    query run over the same inbox with a FRESH checkpoint (the
    worst-case replay: every batch re-delivered) — row set unchanged."""
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for name, rows in [
        ("f1.json", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]),
        ("f2.json", [{"id": 3, "v": "c"}]),
    ]:
        with open(os.path.join(inbox, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    sink = StreamingJdbcSink(store, "sink_stream", sink_id="q1")

    def run(checkpoint: str) -> None:
        stream = (
            spark.readStream.schema(ROWS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(inbox)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    first = _rows(store, "sink_stream")
    assert first == [(1, "a"), (2, "b"), (3, "c")]
    # fresh checkpoint = full re-delivery of both files as batches 0,1
    run(str(tmp_path / "ckpt2"))
    assert _rows(store, "sink_stream") == first


def test_sink_id_over_128_bytes_rejected(spark, store):
    """Code-review r10: the ledger column is VARCHAR(128); a longer
    sink_id would crash the ledger insert and make the CAST-truncated
    replay DELETE match nothing — refuse at construction."""
    with pytest.raises(ValueError, match="128"):
        StreamingJdbcSink(store, "t", sink_id="x" * 129)
