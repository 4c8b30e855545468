"""Exactly-once streaming sink into a SnapshotTableStore
(foreachBatch + the commit-manifest txn id).

``foreachBatch`` is AT-LEAST-once: after a crash the restarted query
replays the last uncommitted micro-batch. The JDBC sink
(streaming/jdbc_sink.py) closes that window with a separate ledger
table plus replay-DELETE machinery because a JDBC database offers no
way to couple "did batch N commit" with the data write. The snapshot
store DOES: :meth:`SnapshotTableStore.append_once` records the
batch's key inside the commit manifest itself, so the dedup probe and
the data commit are ONE atomic claim — a crash between data write and
claim leaves an invisible orphan (vacuumed later), and two concurrent
replays of the same batch resolve to exactly one commit. The key and
the early return are ``dedup_ingest``'s one rule (its module
docstring): ``stream_txn`` keys by the streaming query, so a second
query into the table, or a restart from a lost checkpoint, commits
under its own key.

Scale notes: one commit per micro-batch accretes small files — run
:meth:`SnapshotTableStore.optimize` + ``vacuum`` periodically (the
compaction itself is a committed action, so readers and the change
feed stay consistent). Readers tail the table incrementally with
:meth:`SnapshotTableStore.changes` using ``_snapshot_id`` as the
cursor — the store's own change feed replaces a separate Kafka
re-publish hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pythondataingestionprocess_spark.pipeline.snapshot_store import (
    SnapshotTableStore,
)
from pythondataingestionprocess_spark.pipeline.txn_group import stream_txn

_APP_ID = "table_sink_batch_fn"


def table_sink_batch_fn(store: SnapshotTableStore, table: str):
    """The foreachBatch function: pass to
    ``writeStream.foreachBatch(...)``."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        store.append_once(table, batch_df,
                          *stream_txn(_APP_ID, batch_df, int(batch_id)))

    return fn


def run_stream_to_table(
    stream_df: DataFrame,
    store: SnapshotTableStore,
    table: str,
    checkpoint_dir: str,
):
    """Wire a streaming frame into the snapshot table: exactly-once
    appends, one commit per micro-batch. Returns the StreamingQuery
    (caller owns awaitTermination/stop)."""
    return (
        stream_df.writeStream
        .foreachBatch(table_sink_batch_fn(store, table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
