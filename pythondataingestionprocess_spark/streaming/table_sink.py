"""Exactly-once streaming sink into a
:class:`~pythondataingestionprocess_spark.pipeline.txn_group.TableGroup`
table (foreachBatch + the commit-manifest txn key).

``foreachBatch`` is AT-LEAST-once: after a crash the restarted query
replays the last uncommitted micro-batch. The JDBC sink
(streaming/jdbc_sink.py) closes that window with a separate ledger
table plus replay-DELETE machinery because a JDBC database offers no
way to couple "did batch N commit" with the data write. The table
group DOES: each micro-batch is one group transaction keyed by
``stream_txn``, whose key rides the commit manifest itself, so the
dedup probe and the data commit are ONE atomic claim — a crash between
data write and claim leaves an invisible orphan (vacuumed later), and
two concurrent replays of the same batch resolve to exactly one
commit. The key is ``dedup_ingest``'s one rule (its module
docstring): ``stream_txn`` keys by the streaming query, so a second
query into the table, or a restart from a lost checkpoint, commits
under its own key.

Scale notes: one commit per micro-batch accretes one data directory
per batch, and nothing here compacts them; ``TableGroup.vacuum``
checkpoints the log replay. Readers tail the table incrementally with :meth:`TableGroup.changes`
using ``_snapshot_id`` as the cursor — the store's own change feed
replaces a separate Kafka re-publish hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup, stream_txn

_APP_ID = "table_sink_batch_fn"


def table_sink_batch_fn(store: TableGroup, table: str):
    """The foreachBatch function: pass to
    ``writeStream.foreachBatch(...)``."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        with store.transaction(stream_txn(_APP_ID, batch_df, int(batch_id))) as t:
            t.append(table, batch_df)

    return fn


def run_stream_to_table(
    stream_df: DataFrame,
    store: TableGroup,
    table: str,
    checkpoint_dir: str,
):
    """Wire a streaming frame into a group table: exactly-once
    appends, one commit per micro-batch. Returns the StreamingQuery
    (caller owns awaitTermination/stop)."""
    return (
        stream_df.writeStream
        .foreachBatch(table_sink_batch_fn(store, table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
