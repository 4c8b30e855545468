"""The transactional table store: a TABLE GROUP, every table under
one root sharing one commit log.

The reference's ingest writes purchase + operation + price as one
logical unit (import_files_to_postgre.py:145-227 inside one DB
session). Two independent claim points can never be atomic together,
so the group keeps ONE ordered sequence of commit manifests per root
— the standard lakehouse answer (Delta's catalog-level commit /
Iceberg's multi-table transaction proposals) — each listing the
actions of EVERY table it touches, claimed by one os.link-atomic
rename. A crash anywhere before the claim leaves orphan data files in
any number of tables and ZERO visible change in all of them.

The log is
:class:`~pythondataingestionprocess_spark.pipeline.snapshot_store._SnapshotLog`
over ``<root>/_txlog``: replay, read pins, the commit loop, vacuum
(with its time-travel horizon and checkpoint) and history live there.
This module adds the store's surface: reads, the append-grain change
feed, and staging several tables into one :class:`GroupTransaction`.
A group with one table numbers its snapshots 1, 2, 3, … as that
table's own log would.

Scope rule: tables in a group are read and written ONLY through the
group (the shared log IS their total order). Group membership is the
schema's natural transaction boundary: the reference's star schema is
one group.

Concurrency: the engine's write-serializable rules at GROUP grain — a
transaction containing any overwrite validates that no commit landed
after the snapshot it read, whichever table that commit touched;
append-only transactions commute and rebase on claim races.

Exactly-once: a transaction keyed by ``(app_id, batch_id)`` (see
:func:`stream_txn`) carries the key in its manifest, so the dedup
check and the data commit are one atomic claim and the replay of a
committed key commits nothing — the Delta ``txnAppId`` pattern every
store-backed ``foreachBatch`` sink here commits through.

Usage::

    grp = TableGroup(spark, root)
    with grp.transaction() as txn:
        txn.overwrite("purchase", p_df)
        txn.append("operation", op_df)
        txn.overwrite("price", price_df)
    # exactly one commit; all three visible together or not at all
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pythondataingestionprocess_spark.pipeline.snapshot_store import (
    DEFAULT_ORPHAN_RETENTION_S,
    _SnapshotLog,
)
from pythondataingestionprocess_spark.pipeline.store import TableMerge
from pythondataingestionprocess_spark.storage import glob_escape


def stream_txn(app: str, batch_df: DataFrame, batch_id: int | None
               ) -> tuple[str, int] | None:
    """The exactly-once key of a ``foreachBatch`` commit for
    :meth:`TableGroup.transaction`. Inside a streaming query the app id
    is ``app:<queryId>``: Spark's query id is stable across restarts
    from one checkpoint and new for a new one, so a second query
    feeding the same store, or a restart from a lost checkpoint, starts
    its own batch 0 instead of colliding with the recorded ids of
    another query (Delta asks the same of its ``txnAppId``). A direct
    call outside any query keys by ``app`` alone; ``batch_id=None`` (an
    ad-hoc append) is no key."""
    if batch_id is None:
        return None
    query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId")
    return (app if query_id is None else f"{app}:{query_id}", batch_id)


class TableGroup:
    """Snapshot-log table store with ONE log for many tables."""

    def __init__(self, spark: SparkSession, root: str,
                 writer_id: str | None = None,
                 schemas: dict[str, str] | None = None):
        self.spark = spark
        self.root = root
        self.writer_id = writer_id or f"writer-{uuid.uuid4().hex[:8]}"
        # optional DDL schemas for tables not yet born: read() of an
        # uncommitted table returns a typed-empty frame instead of
        # KeyError — the ParquetTableStore bootstrap contract, which
        # lets ingest/merge code run unchanged on a fresh group
        self.schemas = schemas or {}
        self._log = _SnapshotLog(spark, root, self.writer_id)

    def current_snapshot(self) -> int | None:
        return self._log.head()

    def committed(self, txn: tuple[str, int] | None) -> bool:
        """Whether ``txn`` (a :func:`stream_txn` key) is in the log; an
        unkeyed write (None) never is."""
        return txn is not None and txn in self._log.committed_txns()

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        sid = self._log.snapshot(snapshot_id)
        df = None if sid is None else self._log.frame(name, sid)
        if df is not None:
            return df
        if name in self.schemas and (sid is None or snapshot_id is None):
            return self.spark.createDataFrame([], self.schemas[name])
        if sid is None:
            raise KeyError(f"group has no commits (table {name!r})")
        raise KeyError(f"table {name!r} has no commits at snapshot {sid}")

    def tables(self) -> list[str]:
        return sorted({name for _, name, _, _ in self._log.history()})

    def history(self) -> DataFrame:
        rows = [(sid, name, e["action"], c["writer_id"], c["base_snapshot"],
                 c["ts_utc"]) for sid, name, e, c in self._log.history()]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, table_name string, action string, "
            "writer_id string, base_snapshot long, ts_utc string")

    def vacuum(self, keep_last: int = 1,
               orphan_retention_s: float = DEFAULT_ORPHAN_RETENTION_S
               ) -> list[str]:
        """Delete data directories (across ALL tables) unreferenced by
        the newest ``keep_last`` group snapshots — crashed-transaction
        orphans included — and advance the group's time-travel
        horizon. Manifests are never deleted (audit trail). Returns
        removed paths; in-flight orphan rules as in
        :meth:`_SnapshotLog.vacuum`."""
        return self._log.vacuum(keep_last, orphan_retention_s)

    def changes(self, name: str, after: int, until: int | None = None
                ) -> DataFrame:
        """Rows APPENDED to ``name`` in snapshots (after, until] with a
        ``_snapshot_id`` column — the incremental-consumer feed (read
        what landed since my last cursor, advance the cursor). Fails
        loud if an overwrite of ``name`` sits in the range: a rewrite
        has no append-grain delta in the log."""
        current = self._log.head()
        if current is None:
            raise ValueError(f"table {name!r} has no commits")
        until = current if until is None else until
        # every part is projected onto the schema recorded at
        # ``until`` — parquet projection NULL-fills columns an older
        # vintage predates, so a range crossing an additive
        # merge_schema boundary unions cleanly instead of raising
        schema = StructType.fromJson(
            json.loads(self._log.state(until)[name]["schema"]))
        parts = []
        for sid, e in self._log.entries(name, until):
            if sid <= after:
                continue
            if e["action"] != "append":
                raise ValueError(
                    f"snapshot {sid} is an {e['action']} of {name!r} — "
                    "no append-grain delta"
                )
            if any(not os.path.isdir(d) for d in e["dirs"]):
                raise ValueError(
                    f"snapshot {sid}'s data files were vacuumed — "
                    "the change feed cursor fell behind the retention "
                    "window"
                )
            if e["dirs"]:
                parts.append(
                    self.spark.read.schema(schema)
                    .parquet(*[glob_escape(d) for d in e["dirs"]])
                    # cast: this branch, the empty-range branch and the
                    # driver face's oracle must agree on bigint — a bare
                    # IntegerType lit would make the feed's schema
                    # range-dependent
                    .withColumn("_snapshot_id", F.lit(sid).cast("long"))
                )
        if not parts:
            return self.spark.createDataFrame(
                [], schema.add("_snapshot_id", "long")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def transaction(self, txn: tuple[str, int] | None = None
                    ) -> "GroupTransaction":
        """A staging transaction. With ``txn = (app_id, batch_id)`` it
        commits exactly once: the pair rides the manifest, and a
        transaction whose pair is already in the log commits nothing
        (``snapshot_id`` stays None) — the replay of a ``foreachBatch``
        batch that Structured Streaming delivers again after a crash."""
        return GroupTransaction(self, txn)

    def overwrite(self, name: str, df: DataFrame) -> None:
        with self.transaction() as txn:
            txn.overwrite(name, df)

    def append(self, name: str, df: DataFrame,
               merge_schema: bool = False) -> None:
        with self.transaction() as txn:
            txn.append(name, df, merge_schema=merge_schema)


class GroupTransaction(TableMerge):
    """Stages per-table actions; commits atomically on clean exit,
    commits NOTHING on an exception inside the block. ``read`` is the
    group's committed read and ``overwrite`` stages, so the MERGE
    shapes (``upsert``, ``insert_if_absent``) stage one overwrite each
    and ``ingest_batch`` runs on a transaction as on any store."""

    def __init__(self, group: TableGroup, txn: tuple[str, int] | None):
        self._group = group
        self._txn = txn
        self._actions: list[tuple[str, str, DataFrame, bool]] = []
        self.snapshot_id: int | None = None

    def read(self, name: str) -> DataFrame:
        return self._group.read(name)

    def _stage(self, action: str, name: str, df: DataFrame,
               merge_schema: bool) -> None:
        if any(staged == name for _, staged, _, _ in self._actions):
            raise ValueError(
                f"table {name!r} staged twice in one transaction")
        self._actions.append((action, name, df, merge_schema))

    def overwrite(self, name: str, df: DataFrame) -> None:
        self._stage("overwrite", name, df, False)

    def append(self, name: str, df: DataFrame,
               merge_schema: bool = False) -> None:
        self._stage("append", name, df, merge_schema)

    def __enter__(self) -> "GroupTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None and self._actions:
            self.snapshot_id = self._group._log.commit(self._actions,
                                                       self._txn)
        return False
