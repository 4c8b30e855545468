"""Snapshot-log table store: ACID commits, time travel, and
optimistic concurrency over plain parquet — the transactional surface
the reference's Postgres upserts get from the database itself
(database_utils.py:70-79,266-280) and a cluster deployment would get
from Delta/Iceberg. No Delta jars ship in this container, so the
protocol is built from scratch on the two primitives every lakehouse
format reduces to (public Delta PROTOCOL.md / Iceberg spec shapes):

1. **Immutable data files** — every commit writes NEW parquet
   directories under ``<root>/<table>/data/``; nothing is modified in
   place.
2. **An ordered commit log** — ``<version>.json`` files in one
   ``_txlog`` directory, one JSON manifest per commit::

       {"snapshot_id", "tables": {name: {"action", "dirs", "files",
        "schema"}}, "writer_id", "base_snapshot", "ts_utc"[, "txn"]}

   recording, per table touched, the action (overwrite/append), the
   data directories it added, per-file row counts + min/max skipping
   stats and the schema, plus the base snapshot the writer built on.

One engine, :class:`_SnapshotLog`, implements the protocol over one
``_txlog`` directory. :class:`SnapshotTableStore` holds one log per
table (``<table>/_txlog``, one entry per manifest);
:class:`~pythondataingestionprocess_spark.pipeline.txn_group.TableGroup`
holds one log for many tables (``<root>/_txlog``), which is what
makes a multi-table transaction one claim.

**Atomicity** is the filesystem's: the manifest is fully written to a
temp name, then claimed with ``os.link`` — creating the final
``<version>.json`` succeeds for exactly ONE writer (EEXIST for every
loser) and the name only ever appears fully written. A crash before
the claim leaves orphan data files that no reader can see (vacuum
sweeps them); a crash during the temp write leaves a ``.tmp`` the log
reader ignores. On an object store without atomic create, this claim
is the piece a commit service / conditional-PUT replaces — the rest of
the protocol is storage-agnostic.

**Isolation / concurrency** (the Delta write-serializable rules):

- A blind ``append`` commutes with other appends — on losing the
  claim race it REBASES onto the new head and retries (bounded).
- ``overwrite`` is read-modify-write (it is what MERGE lowers to):
  if ANY commit landed after the snapshot the writer read, the
  table it derived from is stale and the commit fails loud with
  :class:`ConcurrentWriteError` — the caller re-reads and re-merges.
  Last-writer-wins is therefore DETECTED, never silent. A commit
  carrying any overwrite follows this rule for all its tables.

**Time travel**: ``read(name, snapshot_id=k)`` replays the log up to
``k``; ``history`` is the queryable commit table. ``vacuum`` deletes
data files unreferenced by the retained snapshot window, records the
horizon, so a time-travel read past it fails loud instead of
returning partial data, and checkpoints the replay state there.

:class:`SnapshotTableStore` subclasses :class:`ParquetTableStore`
overriding only the physical read/overwrite/append — ``upsert``,
``insert_if_absent``, ``delete_keys`` and the SCD builds inherit
UNCHANGED and gain snapshot isolation: their internal ``read`` pins
the base snapshot their ``overwrite`` validates against.

At 100 TB: commits are metadata-sized (one JSON per commit; stats are
files-grained), readers plan from the manifest file list without
listing storage, and the recorded min/max stats drive
:func:`skippable_files` — file pruning served from the log instead of
a directory walk or footer reads.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from urllib.parse import quote, unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pythondataingestionprocess_spark.pipeline.store import (
    SCHEMAS,
    ParquetTableStore,
)
from pythondataingestionprocess_spark.storage import glob_escape

_TXLOG = "_txlog"
_DATA = "data"
_VACUUM_MARK = "_vacuum.json"
_CHECKPOINT = "_checkpoint.json"
MAX_APPEND_REBASES = 5

# Sentinel for a read base INVALIDATED by a failed overwrite commit:
# distinct from None (no pin → the next read pins fresh) because a
# caller that catches ConcurrentWriteError and blindly retries the
# SAME stale derivation must keep failing loud — clearing to None
# would let the retry skip validation entirely and silently clobber
# the concurrent writer. Only an actual re-READ replaces the sentinel
# with a fresh pin.
_STALE_BASE = object()
# vacuum treats a data dir referenced by NO manifest as possibly an
# in-flight commit (data lands before the claim) and only sweeps it
# past this age — the Delta VACUUM retention idea, scaled to this
# store's commit latency (~seconds) rather than Delta's 7 days
DEFAULT_ORPHAN_RETENTION_S = 600.0


def _name_types(schema_json: str) -> list[tuple[str, str]]:
    """(name, type) pairs from a schema JSON — the append-compat key
    (nullability and metadata excluded)."""
    st = StructType.fromJson(json.loads(schema_json))
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


def _resolve_append_schema(live_schema_json: str, batch_schema: StructType,
                           merge_schema: bool, name: str) -> str:
    """The schema an append commit must RECORD, validated against the
    CURRENT live schema: names+types must match exactly (nullability
    excluded — parquet round-trips relax it); ``merge_schema=True``
    permits ADDITIVE evolution (the union is recorded: existing fields
    first, new fields appended; a batch may also omit existing columns
    — reads project the union, NULL-filling either vintage); a TYPE
    change on a shared column always fails loud.

    MUST be called inside the claim-retry loop, against the head of
    each attempt: a rebased append can land on a head whose schema a
    concurrent commit evolved, and recording a stale schema would
    silently drop the evolved column from every read."""
    live = _name_types(live_schema_json)
    mine = [(f.name, f.dataType.simpleString()) for f in batch_schema.fields]
    if live == mine:
        return batch_schema.json()
    if not merge_schema:
        raise ValueError(
            f"append schema mismatch on {name!r}: table has {live}, "
            f"batch has {mine} — pass merge_schema=True to evolve"
        )
    live_d, mine_d = dict(live), dict(mine)
    conflicts = {
        c: (live_d[c], mine_d[c])
        for c in live_d.keys() & mine_d.keys()
        if live_d[c] != mine_d[c]
    }
    if conflicts:
        raise ValueError(
            f"schema evolution on {name!r} cannot change column "
            f"types: {conflicts}"
        )
    union = StructType.fromJson(json.loads(live_schema_json))
    for f in batch_schema.fields:
        if f.name not in live_d:
            union = union.add(f.name, f.dataType, True)
    return union.json()


def _file_uri(path: str) -> str:
    """A data file's manifest ``path``: the ``file://`` URI that
    Spark's ``input_file_name()`` reports for an ASCII local path."""
    return "file://" + quote(path, safe="/!$&'()*+,;=:@~")


def _uri_path(uri: str) -> str:
    """The local path behind a manifest ``path`` (either URI form)."""
    return unquote(uri.removeprefix("file://"))


def _write_json_atomic(path: str, obj: dict) -> None:
    """Readers of ``path`` see the old or the new content, never a
    half-written file."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed after the snapshot this write was
    derived from — re-read and retry the whole operation."""


class _SnapshotLog:
    """The commit protocol (module doc) over ONE ``_txlog`` directory.
    Table ``name``'s data lives under ``<root>/<name>/data``; a
    manifest carries one entry per table its commit touched. Holds
    this instance's read pin: one logical transaction at a time per
    log, the Spark-driver shape. ``label`` names the log in errors;
    ``stats_cols`` maps tables to the columns whose per-file min/max
    the manifest records. Spark is needed only to write and read data
    — listing, replay, history and vacuum are pure filesystem."""

    def __init__(self, spark, root: str, txdir: str, writer_id: str,
                 label: str, stats_cols: dict[str, list[str]]):
        self.spark = spark
        self.root = root
        self.txdir = txdir
        self.writer_id = writer_id
        self.label = label
        self.stats_cols = stats_cols
        # snapshot this log was first read at since the last commit —
        # the base the next overwrite-bearing commit validates against
        self.read_base = None
        # parsed manifests by snapshot id; a claimed manifest is never
        # rewritten, so each is parsed at most once per instance
        self._manifests: dict[int, dict] = {}

    # -- log reading -----------------------------------------------------

    def ids(self) -> list[int]:
        if not os.path.isdir(self.txdir):
            return []
        out = []
        for f in os.listdir(self.txdir):
            stem, ext = os.path.splitext(f)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def head(self) -> int | None:
        ids = self.ids()
        return ids[-1] if ids else None

    def load(self, sid: int) -> dict:
        manifest = self._manifests.get(sid)
        if manifest is None:
            with open(os.path.join(self.txdir, f"{sid:020d}.json")) as f:
                manifest = self._manifests[sid] = json.load(f)
        return manifest

    def _read_json(self, fname: str) -> dict | None:
        p = os.path.join(self.txdir, fname)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def horizon(self) -> int:
        mark = self._read_json(_VACUUM_MARK)
        return 0 if mark is None else int(mark["min_readable_snapshot"])

    def checkpoint(self) -> dict | None:
        """The log checkpoint written by vacuum (Delta's every-10th-
        commit checkpoint idea): the materialized per-table state at
        the vacuum horizon, so replay cost resets there instead of
        growing forever with commit count. Manifests are never
        deleted — the checkpoint is a perf shortcut, the full log
        stays as the audit trail."""
        return self._read_json(_CHECKPOINT)

    def state(self, sid: int) -> dict[str, dict]:
        """Replay the log up to ``sid`` into ``{table: {"dirs",
        "schema"}}``: overwrite resets a table's file set, append
        extends it, the schema is the last one recorded. Starts from
        the checkpoint when it covers ``sid``."""
        tables: dict[str, dict] = {}
        start_after = 0
        ck = self.checkpoint()
        if ck is not None and sid >= ck["as_of"]:
            tables = {n: {"dirs": list(t["dirs"]), "schema": t["schema"]}
                      for n, t in ck["tables"].items()}
            start_after = ck["as_of"]
        for s in self.ids():
            if s <= start_after:
                continue
            if s > sid:
                break
            for name, e in self.load(s)["tables"].items():
                t = tables.setdefault(name, {"dirs": [], "schema": None})
                t["schema"] = e["schema"]
                if e["action"] == "overwrite":
                    t["dirs"] = list(e["dirs"])
                else:
                    t["dirs"].extend(e["dirs"])
        return tables

    def entries(self, name: str, until: int):
        """(sid, manifest entry) for each commit up to ``until`` that
        touched ``name``."""
        for sid in self.ids():
            if sid > until:
                break
            e = self.load(sid)["tables"].get(name)
            if e is not None:
                yield sid, e

    def history(self):
        """(sid, table, entry, manifest) per table per commit."""
        for sid in self.ids():
            c = self.load(sid)
            for name, e in sorted(c["tables"].items()):
                yield sid, name, e, c

    def committed_txns(self) -> set[tuple[str, int]]:
        """Every (app_id, batch_id) pair recorded in the log."""
        out = set()
        for sid in self.ids():
            txn = self.load(sid).get("txn")
            if txn:
                out.add((txn["app_id"], int(txn["batch_id"])))
        return out

    # -- read side -------------------------------------------------------

    def snapshot(self, snapshot_id: int | None) -> int | None:
        """The snapshot a read serves (None: no commits yet), checked
        against the head and the vacuum horizon. A read of the head
        pins it as the base for the next read-modify-write — at the
        FIRST read since the last commit/reset only: a later read must
        NOT advance it, or a transaction whose reads straddle a
        concurrent commit would validate its overwrite against the
        last read's snapshot and silently clobber the concurrent
        writer's changes (the lost update this protocol exists to
        detect). A _STALE_BASE sentinel (failed commit) is replaced
        here — re-reading IS the prescribed recovery."""
        current = self.head()
        if current is None:
            self.read_base = None
            return None
        sid = current if snapshot_id is None else snapshot_id
        if sid > current:
            raise ValueError(
                f"snapshot {sid} does not exist (current is {current})"
            )
        horizon = self.horizon()
        if sid < horizon:
            raise ValueError(
                f"snapshot {sid} was vacuumed (horizon {horizon}) — its "
                "data files are gone; a partial read would be silent "
                "corruption"
            )
        if snapshot_id is None and (
            self.read_base is None or self.read_base is _STALE_BASE
        ):
            self.read_base = sid
        return sid

    def frame(self, name: str, sid: int) -> DataFrame | None:
        """``name`` at ``sid`` (None: not born yet). The RECORDED
        schema (the union after any merge_schema evolution) is
        projected onto every file: parquet schema projection
        NULL-fills columns a file's vintage predates — one read for a
        table holding files of several vintages, and no footer-
        sampling inference either."""
        t = self.state(sid).get(name)
        if t is None:
            return None
        schema = StructType.fromJson(json.loads(t["schema"]))
        if not t["dirs"]:
            return self.spark.createDataFrame([], schema)
        # Spark lists more than parallelPartitionDiscovery.threshold
        # (default 32) paths with a parallel Spark job. The engine is
        # local-FS only (its claim is an os.link), so that job buys
        # nothing: raise the threshold around the read so the driver
        # lists every live dir, then restore the session's value.
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        threshold = self.spark.conf.get(key)
        self.spark.conf.set(key, str(max(len(t["dirs"]), int(threshold))))
        try:
            return self.spark.read.schema(schema).parquet(
                *[glob_escape(d) for d in t["dirs"]])
        finally:
            self.spark.conf.set(key, threshold)

    # -- write side ------------------------------------------------------

    def write_data(
        self, name: str, df: DataFrame
    ) -> tuple[str | None, list[dict]]:
        """Write ``df`` to a fresh immutable directory; return (dir,
        per-file row-count and min/max entries) for the
        files holding rows. The write is the only Spark job: row
        counts come from the parquet footers, and only a table with
        ``stats_cols`` pays a min/max read-back (given the written
        schema, so nothing is inferred). An empty write (e.g.
        delete_keys removing the last row) yields (None, []) — the
        commit records no dirs and readers get the typed-empty frame
        from the recorded schema."""
        d = os.path.join(self.root, name, _DATA, uuid.uuid4().hex)
        df.write.parquet(d)
        parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        if not parts:
            shutil.rmtree(d)
            return None, []
        files = {}
        for f in parts:
            n_rows = pq.read_metadata(os.path.join(d, f)).num_rows
            if n_rows:
                files[f] = {"path": _file_uri(os.path.join(d, f)),
                            "n_rows": n_rows}
        cols = [c for c in self.stats_cols.get(name, []) if c in df.columns]
        if cols:
            aggs = []
            for c in cols:
                aggs.append(F.min(c).cast("string").alias(f"{c}_min"))
                aggs.append(F.max(c).cast("string").alias(f"{c}_max"))
            part = self.spark.read.schema(
                StructType([df.schema[c] for c in cols])
            ).parquet(glob_escape(d))
            for r in part.groupBy(
                F.input_file_name().alias("file")
            ).agg(*aggs).collect():  # files-sized, never rows-sized
                files[r["file"].rsplit("/", 1)[-1]]["stats"] = {
                    c: [r[f"{c}_min"], r[f"{c}_max"]] for c in cols
                }
        return d, list(files.values())

    def claim(self, record: dict, next_id: int) -> bool:
        """Atomically claim snapshot ``next_id``: write the manifest to
        a temp name, hard-link it into place. Exactly one writer wins;
        the committed name only ever appears fully written."""
        os.makedirs(self.txdir, exist_ok=True)
        tmp = os.path.join(self.txdir, f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(self.txdir, f"{next_id:020d}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def commit(self, actions: list[tuple[str, str, DataFrame, bool]],
               txn: tuple[str, int] | None = None) -> int | None:
        """Write the data of every ``(action, name, df, merge_schema)``,
        then claim ONE manifest for all of them; return its snapshot
        id. With ``txn = (app_id, batch_id)`` the commit is skipped
        (None) when that pair is already in the log — re-checked on
        every attempt, since a concurrent replay of the same batch may
        win the race (our data dirs then become vacuumable orphans).

        The staged dirs' mtimes are a LEASE against vacuum's
        mtime-based orphan retention, and a lease must be renewed
        more often than it expires: every staged dir is re-touched
        after EACH table's write, bounding any dir's apparent age by
        one table-staging step, and once more at the claim edge to
        cover the schema-resolve / claim-race window. The remaining
        contract is Delta's own: orphan_retention_s must exceed the
        longest single-table stage + the claim, not the whole
        transaction."""
        if txn is not None and txn in self.committed_txns():
            return None
        staged: dict[str, tuple] = {}

        def renew_lease():
            now = time.time()
            for _, dirs, *_ in staged.values():
                for d in dirs:
                    os.utime(d, (now, now))

        for action, name, df, merge_schema in actions:
            new_dir, files = self.write_data(name, df)
            staged[name] = (action, [new_dir] if new_dir else [], files,
                            df.schema, merge_schema)
            renew_lease()
        renew_lease()
        has_overwrite = any(s[0] == "overwrite" for s in staged.values())
        has_append = any(s[0] == "append" for s in staged.values())
        base = self.read_base
        rebases = 0
        while True:
            if txn is not None and txn in self.committed_txns():
                return None
            current = self.head() or 0
            if has_overwrite and base is _STALE_BASE:
                raise ConcurrentWriteError(
                    f"{self.label}: this instance's read base was "
                    "invalidated by a previous failed commit — re-READ "
                    "and re-derive before retrying"
                )
            if has_overwrite and base is not None and current != base:
                # the prescribed recovery is re-read + re-derive; mark
                # the pin stale so a blind retry with the SAME
                # derivation keeps failing loud, while the re-read
                # re-pins fresh
                self.read_base = _STALE_BASE
                raise ConcurrentWriteError(
                    f"{self.label}: snapshot advanced {base} -> "
                    f"{current} since this write's base was read — "
                    "re-read and re-derive (read-modify-write is stale)"
                )
            # each append's RECORDED schema is resolved against the
            # head of THIS attempt (a rebase may land on a head a
            # concurrent commit evolved)
            live = self.state(current) if current and has_append else {}
            tables = {}
            for name, (action, dirs, files, batch_schema,
                       merge_schema) in staged.items():
                schema = batch_schema.json()
                if action == "append" and name in live:
                    schema = _resolve_append_schema(
                        live[name]["schema"], batch_schema, merge_schema,
                        name)
                tables[name] = {"action": action, "dirs": dirs,
                                "files": files, "schema": schema}
            record = {
                "snapshot_id": current + 1,
                "tables": tables,
                "writer_id": self.writer_id,
                # an overwrite built on its pinned read; an append (or
                # a _STALE_BASE pin, which must not leak into the
                # manifest) built on the head it claims over
                "base_snapshot": (base if has_overwrite
                                  and isinstance(base, int) else current),
                "ts_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                        time.gmtime()),
            }
            if txn is not None:
                record["txn"] = {"app_id": txn[0], "batch_id": int(txn[1])}
            if self.claim(record, current + 1):
                if has_overwrite:
                    self.read_base = None
                elif isinstance(base, int):
                    # A blind append must neither CREATE a pin (a pin
                    # certifies "this instance READ at that snapshot" —
                    # an append-only instance keeps the blind-overwrite
                    # contract) nor ADVANCE or clear a live one: its
                    # head may cover OTHER writers' commits the pinned
                    # read never saw (read base 1 -> B appends 2 -> own
                    # append claims 3: advancing the pin to 3 would let
                    # an overwrite derived from the snapshot-1 read
                    # validate clean and clobber B's rows). Stale it so
                    # the next overwrite without a fresh read fails
                    # loud; a re-read re-pins.
                    self.read_base = _STALE_BASE
                return current + 1
            # lost the race
            if has_overwrite:
                self.read_base = _STALE_BASE
                raise ConcurrentWriteError(
                    f"{self.label}: lost the commit race for snapshot "
                    f"{current + 1} — re-read and re-derive"
                )
            rebases += 1
            if rebases > MAX_APPEND_REBASES:
                raise ConcurrentWriteError(
                    f"{self.label}: append lost {rebases} claim races "
                    "— giving up"
                )

    # -- maintenance -----------------------------------------------------

    def vacuum(self, keep_last: int, orphan_retention_s: float) -> list[str]:
        """Delete data directories (of every table in the log)
        unreferenced by the newest ``keep_last`` snapshots, orphans
        from crashed commits included; advance the time-travel
        horizon and checkpoint the replay state there. Returns the
        removed paths.

        A directory referenced by NO manifest at all is
        indistinguishable from a commit IN FLIGHT (:meth:`commit`
        writes data BEFORE the claim), so such orphans are only swept
        once older than ``orphan_retention_s`` (mtime-based — the
        Delta VACUUM retention idea); a racing vacuum would otherwise
        delete the files a manifest is about to publish. Directories
        referenced by a superseded manifest cannot be in flight and
        are removed regardless of age. Pass 0 only when the caller
        holds exclusive access."""
        ids = self.ids()
        if not ids:
            return []
        retained = ids[max(0, len(ids) - keep_last):]
        live: set[str] = set()
        for sid in retained:
            for t in self.state(sid).values():
                live.update(t["dirs"])
        referenced: set[str] = set()
        names: set[str] = set()
        for sid in ids:
            for name, e in self.load(sid)["tables"].items():
                names.add(name)
                referenced.update(e["dirs"])
        now = time.time()
        removed = []
        for name in sorted(names):
            datadir = os.path.join(self.root, name, _DATA)
            if not os.path.isdir(datadir):
                continue
            for d in sorted(os.listdir(datadir)):
                full = os.path.join(datadir, d)
                if full in live:
                    continue
                if full not in referenced:
                    try:
                        age = now - os.path.getmtime(full)
                    except OSError:
                        continue  # concurrently claimed/removed
                    if age < orphan_retention_s:
                        continue  # possibly an in-flight commit
                shutil.rmtree(full)
                removed.append(full)
        _write_json_atomic(
            os.path.join(self.txdir, _VACUUM_MARK),
            {"min_readable_snapshot": retained[0],
             "vacuumed_by": self.writer_id})
        # materialize the state at the new horizon so log replay
        # restarts there (bounded by vacuum cadence) instead of walking
        # every manifest since the log's birth
        _write_json_atomic(
            os.path.join(self.txdir, _CHECKPOINT),
            {"as_of": retained[0], "tables": self.state(retained[0])})
        return removed


class SnapshotTableStore(ParquetTableStore):
    """ParquetTableStore with a per-table snapshot log (module doc)."""

    def __init__(self, spark, root: str, writer_id: str | None = None,
                 stats_cols: dict[str, list[str]] | None = None):
        super().__init__(spark, root)
        self.writer_id = writer_id or f"writer-{uuid.uuid4().hex[:8]}"
        # per-table columns to record min/max skipping stats for
        self.stats_cols = stats_cols or {}
        self._logs: dict[str, _SnapshotLog] = {}

    def _log(self, name: str) -> _SnapshotLog:
        if name not in self._logs:
            self._logs[name] = _SnapshotLog(
                self.spark, self.root,
                os.path.join(self._path(name), _TXLOG), self.writer_id,
                f"table {name!r}", self.stats_cols)
        return self._logs[name]

    def snapshot_ids(self, name: str) -> list[int]:
        return self._log(name).ids()

    def current_snapshot(self, name: str) -> int | None:
        return self._log(name).head()

    def _schema_of(self, name: str, sid: int) -> StructType:
        return StructType.fromJson(
            json.loads(self._log(name).state(sid)[name]["schema"]))

    # -- read side -------------------------------------------------------

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        log = self._log(name)
        sid = log.snapshot(snapshot_id)
        if sid is None:
            # never committed: the base class's typed-empty bootstrap
            return self.spark.createDataFrame([], SCHEMAS[name])
        return log.frame(name, sid)

    def history(self, name: str) -> DataFrame:
        """The commit log as a DataFrame (queryable audit trail)."""
        rows = [
            (sid, e["action"], c["writer_id"], c["base_snapshot"],
             c["ts_utc"], len(e["dirs"]), sum(f["n_rows"] for f in e["files"]))
            for sid, _, e, c in self._log(name).history()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, action string, writer_id string, "
            "base_snapshot long, ts_utc string, n_dirs long, "
            "n_rows_added long",
        )

    # -- write side --------------------------------------------------------

    def _commit(self, name: str, action: str, df: DataFrame,
                merge_schema: bool = False,
                txn: tuple[str, int] | None = None) -> int | None:
        return self._log(name).commit([(action, name, df, merge_schema)], txn)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Replace the table in one atomic commit. If this instance
        read the table first (every inherited MERGE/SCD path does),
        the commit validates nothing landed since that snapshot. df
        may derive from the live table (upsert does): it is
        materialized BEFORE the claim, and data writes never touch old
        files."""
        self._commit(name, "overwrite", df)

    def append(self, name: str, df: DataFrame,
               partition_by: list[str] | None = None,
               merge_schema: bool = False) -> None:
        """Blind append: new files only, auto-rebases on claim races.
        Hive ``partition_by`` is deliberately unsupported here — the
        manifest's per-file min/max stats serve the same pruning
        (:meth:`skippable_files`) without directory explosion.
        ``merge_schema=True`` permits additive evolution: the batch
        may carry new columns (the table schema widens; older files
        read as NULL there) and may omit existing ones; type changes
        on shared columns always fail loud."""
        if partition_by:
            raise ValueError(
                "SnapshotTableStore.append does not hive-partition; "
                "skipping stats in the commit manifest replace it "
                "(pass stats_cols={table: [cols]})"
            )
        self._commit(name, "append", df, merge_schema)

    # -- exactly-once appends (streaming sink integration) ----------------

    def committed_txns(self, name: str) -> set[tuple[str, int]]:
        """Every (app_id, batch_id) pair recorded in the log."""
        return self._log(name).committed_txns()

    def append_once(self, name: str, df: DataFrame, app_id: str,
                    batch_id: int, merge_schema: bool = False) -> bool:
        """Idempotent append keyed by (app_id, batch_id) — the Delta
        ``txnAppId``/``txnVersion`` pattern that makes a foreachBatch
        sink EXACTLY-ONCE: Structured Streaming re-delivers a batch
        after a crash-between-write-and-checkpoint, and the replay
        must become a no-op instead of a duplicate. The txn id rides
        the commit manifest itself, so the dedup check and the data
        commit are one atomic unit (a separate ledger table would
        reintroduce the two-writes race this store exists to close).
        Returns True if the batch committed, False if it was already
        in the log. Claim races, schema discipline (a divergent batch
        fails loud, never records its own schema and NULLs existing
        columns for every reader; ``merge_schema=True`` permits
        additive evolution) and the read-pin rule are
        :meth:`append`'s."""
        return self._commit(name, "append", df, merge_schema,
                            (app_id, int(batch_id))) is not None

    # -- change data feed ----------------------------------------------------

    def changes(self, name: str, after: int, until: int | None = None
                ) -> DataFrame:
        """Rows APPENDED in snapshots (after, until] with a
        ``_snapshot_id`` column — the incremental-consumer feed (read
        what landed since my last cursor, advance the cursor). Fails
        loud if an overwrite commit sits in the range: a rewrite
        (MERGE/OPTIMIZE) has no append-grain delta in the log — use
        :meth:`diff_snapshots` for the row-level diff instead."""
        log = self._log(name)
        current = log.head()
        if current is None:
            raise ValueError(f"table {name!r} has no commits")
        until = current if until is None else until
        # every part is projected onto the schema recorded at
        # ``until`` — parquet projection NULL-fills columns an older
        # vintage predates, so a range crossing an additive
        # merge_schema boundary unions cleanly instead of raising
        schema = self._schema_of(name, until)
        parts = []
        for sid, e in log.entries(name, until):
            if sid <= after:
                continue
            if e["action"] != "append":
                raise ValueError(
                    f"snapshot {sid} is an {e['action']} — no "
                    "append-grain delta; use diff_snapshots"
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

    def diff_snapshots(self, name: str, a: int, b: int) -> DataFrame:
        """Row-level diff between two snapshots — works across
        overwrites. Returns full rows tagged ``_change_type``
        ('insert' rows present in b but not a, 'delete' the reverse).
        Set-oriented (two anti-joins over whole-row comparison — one
        shuffle each); at 100 TB this is the audit/backfill tool, not
        a hot path, and a keyed variant should anti-join on the key
        columns only."""
        da, db = self.read(name, snapshot_id=a), self.read(name, snapshot_id=b)
        cols = da.columns
        ins = db.join(da, cols, "left_anti").withColumn(
            "_change_type", F.lit("insert"))
        dele = da.join(db, cols, "left_anti").withColumn(
            "_change_type", F.lit("delete"))
        return ins.unionByName(dele)

    def optimize(self, name: str, max_files_per_commit: int = 128) -> int:
        """Compact the live file set into one fresh directory — the
        table-service OPTIMIZE, expressed as an ordinary overwrite
        commit so readers never see a half-compacted state and time
        travel still reaches the pre-compaction snapshots. Data is
        byte-identical (same rows, fewer files); the base-snapshot
        validation makes a concurrent writer fail THIS commit loud
        rather than silently losing their rows. Returns the new
        snapshot id."""
        df = self.read(name)  # pins the base snapshot
        log = self._log(name)
        n_dirs = len(log.state(log.head())[name]["dirs"])
        return self._commit(
            name, "overwrite",
            df.coalesce(max(1, min(max_files_per_commit, n_dirs))))

    # -- maintenance -------------------------------------------------------

    def vacuum(self, name: str, keep_last: int = 1,
               orphan_retention_s: float = DEFAULT_ORPHAN_RETENTION_S
               ) -> list[str]:
        """Delete data directories unreferenced by the newest
        ``keep_last`` snapshots and advance the time-travel horizon
        so vacuumed snapshots fail loud on read (in-flight orphan
        rules: :meth:`_SnapshotLog.vacuum`). Returns the removed
        paths."""
        return self._log(name).vacuum(keep_last, orphan_retention_s)

    def _live_files(self, name: str, sid: int) -> list[dict]:
        """The manifest file entries (path, n_rows, stats) live at
        ``sid``."""
        log = self._log(name)
        live = set(log.state(sid)[name]["dirs"])
        return [f for _, e in log.entries(name, sid)
                if live.intersection(e["dirs"]) for f in e["files"]]

    def read_range(self, name: str, col: str, lo, hi) -> DataFrame:
        """Range read that PLANS FROM THE LOG: files whose recorded
        [min, max] envelope for ``col`` misses [lo, hi] are never
        handed to Spark at all (no footer read, no task), and the
        residual filter still applies row-grain on the survivors.
        At 100 TB this is the difference between scheduling a task
        per file and scheduling one per overlapping file — the same
        contract Delta/Iceberg data skipping provides, served from
        the commit manifests. Falls back to a plain filtered read
        when no stats were recorded for ``col``."""
        current = self.current_snapshot(name)
        df = self.read(name, snapshot_id=current) if current else self.read(name)
        pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if current is None:
            return df.filter(pred)
        skip = set(self.skippable_files(name, col, lo, hi))
        if not skip:
            return df.filter(pred)
        keep = [f["path"] for f in self._live_files(name, current)
                if f["path"] not in skip]
        schema = self._schema_of(name, current)
        if not keep:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[glob_escape(_uri_path(p)) for p in sorted(set(keep))]
        ).filter(pred)

    def skippable_files(self, name: str, col: str, lo, hi) -> list[str]:
        """Files a ``col BETWEEN lo AND hi`` reader can skip, decided
        from the COMMIT MANIFEST's recorded min/max — no storage
        listing, no footer reads: a file is skippable iff its [min, max]
        envelope misses [lo, hi]. Stats are stored as strings; comparison uses
        the caller's type via string round-trip, so use it for columns
        whose string order matches value order (dates, zero-padded
        keys) or numeric columns via the float fallback below."""
        current = self.current_snapshot(name)
        if current is None:
            return []
        out = []
        for entry in self._live_files(name, current):
            st = entry.get("stats", {}).get(col)
            if not st or st[0] is None:
                continue
            mn, mx = st
            try:
                mn, mx = float(mn), float(mx)
                lo_c, hi_c = float(lo), float(hi)
            except (TypeError, ValueError):
                lo_c, hi_c = str(lo), str(hi)
                mn, mx = str(mn), str(mx)
            if mx < lo_c or mn > hi_c:
                out.append(entry["path"])
        return out
