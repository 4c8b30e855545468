"""Snapshot-log commit engine: ACID commits, time travel, and
optimistic concurrency over plain parquet — the transactional surface
the reference's Postgres upserts get from the database itself
(database_utils.py:70-79,266-280) and a cluster deployment would get
from Delta/Iceberg. No Delta jars ship in this container, so the
protocol is built from scratch on the two primitives every lakehouse
format reduces to (public Delta PROTOCOL.md / Iceberg spec shapes):

1. **Immutable data files** — every commit writes NEW parquet
   directories under ``<root>/<table>/data/``; nothing is modified in
   place.
2. **An ordered commit log** — ``<version>.json`` files in
   ``<root>/_txlog``, one JSON manifest per commit::

       {"snapshot_id", "tables": {name: {"action", "dirs", "schema"}},
        "writer_id", "base_snapshot", "ts_utc"[, "txn"]}

   recording, per table touched, the action (overwrite/append), the
   data directories it added and the schema, plus the base snapshot
   the writer built on. Replay reads only ``action``, ``dirs`` and
   ``schema``.

This module holds the engine, :class:`_SnapshotLog`, over one root's
log. The one store on top of it is
:class:`~pythondataingestionprocess_spark.pipeline.txn_group.TableGroup`:
every table under a root shares the log, so a commit touching many
tables is one claim.

**Atomicity** is the filesystem's: the manifest is fully written to a
temp name, then claimed with ``os.link`` — creating the final
``<version>.json`` succeeds for exactly ONE writer (EEXIST for every
loser) and the name only ever appears fully written. A crash before
the claim leaves orphan data files that no reader can see (vacuum
sweeps them); a crash during the temp write leaves a ``.tmp`` the log
reader ignores. On an object store without atomic create, this claim
is the piece a commit service / conditional-PUT replaces — the rest of
the protocol is storage-agnostic.

**Isolation / concurrency** (the Delta write-serializable rules, at
the grain of the whole log):

- A blind ``append`` commutes with other appends — on losing the
  claim race it REBASES onto the new head and retries (bounded).
- ``overwrite`` is read-modify-write (it is what MERGE lowers to):
  if ANY commit landed after the snapshot the writer read — to any
  table of the root — the tables it derived from may be stale and
  the commit fails loud with :class:`ConcurrentWriteError`; the
  caller re-reads and re-merges. Last-writer-wins is therefore
  DETECTED, never silent. A commit carrying any overwrite follows
  this rule for all its tables.

**Time travel**: a read at ``snapshot_id=k`` replays the log up to
``k``; the history is the queryable commit table. ``vacuum`` deletes
data files unreferenced by the retained snapshot window, records the
horizon, so a time-travel read past it fails loud instead of
returning partial data, and checkpoints the replay state there.

At 100 TB: commits are metadata-sized (one JSON per commit, listing
directories, never files), and readers plan from the manifest's
directory list without listing the table root.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

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
    """The commit protocol (module doc) over ``<root>/_txlog``.
    Table ``name``'s data lives under ``<root>/<name>/data``; a
    manifest carries one entry per table its commit touched. Holds
    this instance's read pin: one logical transaction at a time per
    log, the Spark-driver shape. Spark is needed only to write and
    read data — listing, replay, history and vacuum are pure
    filesystem."""

    def __init__(self, spark, root: str, writer_id: str):
        self.spark = spark
        self.root = root
        self.txdir = os.path.join(root, _TXLOG)
        self.writer_id = writer_id
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

    def write_data(self, name: str, df: DataFrame) -> str | None:
        """Write ``df`` to a fresh immutable directory and return it;
        the write is the commit's only Spark job. A write that leaves
        no parquet file yields None — the commit records no dirs and
        readers get the typed-empty frame from the recorded schema."""
        d = os.path.join(self.root, name, _DATA, uuid.uuid4().hex)
        df.write.parquet(d)
        if not any(f.endswith(".parquet") for f in os.listdir(d)):
            shutil.rmtree(d)
            return None
        return d

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
            new_dir = self.write_data(name, df)
            staged[name] = (action, [new_dir] if new_dir else [],
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
                    "this instance's read base was invalidated by a "
                    "previous failed commit — re-READ and re-derive "
                    "before retrying"
                )
            if has_overwrite and base is not None and current != base:
                # the prescribed recovery is re-read + re-derive; mark
                # the pin stale so a blind retry with the SAME
                # derivation keeps failing loud, while the re-read
                # re-pins fresh
                self.read_base = _STALE_BASE
                raise ConcurrentWriteError(
                    f"snapshot advanced {base} -> "
                    f"{current} since this write's base was read — "
                    "re-read and re-derive (read-modify-write is stale)"
                )
            # each append's RECORDED schema is resolved against the
            # head of THIS attempt (a rebase may land on a head a
            # concurrent commit evolved)
            live = self.state(current) if current and has_append else {}
            tables = {}
            for name, (action, dirs, batch_schema,
                       merge_schema) in staged.items():
                schema = batch_schema.json()
                if action == "append" and name in live:
                    schema = _resolve_append_schema(
                        live[name]["schema"], batch_schema, merge_schema,
                        name)
                tables[name] = {"action": action, "dirs": dirs,
                                "schema": schema}
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
                    "lost the commit race for snapshot "
                    f"{current + 1} — re-read and re-derive"
                )
            rebases += 1
            if rebases > MAX_APPEND_REBASES:
                raise ConcurrentWriteError(
                    f"append lost {rebases} claim races "
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
        holds exclusive access. ``keep_last`` must be at least 1: the
        head is always retained."""
        if keep_last < 1:
            raise ValueError(
                f"vacuum keep_last must be >= 1 (got {keep_last}): the "
                "head snapshot's data is always retained")
        ids = self.ids()
        if not ids:
            return []
        retained = ids[-keep_last:]
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
