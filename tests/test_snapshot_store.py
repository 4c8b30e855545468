"""The snapshot-log commit engine, through its one store, ``TableGroup``
(the reference's transactional upsert surface,
database_utils.py:70-79,266-280, without Delta jars).

Pinned here, mostly on one-table groups: atomic commit claims
(exactly one winner), crash-mid-commit invisibility (orphan data files
and torn manifests never reach readers), concurrent-writer detection
(stale read-modify-write fails loud; blind appends rebase), the
read-pin rules, time travel by snapshot id, the queryable history,
vacuum with a loud time-travel horizon and a replay checkpoint,
append-schema discipline, exactly-once keyed commits, the change feed,
the streaming table sink, and the MERGE shapes running on a group
transaction with snapshot isolation. Multi-table atomicity is
tests/test_txn_group.py's."""

from __future__ import annotations

import json
import os

import pytest

from pythondataingestionprocess_spark.pipeline import snapshot_store
from pythondataingestionprocess_spark.pipeline.snapshot_store import (
    ConcurrentWriteError,
)
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup

_STORE = ("id_store long, store_name string, store_url string, "
          "status boolean")


def _df(spark, rows):
    return spark.createDataFrame(rows, _STORE)


def _append_once(grp, df, app_id, batch_id, merge_schema=False) -> bool:
    """One keyed append transaction; whether it committed."""
    with grp.transaction((app_id, batch_id)) as t:
        t.append("store", df, merge_schema=merge_schema)
    return t.snapshot_id is not None


def _ids(df):
    return sorted(r["id_store"] for r in df.collect())


def test_commit_read_roundtrip_and_history(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path), writer_id="w1")
    grp.overwrite("store", _df(spark, [(1, "a", "u1", True)]))
    grp.append("store", _df(spark, [(2, "b", "u2", False)]))
    got = {r["id_store"]: r["store_name"] for r in grp.read("store").collect()}
    assert got == {1: "a", 2: "b"}
    h = {r["snapshot_id"]: (r["table_name"], r["action"], r["writer_id"])
         for r in grp.history().collect()}
    assert h == {1: ("store", "overwrite", "w1"), 2: ("store", "append", "w1")}


def test_time_travel_by_snapshot_id(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "v1", "u", True)]))
    grp.append("store", _df(spark, [(2, "v1", "u", True)]))
    grp.overwrite("store", _df(spark, [(9, "v3", "u", True)]))
    assert grp.read("store", snapshot_id=1).count() == 1
    assert grp.read("store", snapshot_id=2).count() == 2
    assert _ids(grp.read("store", snapshot_id=3)) == [9]
    # reading the current view again is snapshot 3
    assert grp.read("store").count() == 1
    with pytest.raises(ValueError, match="does not exist"):
        grp.read("store", snapshot_id=7)


def test_crash_mid_commit_is_invisible(spark, tmp_path):
    """A writer that died after writing data files for two tables but
    before the claim leaves NO visible change in either; a torn temp
    manifest in _txlog is ignored by the log reader."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    # simulate the crash: data directories written, no commit claimed
    orphan = grp._log.write_data("store", _df(spark, [(99, "ghost", "u", True)]))
    other = grp._log.write_data("provider", spark.createDataFrame(
        [(5, 1)], "id_provider long, id_store long"))
    assert os.path.isdir(orphan) and os.path.isdir(other)
    # and a torn manifest temp file
    torn = os.path.join(grp._log.txdir, ".deadbeef.tmp")
    with open(torn, "w") as f:
        f.write('{"snapshot_id": 2, "action": "overw')  # truncated
    assert grp.current_snapshot() == 1
    assert _ids(grp.read("store")) == [1]
    with pytest.raises(KeyError):
        grp.read("provider")
    # the next real commit proceeds normally at snapshot 2
    grp.append("store", _df(spark, [(2, "b", "u", True)]))
    assert grp.read("store").count() == 2
    # a default vacuum SPARES the fresh orphans — they are
    # indistinguishable from a commit in flight (data lands before
    # the claim)
    assert orphan not in grp.vacuum(keep_last=2)
    assert os.path.isdir(orphan)
    # with exclusive access declared (retention 0) the orphan of the
    # logged table is swept
    removed = grp.vacuum(keep_last=2, orphan_retention_s=0)
    assert orphan in removed
    assert grp.read("store").count() == 2


def test_concurrent_overwrite_is_detected_not_silent(spark, tmp_path):
    """Two writers read snapshot 1; A commits first; B's overwrite —
    derived from stale data — must raise, and succeed after re-read."""
    a = TableGroup(spark, str(tmp_path), writer_id="A")
    b = TableGroup(spark, str(tmp_path), writer_id="B")
    a.overwrite("store", _df(spark, [(1, "base", "u", True)]))
    a.read("store")
    b.read("store")  # both pin base snapshot 1
    a.overwrite("store", _df(spark, [(1, "from-A", "u", True)]))
    with pytest.raises(ConcurrentWriteError, match="advanced 1 -> 2"):
        b.overwrite("store", _df(spark, [(1, "from-B", "u", True)]))
    # B re-reads the new head and retries: now clean
    b.read("store")
    b.overwrite("store", _df(spark, [(1, "from-B", "u", True)]))
    assert [r["store_name"] for r in a.read("store").collect()] == ["from-B"]
    writers = [r["writer_id"] for r in a.history().collect()]
    assert writers == ["A", "A", "B"]


def test_blind_retry_after_failed_overwrite_keeps_failing(spark, tmp_path):
    """A caller that catches ConcurrentWriteError and retries the SAME
    stale one-table overwrite WITHOUT re-reading must keep failing
    loud — the failed commit invalidates the pin (sentinel), it does
    not clear it, so only an actual re-read re-arms validation."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    b = TableGroup(spark, str(tmp_path), writer_id="b")
    a.overwrite("store", _df(spark, [(1, "x", "u", True)]))
    a._log.read_base = None
    a.read("store")  # pins base 1
    b.append("store", _df(spark, [(2, "y", "u", True)]))  # snapshot 2
    derived = _df(spark, [(9, "stale", "u", True)])
    with pytest.raises(ConcurrentWriteError):
        a.overwrite("store", derived)
    # the blind retry — same frame, no re-read — must ALSO fail
    with pytest.raises(ConcurrentWriteError, match="invalidated"):
        a.overwrite("store", derived)
    # untouched: both rows still visible
    assert a.read("store").count() == 2
    # after the re-read (which just happened above), the retry lands
    a.overwrite("store", derived)
    assert _ids(a.read("store")) == [9]


def test_own_blind_append_does_not_advance_read_pin(spark, tmp_path):
    """Read pins base 1 -> writer B appends (snapshot 2) -> own blind
    one-table append claims snapshot 3. Advancing the pin to 3 would
    let an overwrite DERIVED FROM THE SNAPSHOT-1 READ validate clean
    against head 3 and silently clobber B's rows. The append must
    stale the pin instead, so the overwrite fails loud until a fresh
    read re-pins."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    b = TableGroup(spark, str(tmp_path), writer_id="b")
    a.overwrite("store", _df(spark, [(1, "x", "u", True)]))
    a.read("store")  # pins base 1
    b.append("store", _df(spark, [(2, "b-row", "u", True)]))  # snap 2
    a.append("store", _df(spark, [(3, "a-row", "u", True)]))  # snap 3
    derived = _df(spark, [(9, "stale", "u", True)])
    with pytest.raises(ConcurrentWriteError):
        a.overwrite("store", derived)
    # nothing clobbered: all three rows (incl. B's) still visible
    assert a.read("store").count() == 3
    # the read above re-pinned at head — now the overwrite lands
    a.overwrite("store", derived)
    assert _ids(a.read("store")) == [9]


def test_straddling_reads_pin_first_snapshot_single_table(spark, tmp_path):
    """The pin discipline on one table: a second read of the table must
    not advance the pinned base past a concurrent commit; the
    overwrite derived from the FIRST read must fail loud."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    b = TableGroup(spark, str(tmp_path), writer_id="b")
    a.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    a._log.read_base = None  # fresh transaction boundary
    first = a.read("store")  # pins base 1
    b.append("store", _df(spark, [(2, "b", "u", True)]))  # snapshot 2
    a.read("store")  # must NOT re-pin to 2
    derived = _df(spark, [(r["id_store"], r["store_name"] + "!", "u", True)
                          for r in first.collect()])
    with pytest.raises(ConcurrentWriteError, match="advanced 1 -> 2"):
        a.overwrite("store", derived)
    # failure reset the base; re-read re-pins and the retry lands
    again = a.read("store")
    a.overwrite("store", again.limit(1))
    assert a.read("store").count() == 1


def test_concurrent_append_rebases_automatically(spark, tmp_path, monkeypatch):
    """Blind appends commute: when B loses the claim race it rebases
    onto the new head instead of failing. Simulated by injecting A's
    commit between B's data write and B's claim."""
    a = TableGroup(spark, str(tmp_path), writer_id="A")
    b = TableGroup(spark, str(tmp_path), writer_id="B")
    a.overwrite("store", _df(spark, [(1, "base", "u", True)]))

    real_claim = b._log.claim
    state = {"injected": False}

    def racing_claim(record, next_id):
        if not state["injected"]:
            state["injected"] = True
            a.append("store", _df(spark, [(2, "from-A", "u", True)]))
        return real_claim(record, next_id)

    monkeypatch.setattr(b._log, "claim", racing_claim)
    b.append("store", _df(spark, [(3, "from-B", "u", True)]))
    assert _ids(a.read("store")) == [1, 2, 3]
    assert a.current_snapshot() == 3


def test_inherited_merge_paths_gain_snapshot_isolation(spark, tmp_path):
    """upsert/insert_if_absent run UNCHANGED on a group transaction
    (read → derive → staged overwrite, one commit each), and a
    concurrent commit between a MERGE's read and its overwrite is
    detected."""
    grp = TableGroup(spark, str(tmp_path), writer_id="M")
    grp.overwrite("store", _df(spark, [(1, "a", "u1", True),
                                       (2, "b", "u2", True)]))
    with grp.transaction() as t:
        t.upsert("store", _df(spark, [(2, "B2", "u2x", False),
                                      (3, "c", "u3", True)]), keys=["id_store"])
    got = {r["id_store"]: r["store_name"] for r in grp.read("store").collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    with grp.transaction() as t:
        t.insert_if_absent("store", _df(spark, [(1, "SHOULD-NOT-WIN", "x", False),
                                                (4, "d", "u4", True)]),
                           keys=["id_store"])
    got = {r["id_store"]: r["store_name"] for r in grp.read("store").collect()}
    assert got[1] == "a" and got[4] == "d"
    # every MERGE above is one commit; history is the audit trail
    assert grp.current_snapshot() == 3

    # stale MERGE detection: another writer lands between read and write
    other = TableGroup(spark, str(tmp_path), writer_id="X")
    with pytest.raises(ConcurrentWriteError):
        with grp.transaction() as t:
            t.upsert("store", _df(spark, [(5, "e", "u", True)]),
                     keys=["id_store"])  # reads (pins) snapshot 3
            other.overwrite("store", _df(spark, [(7, "interloper", "u", True)]))
    assert _ids(grp.read("store")) == [7]


def test_delete_to_empty_and_empty_reads(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path), schemas={"store": _STORE})
    # never-committed table: typed empty from the declared schema
    assert grp.read("store").count() == 0
    grp.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    with grp.transaction() as t:  # a MERGE that removes the last row
        t.overwrite("store", t.read("store").filter("id_store != 1"))
    empty = grp.read("store")
    assert empty.count() == 0
    assert "id_store" in empty.columns  # schema survives the empty commit
    assert grp.read("store", snapshot_id=1).count() == 1


def test_vacuum_removes_old_files_and_guards_time_travel(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "v1", "u", True)]))
    grp.overwrite("store", _df(spark, [(2, "v2", "u", True)]))
    grp.overwrite("store", _df(spark, [(3, "v3", "u", True)]))
    assert grp.read("store", snapshot_id=1).count() == 1
    removed = grp.vacuum(keep_last=1)
    assert len(removed) == 2  # v1 and v2 data dirs gone
    assert _ids(grp.read("store")) == [3]
    with pytest.raises(ValueError, match="vacuumed"):
        grp.read("store", snapshot_id=1)


def test_vacuum_keep_last_below_one_refuses_before_deleting(spark, tmp_path):
    """keep_last=0 retains no snapshot, so it would delete the head's
    data and leave no horizon to record: vacuum refuses it before it
    touches a file, and the head stays readable."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "v1", "u", True)]))
    grp.append("store", _df(spark, [(2, "v2", "u", True)]))
    dirs = sorted(os.listdir(os.path.join(str(tmp_path), "store", "data")))
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            grp.vacuum(keep_last=keep_last, orphan_retention_s=0)
    assert sorted(os.listdir(os.path.join(str(tmp_path), "store", "data"))) == dirs
    assert _ids(grp.read("store")) == [1, 2]
    assert grp.read("store", snapshot_id=1).count() == 1


def test_append_schema_mismatch_fails_loud(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    bad = spark.createDataFrame([(2, 99)], "id_store long, store_name long")
    with pytest.raises(ValueError, match="schema mismatch"):
        grp.append("store", bad)
    assert grp.current_snapshot() == 1


def test_commit_manifest_is_json_and_claim_is_exclusive(spark, tmp_path):
    """Protocol-level pin: manifests are plain JSON (debuggable with
    cat) listing each table's action, data dirs and schema, and
    claiming an already-taken snapshot id loses cleanly."""
    grp = TableGroup(spark, str(tmp_path), writer_id="w")
    grp.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    path = os.path.join(str(tmp_path), "_txlog", f"{1:020d}.json")
    with open(path) as f:
        rec = json.load(f)
    entry = rec["tables"]["store"]
    assert rec["snapshot_id"] == 1 and rec["writer_id"] == "w"
    assert set(entry) == {"action", "dirs", "schema"}
    assert entry["action"] == "overwrite" and len(entry["dirs"]) == 1
    assert not grp._log.claim({"snapshot_id": 1}, 1)  # loser


def test_append_once_is_exactly_once(spark, tmp_path):
    """The Delta txnAppId/txnVersion pattern: a foreachBatch replay of
    an already-committed (app_id, batch_id) transaction commits
    nothing — the dedup check rides the commit manifest, atomically
    with the data."""
    grp = TableGroup(spark, str(tmp_path), writer_id="sink")
    assert _append_once(grp, _df(spark, [(1, "b0", "u", True)]), "job-7", 0)
    assert _append_once(grp, _df(spark, [(2, "b1", "u", True)]), "job-7", 1)
    # replay of batch 1 (crash between write and checkpoint): no-op
    assert not _append_once(grp, _df(spark, [(2, "b1", "u", True)]), "job-7", 1)
    # a DIFFERENT app's batch 1 is its own txn
    assert _append_once(grp, _df(spark, [(3, "x", "u", True)]), "job-8", 1)
    assert grp.read("store").count() == 3
    assert grp._log.committed_txns() == {
        ("job-7", 0), ("job-7", 1), ("job-8", 1)}
    assert grp.committed(("job-7", 1)) and not grp.committed(None)


def test_one_table_commit_runs_one_spark_job(spark, tmp_path):
    """A commit's only Spark job is the data write: the manifest lists
    directories, so nothing is read back."""
    sc = spark.sparkContext
    grp = TableGroup(spark, str(tmp_path))
    df = _df(spark, [(1, "a", "u", True), (2, "b", "u", True)])
    group = "one-table-commit"
    sc.setJobGroup(group, "append")
    try:
        grp.append("store", df)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert grp.read("store").count() == 2


def test_engine_under_glob_metachar_root(spark, tmp_path):
    """Every path the log engine hands to a Spark reader is escaped:
    a group rooted under 'run[2026]' appends, reads, time-travels and
    serves the change feed."""
    grp = TableGroup(spark, str(tmp_path / "run[2026]"))
    grp.append("store", _df(spark, [(1, "a", "u", True)]))
    grp.append("store", _df(spark, [(200, "b", "u", True)]))
    assert grp.read("store").count() == 2
    assert grp.read("store", snapshot_id=1).count() == 1
    assert _ids(grp.changes("store", after=1)) == [200]


def test_append_once_parses_each_manifest_once(spark, tmp_path,
                                               monkeypatch):
    """The exactly-once check reads every manifest's txn, but a
    claimed manifest is never rewritten: one log instance parses each
    at most once, so N keyed commits cost O(N) parses, not O(N²)."""
    parses = []
    real_load = json.load

    def counting_load(f, *a, **kw):
        parses.append(getattr(f, "name", None))
        return real_load(f, *a, **kw)

    monkeypatch.setattr(snapshot_store.json, "load", counting_load)
    grp = TableGroup(spark, str(tmp_path))
    df = _df(spark, [(1, "a", "u", True)])
    for batch_id in range(20):
        assert _append_once(grp, df, "app", batch_id)
    assert not _append_once(grp, df, "app", 3)  # replay: no-op
    assert len(parses) <= 20
    assert grp.read("store").count() == 20


def test_changes_feed_and_overwrite_guard(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    grp.append("store", _df(spark, [(1, "a", "u", True)]))
    grp.append("store", _df(spark, [(2, "b", "u", True)]))
    grp.append("other", spark.createDataFrame([(7,)], "k long"))
    grp.append("store", _df(spark, [(3, "c", "u", True)]))
    feed = grp.changes("store", after=1).collect()
    got = sorted((r["id_store"], r["_snapshot_id"]) for r in feed)
    # snapshot 3 touched another table: no rows of its own here
    assert got == [(2, 2), (3, 4)]
    # bounded range
    assert _ids(grp.changes("store", 1, 2)) == [2]
    # empty range: typed empty with the cursor column
    empty = grp.changes("store", after=4)
    assert empty.count() == 0 and "_snapshot_id" in empty.columns
    # an overwrite in range has no append-grain delta
    grp.overwrite("store", _df(spark, [(9, "z", "u", True)]))
    with pytest.raises(ValueError, match="no append-grain delta"):
        grp.changes("store", after=1)


@pytest.mark.slow
def test_streaming_foreachbatch_sink_exactly_once(spark, tmp_path):
    """End-to-end: a file-stream source through the foreachBatch table
    sink — every micro-batch is one atomic commit with its key (the
    query's id, the batch id) in the manifest, and a crash-replay of a
    committed batch (foreachBatch's at-least-once window) is a no-op."""
    import time as _t

    from pythondataingestionprocess_spark.streaming.table_sink import (
        run_stream_to_table,
        table_sink_batch_fn,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i in range(3):
        _df(spark, [(i, f"row{i}", "u", True)]).coalesce(1).write.mode(
            "append").parquet(str(inbox))
        _t.sleep(1.1)  # distinct mtimes → deterministic batch order
    grp = TableGroup(spark, str(tmp_path / "tables"))
    stream = spark.readStream.schema(_STORE).option(
        "maxFilesPerTrigger", 1).parquet(str(inbox))
    q = run_stream_to_table(stream, grp, "store", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _ids(grp.read("store")) == [0, 1, 2]
    txns = grp._log.committed_txns()
    assert {a for a, _ in txns} == {f"table_sink_batch_fn:{q.id}"} and len(txns) >= 1
    n_commits = grp.current_snapshot()

    # simulate the crash-replay window: re-invoke the batch function
    # under the same query id with an already-committed batch id —
    # must not duplicate
    fn = table_sink_batch_fn(grp, "store")
    replay_bid = max(b for _, b in txns)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id)
    try:
        fn(_df(spark, [(99, "dup", "u", True)]), replay_bid)
    finally:
        spark.sparkContext.setLocalProperty("sql.streaming.queryId", None)
    assert grp.current_snapshot() == n_commits
    assert _ids(grp.read("store")) == [0, 1, 2]


def test_two_queries_feed_one_table_sink_exactly_once(spark, tmp_path):
    """The table sink keys each batch by its streaming query: two
    queries with separate checkpoints both start at batch 0 and feed
    one table, a restart from a checkpoint continues under that
    query's key, and the replay of a committed batch (the checkpoint
    lost its commit) adds nothing. Every row lands once."""
    from pythondataingestionprocess_spark.streaming.table_sink import (
        run_stream_to_table,
    )

    grp = TableGroup(spark, str(tmp_path / "tables"))

    def run(name: str, rows=()):
        inbox, ckpt = tmp_path / name / "inbox", str(tmp_path / name / "ckpt")
        if rows:
            _df(spark, rows).coalesce(1).write.mode("append").parquet(str(inbox))
        stream = spark.readStream.schema(_STORE).parquet(str(inbox))
        q = run_stream_to_table(stream, grp, "store", ckpt)
        q.awaitTermination(120)
        return q, ckpt

    qa, ckpt_a = run("a", [(1, "a1", "u", True), (2, "a2", "u", True)])
    qb, _ = run("b", [(11, "b1", "u", True)])
    run("a", [(3, "a3", "u", True)])  # restart of query a: its batch 1
    for name in ("1", ".1.crc"):  # a's batch 1 committed, its checkpoint did not
        os.remove(os.path.join(ckpt_a, "commits", name))
    replay, _ = run("a")
    assert [p["batchId"] for p in replay.recentProgress] == [1]

    assert _ids(grp.read("store")) == [1, 2, 3, 11]
    assert grp._log.committed_txns() == {
        (f"table_sink_batch_fn:{qa.id}", 0),
        (f"table_sink_batch_fn:{qb.id}", 0),
        (f"table_sink_batch_fn:{qa.id}", 1),
    }
    assert grp.current_snapshot() == 3


def test_vacuum_checkpoint_bounds_log_replay(spark, tmp_path):
    """vacuum materializes the live state at the horizon; replay
    starts there (bounded by vacuum cadence), and reads before/after
    more commits stay exactly equal to the unchunked replay."""
    grp = TableGroup(spark, str(tmp_path))
    for i in range(6):
        grp.append("store", _df(spark, [(i, f"r{i}", "u", True)]))
    grp.overwrite("store", _df(spark, [(100, "base", "u", True)]))
    grp.append("store", _df(spark, [(101, "post", "u", True)]))
    grp.vacuum(keep_last=2)  # horizon at snapshot 7
    ck = grp._log.checkpoint()
    assert ck is not None and ck["as_of"] == 7
    assert _ids(grp.read("store")) == [100, 101]
    # commits after the checkpoint replay on top of it
    grp.append("store", _df(spark, [(102, "later", "u", True)]))
    assert _ids(grp.read("store")) == [100, 101, 102]
    # time travel to the checkpointed snapshot itself still works
    assert _ids(grp.read("store", snapshot_id=7)) == [100]
    # a second vacuum advances the checkpoint
    grp.vacuum(keep_last=1)
    assert grp._log.checkpoint()["as_of"] == 9
    assert grp.read("store").count() == 3


def test_claim_primitive_under_real_process_contention(tmp_path):
    """The os.link claim under TRUE concurrency: 8 OS processes race
    to claim 60 snapshot ids; every id must be claimed EXACTLY once
    across all processes (the monkeypatched race tests cover protocol
    logic; this pins the atomicity primitive itself)."""
    import json as _json
    import multiprocessing as mp
    import os as _os
    import uuid as _uuid

    txdir = str(tmp_path / "_txlog")
    _os.makedirs(txdir)

    def hammer(worker: int, wins):
        got = []
        for sid in range(1, 61):
            tmp = _os.path.join(txdir, f".{_uuid.uuid4().hex}.tmp")
            final = _os.path.join(txdir, f"{sid:020d}.json")
            with open(tmp, "w") as f:
                _json.dump({"sid": sid, "worker": worker}, f)
            try:
                _os.link(tmp, final)
                got.append(sid)
            except FileExistsError:
                pass
            finally:
                _os.unlink(tmp)
        wins.extend(got)

    ctx = mp.get_context("fork")
    mgr = ctx.Manager()
    wins = mgr.list()
    procs = [ctx.Process(target=hammer, args=(w, wins)) for w in range(8)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    claimed = sorted(wins)
    assert claimed == list(range(1, 61))  # every id exactly once
    # and every committed manifest is fully-written valid JSON
    for sid in range(1, 61):
        with open(_os.path.join(txdir, f"{sid:020d}.json")) as f:
            rec = _json.load(f)
        assert rec["sid"] == sid


@pytest.mark.slow
def test_randomized_model_walk(spark, tmp_path):
    """Seeded 60-op random walk (append / overwrite / upsert / delete /
    vacuum / time-travel read) against a plain-dict model — every read
    at every step must equal the model exactly."""
    import random

    rng = random.Random(1517)
    grp = TableGroup(spark, str(tmp_path))
    model: dict[int, str] = {}
    snapshots: dict[int, dict[int, str]] = {}
    vacuum_floor = 0

    def frame(items):
        return _df(spark, [(k, v, "u", True) for k, v in items])

    def check():
        got = {r["id_store"]: r["store_name"]
               for r in grp.read("store").collect()}
        assert got == model, (got, model)

    for step in range(60):
        op = rng.choice(["append", "overwrite", "upsert", "delete",
                         "vacuum", "time_travel"])
        if op == "append" and model is not None:
            k = max(model, default=0) + 1 + rng.randrange(3)
            if k in model:
                continue
            grp.append("store", frame([(k, f"a{step}")]))
            model[k] = f"a{step}"
            snapshots[grp.current_snapshot()] = dict(model)
        elif op == "overwrite":
            new = {rng.randrange(50): f"o{step}"}
            grp.read("store")
            grp.overwrite("store", frame(sorted(new.items())))
            model = dict(new)
            snapshots[grp.current_snapshot()] = dict(model)
        elif op == "upsert" and grp.current_snapshot():
            k = rng.randrange(50)
            with grp.transaction() as t:
                t.upsert("store", frame([(k, f"u{step}")]), keys=["id_store"])
            model[k] = f"u{step}"
            snapshots[grp.current_snapshot()] = dict(model)
        elif op == "delete" and model:
            k = rng.choice(sorted(model))
            with grp.transaction() as t:
                t.overwrite("store", t.read("store").filter(f"id_store != {k}"))
            model.pop(k)
            snapshots[grp.current_snapshot()] = dict(model)
        elif op == "vacuum" and grp.current_snapshot():
            grp.vacuum(keep_last=2)
            vacuum_floor = max(0, (grp.current_snapshot() or 0) - 1)
        elif op == "time_travel" and snapshots:
            sid = rng.choice(sorted(snapshots))
            if sid < vacuum_floor:
                continue
            got = {r["id_store"]: r["store_name"]
                   for r in grp.read("store", snapshot_id=sid).collect()}
            assert got == snapshots[sid], (sid, got, snapshots[sid])
        if grp.current_snapshot():
            check()


def test_schema_evolution_additive_append(spark, tmp_path):
    """merge_schema=True widens the table: a batch carrying a NEW
    column evolves the recorded schema (older files read NULL there),
    a batch OMITTING a column is NULL-filled, and a type change on a
    shared column always fails loud. Time travel keeps each
    snapshot's own schema vintage."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    wide = spark.createDataFrame(
        [(2, "b", "u", False, 42)], f"{_STORE}, region_id long")
    # without the flag: loud mismatch
    with pytest.raises(ValueError, match="merge_schema=True to evolve"):
        grp.append("store", wide)
    grp.append("store", wide, merge_schema=True)
    got = {r["id_store"]: r["region_id"] for r in grp.read("store").collect()}
    assert got == {1: None, 2: 42}  # old file NULL-fills the new col
    # a narrow batch (omits region_id AND store_url) appends fine
    narrow = spark.createDataFrame(
        [(3, "c", True)], "id_store long, store_name string, status boolean")
    grp.append("store", narrow, merge_schema=True)
    rows = {r["id_store"]: (r["store_url"], r["region_id"])
            for r in grp.read("store").collect()}
    assert rows[3] == (None, None) and rows[2] == ("u", 42)
    assert len(grp.read("store").columns) == 5
    # time travel: snapshot 1 predates the evolution — 4 columns
    assert len(grp.read("store", snapshot_id=1).columns) == 4
    # type change on a shared column: always an error
    bad = spark.createDataFrame([(4, 9)], "id_store long, store_name long")
    with pytest.raises(ValueError, match="cannot change column types"):
        grp.append("store", bad, merge_schema=True)
    # MERGE paths still work on the evolved table
    with grp.transaction() as t:
        t.upsert("store", grp.read("store").limit(1), keys=["id_store"])
    assert grp.read("store").count() == 3


@pytest.mark.slow
def test_full_lakehouse_lifecycle_composes(spark, tmp_path):
    """The pieces composed end-to-end: file stream → exactly-once
    foreachBatch sink → incremental change-feed consumer → a MERGE as
    a committed action → vacuum with checkpoint → time-travel audit
    across all of it."""
    import time as _t

    from pythondataingestionprocess_spark.streaming.table_sink import (
        run_stream_to_table,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i in range(3):
        _df(spark, [(i, f"row{i}", "u", True)]).coalesce(1).write.mode(
            "append").parquet(str(inbox))
        _t.sleep(1.1)
    grp = TableGroup(spark, str(tmp_path / "tables"))
    q = run_stream_to_table(
        spark.readStream.schema(_STORE).option("maxFilesPerTrigger", 1)
        .parquet(str(inbox)),
        grp, "store", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert grp.current_snapshot() == 3

    # incremental consumer: tail the change feed from cursor 0,
    # advance the cursor, see nothing new on the second poll
    feed = grp.changes("store", after=0)
    assert feed.count() == 3
    cursor = max(r["_snapshot_id"] for r in feed.collect())
    assert grp.changes("store", after=cursor).count() == 0

    # a MERGE is a conflict-checked committed action
    with grp.transaction() as t:
        t.upsert("store", _df(spark, [(0, "edited", "u", False)]),
                 keys=["id_store"])
    got = {r["id_store"]: r["store_name"] for r in grp.read("store").collect()}
    assert got[0] == "edited" and len(got) == 3

    # vacuum: checkpoint written, pre-horizon time travel fails loud,
    # post-horizon time travel still serves the pre-merge state
    grp.vacuum(keep_last=2)
    assert grp._log.checkpoint() is not None
    with pytest.raises(ValueError, match="vacuumed"):
        grp.read("store", snapshot_id=1)
    pre_merge = grp.current_snapshot() - 1
    audit = {r["id_store"]: r["store_name"]
             for r in grp.read("store", snapshot_id=pre_merge).collect()}
    assert audit[0] == "row0"  # the pre-edit value, via time travel
    # and the full history of all of it is queryable
    actions = [r["action"] for r in grp.history().collect()]
    assert actions == ["append"] * 3 + ["overwrite"]


# --- schema discipline and read-pin regressions ---------------------------


def test_append_once_validates_schema_against_head(spark, tmp_path):
    """A divergent batch in a keyed transaction must fail loud, not
    record its own schema as the table's read schema (which NULL-ed
    existing columns for every reader)."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    bad = spark.createDataFrame([(2, 99)], "id_store long, rogue long")
    with pytest.raises(ValueError, match="schema mismatch"):
        _append_once(grp, bad, "app", 0)
    got = grp.read("store")
    assert got.columns == ["id_store", "store_name", "store_url", "status"]
    assert [r["store_name"] for r in got.collect()] == ["a"]
    # merge_schema parity with append: additive evolution allowed
    extra = spark.createDataFrame([(2, "b", "u2", True, "mx")],
                                  f"{_STORE}, region string")
    assert _append_once(grp, extra, "app", 1, merge_schema=True)
    got = grp.read("store")
    assert "region" in got.columns
    assert {r["id_store"]: r["region"] for r in got.collect()} == {
        1: None, 2: "mx"}
    # replay of the same batch id is still a no-op
    assert not _append_once(grp, extra, "app", 1, merge_schema=True)


def test_change_feed_crosses_schema_evolution_boundary(spark, tmp_path):
    """changes() over a range straddling an additive
    merge_schema append must NULL-fill the older vintage, not raise."""
    grp = TableGroup(spark, str(tmp_path))
    grp.append("store", _df(spark, [(1, "a", "u", True)]))
    wide = spark.createDataFrame([(2, "b", "u2", True, "mx")],
                                 f"{_STORE}, region string")
    grp.append("store", wide, merge_schema=True)
    feed = grp.changes("store", after=0)
    assert "region" in feed.columns
    rows = {r["id_store"]: (r["region"], r["_snapshot_id"])
            for r in feed.collect()}
    assert rows == {1: (None, 1), 2: ("mx", 2)}


def test_append_without_read_pin_keeps_blind_overwrite_contract(spark, tmp_path):
    """Companion to the pin-staling rule: an instance that never READ
    the table (no pin) appends and then blind-overwrites — the
    documented blind-overwrite contract (no validation without a
    read) must still hold."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    a.overwrite("store", _df(spark, [(1, "x", "u", True)]))
    a2 = TableGroup(spark, str(tmp_path), writer_id="a2")
    a2.append("store", _df(spark, [(2, "y", "u", True)]))
    a2.overwrite("store", _df(spark, [(9, "z", "u", True)]))
    assert _ids(a2.read("store")) == [9]


def test_face_reinvocation_keeps_prior_lazy_frame_valid(spark):
    """The transaction-layer faces build scratch stores under /tmp; a
    second same-process invocation must not rmtree the FIRST
    invocation's store, which would silently rebind (or break) the
    first call's still-lazy DataFrame. Roots are keyed by an
    invocation counter: collect the first frame AFTER the
    second invocation ran and both must agree."""
    from pythondataingestionprocess_spark.plans.warehouse import (
        snapshot_change_feed,
    )

    sf_dir = "/root/testdata/sf0.001"
    first = snapshot_change_feed(spark, sf_dir)
    second = snapshot_change_feed(spark, sf_dir)
    rows_second = sorted(map(tuple, second.collect()))
    rows_first = sorted(map(tuple, first.collect()))  # collected LAST
    assert rows_first == rows_second
    assert len(rows_first) > 0
