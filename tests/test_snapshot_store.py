"""SnapshotTableStore: the from-scratch snapshot-log commit protocol
(the reference's transactional upsert surface,
database_utils.py:70-79,266-280, without Delta jars).

Pinned here: atomic commit claims (exactly one winner), crash-mid-
commit invisibility (orphan data files and torn manifests never reach
readers), concurrent-writer detection (stale read-modify-write fails
loud; blind appends rebase), time travel by snapshot id, the queryable
history, vacuum with a loud time-travel horizon, manifest-served file
skipping, and — the headline — the inherited MERGE/SCD paths running
UNCHANGED on top with snapshot isolation."""

from __future__ import annotations

import json
import os

import pytest

from pythondataingestionprocess_spark.pipeline import snapshot_store
from pythondataingestionprocess_spark.pipeline.snapshot_store import (
    ConcurrentWriteError,
    SnapshotTableStore,
)
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id_store long, store_name string, store_url string, "
        "status boolean"
    )


def test_commit_read_roundtrip_and_history(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path), writer_id="w1")
    st.overwrite("store", _df(spark, [(1, "a", "u1", True)]))
    st.append("store", _df(spark, [(2, "b", "u2", False)]))
    got = {r["id_store"]: r["store_name"] for r in st.read("store").collect()}
    assert got == {1: "a", 2: "b"}
    h = {r["snapshot_id"]: (r["action"], r["writer_id"], r["n_rows_added"])
         for r in st.history("store").collect()}
    assert h == {1: ("overwrite", "w1", 1), 2: ("append", "w1", 1)}


def test_time_travel_by_snapshot_id(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "v1", "u", True)]))
    st.append("store", _df(spark, [(2, "v1", "u", True)]))
    st.overwrite("store", _df(spark, [(9, "v3", "u", True)]))
    assert st.read("store", snapshot_id=1).count() == 1
    assert st.read("store", snapshot_id=2).count() == 2
    assert [r["id_store"] for r in st.read("store", snapshot_id=3).collect()] == [9]
    # reading the current view again is snapshot 3
    assert st.read("store").count() == 1
    with pytest.raises(ValueError, match="does not exist"):
        st.read("store", snapshot_id=7)


def test_crash_mid_commit_is_invisible(spark, tmp_path):
    """A writer that died after writing data files but before the
    claim leaves NO visible change; a torn temp manifest in _txlog is
    ignored by the log reader."""
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    # simulate the crash: data directory written, no commit claimed
    orphan, files = st._log("store").write_data(
        "store", _df(spark, [(99, "ghost", "u", True)]))
    assert orphan is not None and files
    # and a torn manifest temp file
    torn = os.path.join(st._log("store").txdir, ".deadbeef.tmp")
    with open(torn, "w") as f:
        f.write('{"snapshot_id": 2, "action": "overw')  # truncated
    assert st.current_snapshot("store") == 1
    assert [r["id_store"] for r in st.read("store").collect()] == [1]
    # the next real commit proceeds normally at snapshot 2
    st.append("store", _df(spark, [(2, "b", "u", True)]))
    assert st.read("store").count() == 2
    # a default vacuum SPARES the fresh orphan — it is
    # indistinguishable from a commit in flight (data lands before
    # the claim)
    assert orphan not in st.vacuum("store", keep_last=2)
    assert os.path.isdir(orphan)
    # with exclusive access declared (retention 0) it is swept
    removed = st.vacuum("store", keep_last=2, orphan_retention_s=0)
    assert orphan in removed
    assert st.read("store").count() == 2


def test_concurrent_overwrite_is_detected_not_silent(spark, tmp_path):
    """Two writers read snapshot 1; A commits first; B's overwrite —
    derived from stale data — must raise, and succeed after re-read."""
    a = SnapshotTableStore(spark, str(tmp_path), writer_id="A")
    b = SnapshotTableStore(spark, str(tmp_path), writer_id="B")
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
    writers = [r["writer_id"] for r in a.history("store").collect()]
    assert writers == ["A", "A", "B"]


def test_concurrent_append_rebases_automatically(spark, tmp_path, monkeypatch):
    """Blind appends commute: when B loses the claim race it rebases
    onto the new head instead of failing. Simulated by injecting A's
    commit between B's data write and B's claim."""
    a = SnapshotTableStore(spark, str(tmp_path), writer_id="A")
    b = SnapshotTableStore(spark, str(tmp_path), writer_id="B")
    a.overwrite("store", _df(spark, [(1, "base", "u", True)]))

    real_claim = b._log("store").claim
    state = {"injected": False}

    def racing_claim(record, next_id):
        if not state["injected"]:
            state["injected"] = True
            a.append("store", _df(spark, [(2, "from-A", "u", True)]))
        return real_claim(record, next_id)

    monkeypatch.setattr(b._log("store"), "claim", racing_claim)
    b.append("store", _df(spark, [(3, "from-B", "u", True)]))
    got = sorted(r["id_store"] for r in a.read("store").collect())
    assert got == [1, 2, 3]
    assert a.current_snapshot("store") == 3


def test_inherited_merge_paths_gain_snapshot_isolation(spark, tmp_path):
    """upsert/insert_if_absent/delete_keys run UNCHANGED on top of the
    log (read → derive → overwrite commit), and a concurrent commit
    between a MERGE's read and its overwrite is detected."""
    st = SnapshotTableStore(spark, str(tmp_path), writer_id="M")
    st.overwrite("store", _df(spark, [(1, "a", "u1", True),
                                      (2, "b", "u2", True)]))
    st.upsert("store", _df(spark, [(2, "B2", "u2x", False),
                                   (3, "c", "u3", True)]), keys=["id_store"])
    got = {r["id_store"]: r["store_name"] for r in st.read("store").collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    st.insert_if_absent("store", _df(spark, [(1, "SHOULD-NOT-WIN", "x", False),
                                             (4, "d", "u4", True)]),
                        keys=["id_store"])
    got = {r["id_store"]: r["store_name"] for r in st.read("store").collect()}
    assert got[1] == "a" and got[4] == "d"
    n = st.delete_keys("store", spark.createDataFrame([(3,)], "id_store long"),
                       keys=["id_store"])
    assert n == 1 and st.read("store").count() == 3
    # every MERGE above is one commit; history is the audit trail
    assert st.current_snapshot("store") == 4

    # stale MERGE detection: another writer lands between read and write
    other = SnapshotTableStore(spark, str(tmp_path), writer_id="X")
    base = st.read("store")  # pins snapshot 4 in st
    other.overwrite("store", _df(spark, [(7, "interloper", "u", True)]))
    merged = base  # whatever st derived from snapshot 4 is now stale
    with pytest.raises(ConcurrentWriteError):
        st.overwrite("store", merged)


def test_delete_to_empty_and_empty_reads(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    # never-committed table: typed empty
    assert st.read("store").count() == 0
    st.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    st.delete_keys("store", spark.createDataFrame([(1,)], "id_store long"),
                   keys=["id_store"])
    empty = st.read("store")
    assert empty.count() == 0
    assert "id_store" in empty.columns  # schema survives the empty commit


def test_vacuum_removes_old_files_and_guards_time_travel(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "v1", "u", True)]))
    st.overwrite("store", _df(spark, [(2, "v2", "u", True)]))
    st.overwrite("store", _df(spark, [(3, "v3", "u", True)]))
    assert st.read("store", snapshot_id=1).count() == 1
    removed = st.vacuum("store", keep_last=1)
    assert len(removed) == 2  # v1 and v2 data dirs gone
    assert [r["id_store"] for r in st.read("store").collect()] == [3]
    with pytest.raises(ValueError, match="vacuumed"):
        st.read("store", snapshot_id=1)


def test_append_schema_mismatch_fails_loud(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    bad = spark.createDataFrame([(2, 99)], "id_store long, store_name long")
    with pytest.raises(ValueError, match="schema mismatch"):
        st.append("store", bad)
    # hive partitioning is explicitly not this store's layout
    with pytest.raises(ValueError, match="does not hive-partition"):
        st.append("store", _df(spark, [(2, "b", "u", True)]),
                  partition_by=["status"])


@pytest.mark.slow
def test_skippable_files_from_manifest_stats(spark, tmp_path):
    """The commit manifest's per-file min/max serve file skipping with
    no storage listing — each single-file append outside the probe
    range is prunable from the log alone."""
    st = SnapshotTableStore(spark, str(tmp_path),
                            stats_cols={"store": ["id_store"]})
    st.overwrite("store", _df(spark, [(i, "x", "u", True)
                                      for i in range(0, 10)]))
    st.append("store", _df(spark, [(i, "y", "u", True)
                                   for i in range(100, 110)]).coalesce(1))
    st.append("store", _df(spark, [(i, "z", "u", True)
                                   for i in range(200, 210)]).coalesce(1))
    skip = st.skippable_files("store", "id_store", 100, 150)
    # every file of the 0-9 and 200-209 commits is skippable; none of
    # the 100-109 commit's files are
    assert skip, "stats must prune something"
    sids = st.snapshot_ids("store")
    c2 = st._log("store").load(sids[1])["tables"]["store"]
    for entry in c2["files"]:
        assert entry["path"] not in skip
    c3 = st._log("store").load(sids[2])["tables"]["store"]
    for entry in c3["files"]:
        assert entry["path"] in skip
    # stats rode the manifest, with real bounds
    assert c3["files"][0]["stats"]["id_store"] == ["200", "209"]


def test_commit_manifest_is_json_and_claim_is_exclusive(spark, tmp_path):
    """Protocol-level pin: manifests are plain JSON (debuggable with
    cat), and claiming an already-taken snapshot id loses cleanly."""
    st = SnapshotTableStore(spark, str(tmp_path), writer_id="w")
    st.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    path = os.path.join(st._log("store").txdir, f"{1:020d}.json")
    with open(path) as f:
        rec = json.load(f)
    entry = rec["tables"]["store"]
    assert entry["action"] == "overwrite" and rec["snapshot_id"] == 1
    assert entry["files"][0]["n_rows"] == 1
    assert not st._log("store").claim({"snapshot_id": 1}, 1)  # loser


def test_append_once_is_exactly_once(spark, tmp_path):
    """The Delta txnAppId/txnVersion pattern: a foreachBatch replay of
    an already-committed (app_id, batch_id) must be a no-op — the
    dedup check rides the commit manifest, atomically with the data."""
    st = SnapshotTableStore(spark, str(tmp_path), writer_id="sink")
    assert st.append_once("store", _df(spark, [(1, "b0", "u", True)]),
                          "job-7", 0) is True
    assert st.append_once("store", _df(spark, [(2, "b1", "u", True)]),
                          "job-7", 1) is True
    # replay of batch 1 (crash between write and checkpoint): no-op
    assert st.append_once("store", _df(spark, [(2, "b1", "u", True)]),
                          "job-7", 1) is False
    # a DIFFERENT app's batch 1 is its own txn
    assert st.append_once("store", _df(spark, [(3, "x", "u", True)]),
                          "job-8", 1) is True
    assert st.read("store").count() == 3
    assert st.committed_txns("store") == {
        ("job-7", 0), ("job-7", 1), ("job-8", 1)}


def test_one_table_commit_runs_one_spark_job(spark, tmp_path):
    """A commit's only Spark job is the data write: row counts come
    from the parquet footers, and without stats_cols nothing is read
    back. The manifest still records each file's rows."""
    sc = spark.sparkContext
    st = SnapshotTableStore(spark, str(tmp_path))
    df = _df(spark, [(1, "a", "u", True), (2, "b", "u", True)])
    group = "one-table-commit"
    sc.setJobGroup(group, "append")
    try:
        st.append("store", df)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    [h] = st.history("store").collect()
    assert h["n_rows_added"] == 2


def test_engine_under_glob_metachar_root(spark, tmp_path):
    """Every path the log engine hands to a Spark reader is escaped:
    a store and a group rooted under 'run[2026]' append, read,
    time-travel, serve the change feed and plan ranged reads."""
    root = tmp_path / "run[2026]"
    st = SnapshotTableStore(spark, str(root / "store"),
                            stats_cols={"store": ["id_store"]})
    st.append("store", _df(spark, [(1, "a", "u", True)]))
    st.append("store", _df(spark, [(200, "b", "u", True)]))
    assert st.read("store").count() == 2
    assert st.read("store", snapshot_id=1).count() == 1
    assert st.changes("store", after=1).count() == 1
    assert [r["id_store"] for r in
            st.read_range("store", "id_store", 0, 5).collect()] == [1]

    grp = TableGroup(spark, str(root / "group"))
    grp.append("t", _df(spark, [(1, "a", "u", True)]))
    grp.append("t", _df(spark, [(2, "b", "u", True)]))
    assert grp.read("t").count() == 2
    assert grp.read("t", snapshot_id=1).count() == 1


def test_append_once_parses_each_manifest_once(spark, tmp_path,
                                               monkeypatch):
    """The exactly-once check reads every manifest's txn, but a
    claimed manifest is never rewritten: one log instance parses each
    at most once, so N append_once calls cost O(N) parses, not O(N²)."""
    parses = []
    real_load = json.load

    def counting_load(f, *a, **kw):
        parses.append(getattr(f, "name", None))
        return real_load(f, *a, **kw)

    monkeypatch.setattr(snapshot_store.json, "load", counting_load)
    st = SnapshotTableStore(spark, str(tmp_path))
    df = _df(spark, [(1, "a", "u", True)])
    for batch_id in range(20):
        assert st.append_once("store", df, "app", batch_id)
    assert not st.append_once("store", df, "app", 3)  # replay: no-op
    assert len(parses) <= 20
    assert st.read("store").count() == 20


def test_changes_feed_and_overwrite_guard(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    st.append("store", _df(spark, [(1, "a", "u", True)]))
    st.append("store", _df(spark, [(2, "b", "u", True)]))
    st.append("store", _df(spark, [(3, "c", "u", True)]))
    feed = st.changes("store", after=1).collect()
    got = sorted((r["id_store"], r["_snapshot_id"]) for r in feed)
    assert got == [(2, 2), (3, 3)]
    # bounded range
    assert [r["id_store"] for r in st.changes("store", 1, 2).collect()] == [2]
    # empty range: typed empty with the cursor column
    empty = st.changes("store", after=3)
    assert empty.count() == 0 and "_snapshot_id" in empty.columns
    # an overwrite in range has no append-grain delta
    st.overwrite("store", _df(spark, [(9, "z", "u", True)]))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="diff_snapshots"):
        st.changes("store", after=1)


def test_diff_snapshots_across_overwrites(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "a", "u", True),
                                      (2, "b", "u", True)]))
    st.upsert("store", _df(spark, [(2, "B", "u", True),
                                   (3, "c", "u", True)]), keys=["id_store"])
    d = st.diff_snapshots("store", 1, 2)
    got = sorted((r["id_store"], r["store_name"], r["_change_type"])
                 for r in d.collect())
    assert got == [(2, "B", "insert"), (2, "b", "delete"), (3, "c", "insert")]


def test_optimize_compacts_without_changing_rows(spark, tmp_path):
    st = SnapshotTableStore(spark, str(tmp_path))
    for i in range(5):
        st.append("store", _df(spark, [(i, f"r{i}", "u", True)]))
    before = sorted(r["id_store"] for r in st.read("store").collect())
    n_dirs_before = len(
        st._log("store").state(st.current_snapshot("store"))["store"]["dirs"])
    assert n_dirs_before == 5
    sid = st.optimize("store")
    assert sid == 6
    assert len(st._log("store").state(sid)["store"]["dirs"]) == 1
    after = sorted(r["id_store"] for r in st.read("store").collect())
    assert after == before
    # pre-compaction snapshots still time-travel
    assert st.read("store", snapshot_id=3).count() == 3
    # vacuum then drops the 5 small dirs
    removed = st.vacuum("store", keep_last=1)
    assert len(removed) == 5
    assert sorted(r["id_store"] for r in st.read("store").collect()) == before


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
    st = SnapshotTableStore(spark, str(tmp_path / "tables"))
    stream = spark.readStream.schema(
        "id_store long, store_name string, store_url string, status boolean"
    ).option("maxFilesPerTrigger", 1).parquet(str(inbox))
    q = run_stream_to_table(stream, st, "store", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = sorted(r["id_store"] for r in st.read("store").collect())
    assert got == [0, 1, 2]
    txns = st.committed_txns("store")
    assert {a for a, _ in txns} == {f"table_sink_batch_fn:{q.id}"} and len(txns) >= 1
    n_commits = st.current_snapshot("store")

    # simulate the crash-replay window: re-invoke the batch function
    # under the same query id with an already-committed batch id —
    # must not duplicate
    fn = table_sink_batch_fn(st, "store")
    replay_bid = max(b for _, b in txns)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id)
    try:
        fn(_df(spark, [(99, "dup", "u", True)]), replay_bid)
    finally:
        spark.sparkContext.setLocalProperty("sql.streaming.queryId", None)
    assert st.current_snapshot("store") == n_commits
    assert sorted(r["id_store"] for r in st.read("store").collect()) == [0, 1, 2]


def test_two_queries_feed_one_table_sink_exactly_once(spark, tmp_path):
    """The table sink keys each batch by its streaming query: two
    queries with separate checkpoints both start at batch 0 and feed
    one table, a restart from a checkpoint continues under that
    query's key, and the replay of a committed batch (the checkpoint
    lost its commit) adds nothing. Every row lands once."""
    from pythondataingestionprocess_spark.streaming.table_sink import (
        run_stream_to_table,
    )

    st = SnapshotTableStore(spark, str(tmp_path / "tables"))

    def run(name: str, rows=()):
        inbox, ckpt = tmp_path / name / "inbox", str(tmp_path / name / "ckpt")
        if rows:
            _df(spark, rows).coalesce(1).write.mode("append").parquet(str(inbox))
        stream = spark.readStream.schema(
            "id_store long, store_name string, store_url string, status boolean"
        ).parquet(str(inbox))
        q = run_stream_to_table(stream, st, "store", ckpt)
        q.awaitTermination(120)
        return q, ckpt

    qa, ckpt_a = run("a", [(1, "a1", "u", True), (2, "a2", "u", True)])
    qb, _ = run("b", [(11, "b1", "u", True)])
    run("a", [(3, "a3", "u", True)])  # restart of query a: its batch 1
    for name in ("1", ".1.crc"):  # a's batch 1 committed, its checkpoint did not
        os.remove(os.path.join(ckpt_a, "commits", name))
    replay, _ = run("a")
    assert [p["batchId"] for p in replay.recentProgress] == [1]

    assert sorted(r["id_store"] for r in st.read("store").collect()) == [1, 2, 3, 11]
    assert st.committed_txns("store") == {
        (f"table_sink_batch_fn:{qa.id}", 0),
        (f"table_sink_batch_fn:{qb.id}", 0),
        (f"table_sink_batch_fn:{qa.id}", 1),
    }
    assert st.snapshot_ids("store") == [1, 2, 3]


@pytest.mark.slow
def test_read_range_plans_from_the_log(spark, tmp_path):
    """read_range never hands pruned files to Spark: with three
    single-file commits covering disjoint key ranges, a range probe
    touching one commit scans exactly one file (inputFiles-verified)
    and still row-filters the survivor."""
    st = SnapshotTableStore(spark, str(tmp_path),
                            stats_cols={"store": ["id_store"]})
    for lo in (0, 100, 200):
        st.append("store", _df(spark, [(i, "x", "u", True)
                                       for i in range(lo, lo + 10)]
                               ).coalesce(1))
    probe = st.read_range("store", "id_store", 102, 105)
    assert len(probe.inputFiles()) == 1  # two of three files pruned
    assert sorted(r["id_store"] for r in probe.collect()) == [102, 103, 104, 105]
    # fully-out-of-range probe: typed empty, zero files scanned
    none = st.read_range("store", "id_store", 900, 999)
    assert none.count() == 0 and "id_store" in none.columns
    # no stats recorded → plain filtered read still correct
    st2 = SnapshotTableStore(spark, str(tmp_path / "nostats"))
    st2.append("store", _df(spark, [(1, "a", "u", True)]))
    assert st2.read_range("store", "id_store", 0, 5).count() == 1


def test_vacuum_checkpoint_bounds_log_replay(spark, tmp_path):
    """vacuum materializes the live state at the horizon; replay
    starts there (bounded by vacuum cadence), and reads before/after
    more commits stay exactly equal to the unchunked replay."""
    st = SnapshotTableStore(spark, str(tmp_path))
    for i in range(6):
        st.append("store", _df(spark, [(i, f"r{i}", "u", True)]))
    st.overwrite("store", _df(spark, [(100, "base", "u", True)]))
    st.append("store", _df(spark, [(101, "post", "u", True)]))
    st.vacuum("store", keep_last=2)  # horizon at snapshot 7
    ck = st._log("store").checkpoint()
    assert ck is not None and ck["as_of"] == 7
    assert sorted(r["id_store"] for r in st.read("store").collect()) == [100, 101]
    # commits after the checkpoint replay on top of it
    st.append("store", _df(spark, [(102, "later", "u", True)]))
    assert sorted(r["id_store"] for r in st.read("store").collect()) == [
        100, 101, 102]
    # time travel to the checkpointed snapshot itself still works
    assert [r["id_store"] for r in st.read("store", snapshot_id=7).collect()] == [100]
    # a second vacuum advances the checkpoint
    st.vacuum("store", keep_last=1)
    assert st._log("store").checkpoint()["as_of"] == 9
    assert st.read("store").count() == 3


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
    """Seeded 60-op random walk (append / overwrite / upsert /
    delete_keys / vacuum / time-travel read) against a plain-dict
    model — every read at every step must equal the model exactly."""
    import random

    rng = random.Random(1517)
    st = SnapshotTableStore(spark, str(tmp_path))
    model: dict[int, str] = {}
    snapshots: dict[int, dict[int, str]] = {}
    vacuum_floor = 0

    def frame(items):
        return _df(spark, [(k, v, "u", True) for k, v in items])

    def check():
        got = {r["id_store"]: r["store_name"]
               for r in st.read("store").collect()}
        assert got == model, (got, model)

    for step in range(60):
        op = rng.choice(["append", "overwrite", "upsert", "delete",
                         "vacuum", "time_travel"])
        if op == "append" and model is not None:
            k = max(model, default=0) + 1 + rng.randrange(3)
            if k in model:
                continue
            st.append("store", frame([(k, f"a{step}")]))
            model[k] = f"a{step}"
            snapshots[st.current_snapshot("store")] = dict(model)
        elif op == "overwrite":
            new = {rng.randrange(50): f"o{step}"}
            st.read("store")
            st.overwrite("store", frame(sorted(new.items())))
            model = dict(new)
            snapshots[st.current_snapshot("store")] = dict(model)
        elif op == "upsert" and st.current_snapshot("store"):
            k = rng.randrange(50)
            st.upsert("store", frame([(k, f"u{step}")]), keys=["id_store"])
            model[k] = f"u{step}"
            snapshots[st.current_snapshot("store")] = dict(model)
        elif op == "delete" and model:
            k = rng.choice(sorted(model))
            st.delete_keys(
                "store",
                st.spark.createDataFrame([(k,)], "id_store long"),
                keys=["id_store"])
            model.pop(k)
            snapshots[st.current_snapshot("store")] = dict(model)
        elif op == "vacuum" and st.current_snapshot("store"):
            st.vacuum("store", keep_last=2)
            vacuum_floor = max(
                0, (st.current_snapshot("store") or 0) - 1)
        elif op == "time_travel" and snapshots:
            sid = rng.choice(sorted(snapshots))
            if sid < vacuum_floor:
                continue
            got = {r["id_store"]: r["store_name"]
                   for r in st.read("store", snapshot_id=sid).collect()}
            assert got == snapshots[sid], (sid, got, snapshots[sid])
        if st.current_snapshot("store"):
            check()


def test_schema_evolution_additive_append(spark, tmp_path):
    """merge_schema=True widens the table: a batch carrying a NEW
    column evolves the recorded schema (older files read NULL there),
    a batch OMITTING a column is NULL-filled, and a type change on a
    shared column always fails loud. Time travel keeps each
    snapshot's own schema vintage."""
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    wide = spark.createDataFrame(
        [(2, "b", "u", False, 42)],
        "id_store long, store_name string, store_url string, "
        "status boolean, region_id long",
    )
    # without the flag: loud mismatch
    with pytest.raises(ValueError, match="merge_schema=True to evolve"):
        st.append("store", wide)
    st.append("store", wide, merge_schema=True)
    got = {r["id_store"]: r["region_id"] for r in st.read("store").collect()}
    assert got == {1: None, 2: 42}  # old file NULL-fills the new col
    # a narrow batch (omits region_id AND store_url) appends fine
    narrow = spark.createDataFrame(
        [(3, "c", True)], "id_store long, store_name string, status boolean")
    st.append("store", narrow, merge_schema=True)
    rows = {r["id_store"]: (r["store_url"], r["region_id"])
            for r in st.read("store").collect()}
    assert rows[3] == (None, None) and rows[2] == ("u", 42)
    assert len(st.read("store").columns) == 5
    # time travel: snapshot 1 predates the evolution — 4 columns
    assert len(st.read("store", snapshot_id=1).columns) == 4
    # type change on a shared column: always an error
    bad = spark.createDataFrame([(4, 9)], "id_store long, store_name long")
    with pytest.raises(ValueError, match="cannot change column types"):
        st.append("store", bad, merge_schema=True)
    # MERGE paths still work on the evolved table
    st.upsert("store", st.read("store").limit(1), keys=["id_store"])
    assert st.read("store").count() == 3


@pytest.mark.slow
def test_full_lakehouse_lifecycle_composes(spark, tmp_path):
    """The round's pieces composed end-to-end: file stream →
    exactly-once foreachBatch sink → incremental change-feed consumer
    → OPTIMIZE as a committed action → vacuum with checkpoint →
    time-travel audit across all of it."""
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
    st = SnapshotTableStore(spark, str(tmp_path / "tables"),
                            stats_cols={"store": ["id_store"]})
    q = run_stream_to_table(
        spark.readStream.schema(
            "id_store long, store_name string, store_url string, "
            "status boolean").option("maxFilesPerTrigger", 1)
        .parquet(str(inbox)),
        st, "store", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    ingested_at = st.current_snapshot("store")

    # incremental consumer: tail the change feed from cursor 0,
    # advance the cursor, see nothing new on the second poll
    feed = st.changes("store", after=0)
    assert feed.count() == 3
    cursor = max(r["_snapshot_id"] for r in feed.collect())
    assert st.changes("store", after=cursor).count() == 0

    # compact (a committed action) and verify data + history intact
    st.optimize("store")
    assert st.read("store").count() == 3
    # a post-compaction MERGE still works and is conflict-checked
    st.upsert("store", _df(spark, [(0, "edited", "u", False)]),
              keys=["id_store"])
    got = {r["id_store"]: r["store_name"] for r in st.read("store").collect()}
    assert got[0] == "edited" and len(got) == 3

    # vacuum: checkpoint written, pre-horizon time travel fails loud,
    # post-horizon time travel still serves the pre-merge state
    st.vacuum("store", keep_last=2)
    assert st._log("store").checkpoint() is not None
    with pytest.raises(ValueError, match="vacuumed"):
        st.read("store", snapshot_id=ingested_at)
    pre_merge = st.current_snapshot("store") - 1
    audit = {r["id_store"]: r["store_name"]
             for r in st.read("store", snapshot_id=pre_merge).collect()}
    assert audit[0] == "row0"  # the pre-edit value, via time travel
    # and the full history of all of it is queryable
    actions = [r["action"] for r in st.history("store").collect()]
    assert actions == ["append"] * 3 + ["overwrite", "overwrite"]


# --- schema discipline and read-pin regressions ---------------------------


def test_append_once_validates_schema_against_head(spark, tmp_path):
    """A divergent batch through append_once must fail
    loud, not record its own schema as the table's read schema (which
    NULL-ed existing columns for every reader)."""
    st = SnapshotTableStore(spark, str(tmp_path))
    st.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    bad = spark.createDataFrame([(2, 99)], "id_store long, rogue long")
    with pytest.raises(ValueError, match="schema mismatch"):
        st.append_once("store", bad, app_id="app", batch_id=0)
    got = st.read("store")
    assert got.columns == ["id_store", "store_name", "store_url", "status"]
    assert [r["store_name"] for r in got.collect()] == ["a"]
    # merge_schema parity with append: additive evolution allowed
    extra = spark.createDataFrame(
        [(2, "b", "u2", True, "mx")],
        "id_store long, store_name string, store_url string, "
        "status boolean, region string")
    assert st.append_once("store", extra, app_id="app", batch_id=1,
                          merge_schema=True)
    got = st.read("store")
    assert "region" in got.columns
    assert {r["id_store"]: r["region"] for r in got.collect()} == {
        1: None, 2: "mx"}
    # replay of the same batch id is still a no-op
    assert not st.append_once("store", extra, app_id="app", batch_id=1,
                              merge_schema=True)


def test_change_feed_crosses_schema_evolution_boundary(spark, tmp_path):
    """changes() over a range straddling an additive
    merge_schema append must NULL-fill the older vintage, not raise."""
    st = SnapshotTableStore(spark, str(tmp_path))
    st.append("store", _df(spark, [(1, "a", "u", True)]))
    wide = spark.createDataFrame(
        [(2, "b", "u2", True, "mx")],
        "id_store long, store_name string, store_url string, "
        "status boolean, region string")
    st.append("store", wide, merge_schema=True)
    feed = st.changes("store", after=0)
    assert "region" in feed.columns
    rows = {r["id_store"]: (r["region"], r["_snapshot_id"])
            for r in feed.collect()}
    assert rows == {1: (None, 1), 2: ("mx", 2)}


def test_straddling_reads_pin_first_snapshot_single_table(spark, tmp_path):
    """The group's pin discipline, single-table: a second read of the table must not advance the pinned base past a
    concurrent commit; the overwrite derived from the FIRST read must
    fail loud."""
    a = SnapshotTableStore(spark, str(tmp_path), writer_id="a")
    b = SnapshotTableStore(spark, str(tmp_path), writer_id="b")
    a.overwrite("store", _df(spark, [(1, "a", "u", True)]))
    a._log("store").read_base = None  # fresh transaction boundary
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


def test_blind_retry_after_failed_overwrite_keeps_failing(spark, tmp_path):
    """A caller that catches ConcurrentWriteError and
    retries the SAME stale derivation WITHOUT re-reading must keep
    failing loud — the failed commit invalidates the pin (sentinel),
    it does not clear it, so only an actual re-read re-arms
    validation."""
    a = SnapshotTableStore(spark, str(tmp_path), writer_id="a")
    b = SnapshotTableStore(spark, str(tmp_path), writer_id="b")
    a.overwrite("store", _df(spark, [(1, "x", "u", True)]))
    a._log("store").read_base = None
    stale = a.read("store")  # pins base 1
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
    assert [r["id_store"] for r in a.read("store").collect()] == [9]
    del stale


def test_own_blind_append_does_not_advance_read_pin(spark, tmp_path):
    """Read pins base 1 -> writer B appends
    (snapshot 2) -> own blind append claims snapshot 3. Advancing the
    pin to 3 would let an overwrite DERIVED FROM THE SNAPSHOT-1 READ
    validate clean against head 3 and silently clobber B's rows. The
    append must stale the pin instead, so the overwrite fails loud
    until a fresh read re-pins."""
    a = SnapshotTableStore(spark, str(tmp_path), writer_id="a")
    b = SnapshotTableStore(spark, str(tmp_path), writer_id="b")
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
    assert [r["id_store"] for r in a.read("store").collect()] == [9]


def test_append_without_read_pin_keeps_blind_overwrite_contract(spark, tmp_path):
    """Companion to the pin-staling fix: an instance that never READ
    the table (no pin) appends and then blind-overwrites — the
    documented blind-overwrite contract (no validation without a
    read) must still hold."""
    a = SnapshotTableStore(spark, str(tmp_path), writer_id="a")
    a.overwrite("store", _df(spark, [(1, "x", "u", True)]))
    a2 = SnapshotTableStore(spark, str(tmp_path), writer_id="a2")
    a2.append("store", _df(spark, [(2, "y", "u", True)]))
    a2.overwrite("store", _df(spark, [(9, "z", "u", True)]))
    assert [r["id_store"] for r in a2.read("store").collect()] == [9]


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
