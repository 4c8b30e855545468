"""TableGroup: multi-table atomic transactions on a shared snapshot
log — the all-or-nothing ingest unit the reference gets from a DB
session (import_files_to_postgre.py:145-227) and per-table logs
cannot provide (two claim points are never atomic together)."""

from __future__ import annotations

import os

import pytest

from pythondataingestionprocess_spark.pipeline.snapshot_store import (
    ConcurrentWriteError,
)
from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup


def _p(spark, rows):
    return spark.createDataFrame(rows, "id_purchase long, total double")


def _op(spark, rows):
    return spark.createDataFrame(
        rows, "id_purchase long, id_product long, quantity long")


def test_three_table_txn_is_one_commit(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path), writer_id="ing")
    with grp.transaction() as txn:
        txn.overwrite("purchase", _p(spark, [(1, 99.5)]))
        txn.append("operation", _op(spark, [(1, 7, 2), (1, 8, 1)]))
        txn.overwrite("price", spark.createDataFrame(
            [(7, 10.0)], "id_product long, price double"))
    assert txn.snapshot_id == 1
    assert grp.current_snapshot() == 1
    assert grp.read("purchase").count() == 1
    assert grp.read("operation").count() == 2
    assert grp.tables() == ["operation", "price", "purchase"]
    h = grp.history().collect()
    assert len(h) == 3 and {r["snapshot_id"] for r in h} == {1}


def test_read_of_many_commits_runs_no_listing_job(spark, tmp_path):
    """A table with more live dirs than Spark's parallel-listing
    threshold (32) is read without a Spark job — the paths are listed
    on the driver — and the session's threshold is left as found."""
    sc = spark.sparkContext
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    threshold = spark.conf.get(key)
    grp = TableGroup(spark, str(tmp_path))
    for i in range(40):
        grp.append("purchase", _p(spark, [(i, float(i))]))
    group = "many-dirs-read"
    sc.setJobGroup(group, "read")
    try:
        df = grp.read("purchase")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert spark.conf.get(key) == threshold
    assert df.count() == 40


def test_crash_between_data_write_and_claim_is_invisible(spark, tmp_path):
    """The partial-ingest failure the per-table design could expose:
    data for BOTH tables written, no claim — zero visible change in
    either table."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))
    d1 = grp._log.write_data("purchase", _p(spark, [(2, 6.0)]))
    d2 = grp._log.write_data("operation", _op(spark, [(2, 1, 1)]))
    assert os.path.isdir(d1) and os.path.isdir(d2)  # orphans exist
    assert grp.current_snapshot() == 1
    assert grp.read("purchase").count() == 1
    with pytest.raises(KeyError):
        grp.read("operation")


def test_exception_inside_txn_commits_nothing(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))
    with pytest.raises(RuntimeError, match="boom"):
        with grp.transaction() as txn:
            txn.overwrite("purchase", _p(spark, [(2, 6.0)]))
            txn.append("operation", _op(spark, [(2, 1, 1)]))
            raise RuntimeError("boom")
    # nothing moved: purchase still snapshot 1, operation never born
    assert grp.current_snapshot() == 1
    assert [r["id_purchase"] for r in grp.read("purchase").collect()] == [1]
    with pytest.raises(KeyError):
        grp.read("operation")


def test_txn_keyed_transaction_commits_once(spark, tmp_path):
    """A transaction keyed by (app_id, batch_id) is the exactly-once
    foreachBatch unit for a group: the replay of a committed batch
    stages nothing, and another app's same batch id is its own."""
    grp = TableGroup(spark, str(tmp_path))
    for _ in range(2):  # the second pass is the replay
        with grp.transaction(("app", 0)) as t:
            t.append("purchase", _p(spark, [(1, 5.0)]))
            t.append("operation", _op(spark, [(1, 7, 1)]))
    assert t.snapshot_id is None
    assert grp.current_snapshot() == 1
    with grp.transaction(("other", 0)) as t:
        t.append("purchase", _p(spark, [(2, 6.0)]))
    assert t.snapshot_id == 2
    assert grp.read("purchase").count() == 2
    assert grp.read("operation").count() == 1


def test_group_time_travel_and_per_table_replay(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    with grp.transaction() as t1:
        t1.overwrite("purchase", _p(spark, [(1, 5.0)]))
        t1.overwrite("operation", _op(spark, [(1, 7, 1)]))
    with grp.transaction() as t2:
        t2.append("operation", _op(spark, [(1, 8, 3)]))
    with grp.transaction() as t3:
        t3.overwrite("purchase", _p(spark, [(9, 1.0)]))
    # snapshot 2: purchase unchanged, operation grew
    assert grp.read("purchase", snapshot_id=2).count() == 1
    assert grp.read("operation", snapshot_id=2).count() == 2
    # snapshot 3: purchase replaced, operation untouched by t3
    assert [r["id_purchase"] for r in grp.read("purchase", 3).collect()] == [9]
    assert grp.read("operation", snapshot_id=3).count() == 2


def test_overwrite_txn_detects_concurrent_commit(spark, tmp_path):
    a = TableGroup(spark, str(tmp_path), writer_id="A")
    b = TableGroup(spark, str(tmp_path), writer_id="B")
    a.overwrite("purchase", _p(spark, [(1, 5.0)]))
    a.read("purchase")
    b.read("purchase")  # both pin group snapshot 1
    a.overwrite("purchase", _p(spark, [(1, 7.0)]))
    with pytest.raises(ConcurrentWriteError, match="advanced 1 -> 2"):
        with b.transaction() as txn:
            txn.overwrite("purchase", _p(spark, [(1, 8.0)]))
    # append-only transactions commute and land
    with b.transaction() as txn:
        txn.append("purchase", _p(spark, [(2, 9.0)]))
    assert grp_count(b) == 2


def grp_count(grp):
    return grp.read("purchase").count()


@pytest.mark.slow
def test_ingest_batch_txn_matches_plain_path_and_is_atomic(spark, tmp_path):
    """The whole reference ingest (4 dim merges + 2 fact appends +
    the price SCD) run on one group transaction is ONE commit, equal to the 7-commit plain
    path table for table — and all-or-nothing under a crash."""
    from datetime import date

    from pythondataingestionprocess_spark.pipeline.ingest import ingest_batch
    from pythondataingestionprocess_spark.pipeline.store import (
        SCHEMAS,
        ParquetTableStore,
    )
    from tests.fixtures import (
        AMZ,
        ML,
        compras_row,
        make_compras,
        make_precios,
        precios_row,
    )

    D = date(2024, 6, 1)
    compras = make_compras(spark, [
        compras_row(desc="A", liga=AMZ, row_idx=0),
        compras_row(desc="B", liga=ML, row_idx=1),
    ])
    precios = make_precios(spark, [
        precios_row(desc="A", p_venta=180.0, p_oferta=150.0),
    ])
    plain = ParquetTableStore(spark, str(tmp_path / "plain"))
    ingest_batch(compras, precios, plain, current_date=D)

    grp = TableGroup(spark, str(tmp_path / "grp"), schemas=SCHEMAS)
    with grp.transaction() as txn:
        ingest_batch(compras, precios, txn, current_date=D)
    assert grp.current_snapshot() == 1  # seven tables, ONE commit
    for t in ("payment_type", "store", "provider", "product",
              "purchase", "operation", "price"):
        a = sorted(map(tuple, plain.read(t).collect()))
        b = sorted(map(tuple, grp.read(t).collect()))
        assert a == b, t

    # atomicity: fail the txn mid-staging → NOTHING from batch 2 lands
    compras2 = make_compras(spark, [compras_row(desc="Z", liga=AMZ, row_idx=0)])
    try:
        with grp.transaction() as txn:
            txn.append("purchase", grp.read("purchase"))
            raise RuntimeError("simulated crash")
    except RuntimeError:
        pass
    assert grp.current_snapshot() == 1
    # a second real batch lands as exactly one more commit
    with grp.transaction() as txn:
        ingest_batch(compras2, make_precios(spark, []), txn, current_date=date(2024, 6, 2))
    assert grp.current_snapshot() == 2
    assert grp.read("purchase").count() == plain.read("purchase").count() + 1


def test_group_vacuum_sweeps_orphans_and_superseded(spark, tmp_path):
    grp = TableGroup(spark, str(tmp_path))
    with grp.transaction() as t1:
        t1.overwrite("purchase", _p(spark, [(1, 5.0)]))
        t1.overwrite("operation", _op(spark, [(1, 7, 1)]))
    # crashed txn leaves orphans in two tables
    grp._log.write_data("purchase", _p(spark, [(2, 0.0)]))
    grp._log.write_data("operation", _op(spark, [(2, 1, 1)]))
    with grp.transaction() as t2:
        t2.overwrite("purchase", _p(spark, [(9, 1.0)]))
    # default vacuum spares the fresh orphans (possible in-flight
    # transactions) but sweeps the manifest-referenced
    # superseded dir immediately
    assert len(grp.vacuum(keep_last=1)) == 1
    removed = grp.vacuum(keep_last=1, orphan_retention_s=0)
    # removed now: the 2 orphans (purchase's superseded t1 dir went in
    # the first pass; operation's t1 dir is still live at snapshot 2)
    assert len(removed) == 2
    assert [r["id_purchase"] for r in grp.read("purchase").collect()] == [9]
    assert grp.read("operation").count() == 1


def test_group_vacuum_guards_time_travel_and_checkpoints_replay(
    spark, tmp_path
):
    """After a group vacuum, time travel to a vacuumed snapshot fails
    loud naming the horizon (its data dirs are gone: the alternative
    is a missing-path Spark error or a partial read), and reads replay
    from the checkpoint written at the horizon, loading no manifest
    before it."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))
    grp.overwrite("purchase", _p(spark, [(2, 6.0)]))
    grp.append("operation", _op(spark, [(2, 7, 1)]))
    grp.vacuum(keep_last=1)  # horizon at snapshot 3
    with pytest.raises(ValueError,
                       match=r"snapshot 1 was vacuumed \(horizon 3\)"):
        grp.read("purchase", snapshot_id=1)
    ck = grp._log.checkpoint()
    assert ck is not None and ck["as_of"] == 3
    grp.append("purchase", _p(spark, [(3, 7.0)]))
    loaded = []
    real_load = grp._log.load
    grp._log.load = lambda sid: loaded.append(sid) or real_load(sid)
    got = sorted(r["id_purchase"] for r in grp.read("purchase").collect())
    assert got == [2, 3]
    assert loaded and min(loaded) > ck["as_of"]
    assert grp.read("operation", snapshot_id=3).count() == 1


def test_group_append_schema_mismatch_fails_loud(spark, tmp_path):
    """A mismatched append batch must fail at stage time — its schema
    would otherwise silently become the recorded one and drop earlier
    files' columns on read."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))
    bad = spark.createDataFrame([(2,)], "id_purchase long")
    with pytest.raises(ValueError, match="schema mismatch"):
        grp.append("purchase", bad)
    assert grp.current_snapshot() == 1  # nothing committed


def test_group_schema_evolution_additive(spark, tmp_path):
    """merge_schema across a group: an evolving append widens the
    recorded union (older files NULL-fill), type changes fail loud, and
    time travel keeps the old vintage."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))
    wide = spark.createDataFrame(
        [(2, 6.0, "mx")], "id_purchase long, total double, region string")
    with pytest.raises(ValueError, match="merge_schema=True to evolve"):
        grp.append("purchase", wide)
    grp.append("purchase", wide, merge_schema=True)
    got = {r["id_purchase"]: r["region"]
           for r in grp.read("purchase").collect()}
    assert got == {1: None, 2: "mx"}
    assert len(grp.read("purchase", snapshot_id=1).columns) == 2
    bad = spark.createDataFrame([(3, "x")], "id_purchase long, total string")
    with pytest.raises(ValueError, match="cannot change column types"):
        grp.append("purchase", bad, merge_schema=True)


# --- read-pin, rebase and vacuum regressions --------------------------------


def test_straddling_reads_pin_first_snapshot_not_last(spark, tmp_path):
    """The lost update: A reads table X, writer B
    commits, A reads table Y and X again (base must NOT advance to B's
    snapshot), A's overwrite-bearing transaction must fail loud —
    validating against the LAST read would let A silently clobber B's
    changes."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    b = TableGroup(spark, str(tmp_path), writer_id="b")
    with a.transaction() as t0:
        t0.overwrite("purchase", _p(spark, [(1, 5.0)]))
        t0.overwrite("operation", _op(spark, [(1, 7, 1)]))
    x = a.read("purchase")  # pins A's base at snapshot 1
    b.append("operation", _op(spark, [(9, 9, 9)]))  # B lands snapshot 2
    a.read("operation")  # must NOT re-pin A's base to 2
    a.read("purchase")  # nor may a second read of the same table
    derived = _p(spark, [(r["id_purchase"], r["total"] + 1.0)
                         for r in x.collect()])
    with pytest.raises(ConcurrentWriteError, match="advanced 1 -> 2"):
        with a.transaction() as txn:
            txn.overwrite("purchase", derived)
    # the failed commit reset the base: re-read re-pins fresh and the
    # re-derived transaction goes through
    x2 = a.read("purchase")
    with a.transaction() as txn:
        txn.overwrite("purchase", _p(
            spark, [(r["id_purchase"], r["total"] + 1.0)
                    for r in x2.collect()]))
    assert [r["total"] for r in a.read("purchase").collect()] == [6.0]


def test_rebased_append_revalidates_schema_against_new_head(spark, tmp_path):
    """An append-only transaction that loses the claim race
    to a schema-EVOLVING commit must re-validate on rebase — recording
    the stale pre-evolution schema would silently drop the evolved
    column from every read."""
    grp = TableGroup(spark, str(tmp_path), writer_id="a")
    rival = TableGroup(spark, str(tmp_path), writer_id="b")
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))

    evolved = spark.createDataFrame(
        [(7, 7.0, "web")], "id_purchase long, total double, channel string")
    real_claim = grp._log.claim
    fired = {"done": False}

    def racing_claim(record, next_id):
        if not fired["done"]:
            fired["done"] = True
            # rival wins THIS snapshot id with a schema-evolving append
            rival.append("purchase", evolved, merge_schema=True)
        return real_claim(record, next_id)

    grp._log.claim = racing_claim
    # plain batch in the OLD schema: the rebase lands on the EVOLVED
    # head, so the re-validation must fail LOUD (the pre-fix behavior
    # recorded the stale schema and silently dropped `channel` from
    # every read)
    with pytest.raises(ValueError, match="schema mismatch"):
        grp.append("purchase", _p(spark, [(2, 6.0)]))
    assert fired["done"]
    # with merge_schema the rebase records the union and the evolved
    # column survives
    grp.append("purchase", _p(spark, [(2, 6.0)]), merge_schema=True)
    got = grp.read("purchase")
    assert "channel" in got.columns
    rows = {r["id_purchase"]: r["channel"] for r in got.collect()}
    assert rows == {1: None, 2: None, 7: "web"}


def test_fresh_orphan_survives_default_group_vacuum(spark, tmp_path):
    """A data dir no manifest references may be an
    in-flight transaction (data lands before the claim) — default
    vacuum must not sweep it."""
    grp = TableGroup(spark, str(tmp_path))
    grp.overwrite("purchase", _p(spark, [(1, 5.0)]))
    d = grp._log.write_data("purchase", _p(spark, [(2, 6.0)]))
    assert grp.vacuum(keep_last=1) == []
    assert os.path.isdir(d)
    assert grp.vacuum(keep_last=1, orphan_retention_s=0) == [d]


def test_blind_retry_after_failed_group_txn_keeps_failing(spark, tmp_path):
    """A caller that catches ConcurrentWriteError and retries the SAME
    stale staging without re-reading must keep failing loud: the
    failed overwrite-bearing transaction invalidates the group base
    (a sentinel), it does not clear it, so only an actual re-read
    re-arms validation."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    b = TableGroup(spark, str(tmp_path), writer_id="b")
    a.overwrite("purchase", _p(spark, [(1, 5.0)]))
    a.read("purchase")  # pins base 1
    b.append("purchase", _p(spark, [(2, 6.0)]))  # snapshot 2
    stale_df = _p(spark, [(9, 9.9)])
    with pytest.raises(ConcurrentWriteError):
        with a.transaction() as t:
            t.overwrite("purchase", stale_df)
    with pytest.raises(ConcurrentWriteError, match="invalidated"):
        with a.transaction() as t:
            t.overwrite("purchase", stale_df)
    assert a.read("purchase").count() == 2  # nothing clobbered...
    # ...and the read above re-pinned, so the next retry lands
    with a.transaction() as t:
        t.overwrite("purchase", stale_df)
    assert [r["id_purchase"] for r in a.read("purchase").collect()] == [9]


def test_append_only_txn_stales_group_read_pin(spark, tmp_path):
    """Read pins base 1 -> writer B appends (snapshot 2) -> own
    append-only transaction claims snapshot 3. Resetting the pin to
    None would let a following overwrite staged from the EARLIER read
    skip base validation, and advancing it to 3 would let that
    overwrite validate clean: either clobbers B's rows. The
    append-only commit must stale a live pin instead; only a fresh
    read re-arms."""
    a = TableGroup(spark, str(tmp_path), writer_id="a")
    b = TableGroup(spark, str(tmp_path), writer_id="b")
    a.overwrite("purchase", _p(spark, [(1, 5.0)]))
    a.read("purchase")  # pins base 1
    b.append("purchase", _p(spark, [(2, 6.0)]))  # snapshot 2 (B)
    with a.transaction() as t:  # snapshot 3 — append-only, rebases
        t.append("purchase", _p(spark, [(3, 7.0)]))
    stale_df = _p(spark, [(9, 9.9)])
    with pytest.raises(ConcurrentWriteError):
        with a.transaction() as t:
            t.overwrite("purchase", stale_df)
    assert a.read("purchase").count() == 3  # B's row survived
    with a.transaction() as t:  # re-read above re-pinned: lands now
        t.overwrite("purchase", stale_df)
    assert [r["id_purchase"] for r in a.read("purchase").collect()] == [9]


def test_vacuum_during_inflight_group_txn_real_process_contention(
    spark, tmp_path
):
    """Vacuum racing an IN-FLIGHT multi-table
    transaction across REAL OS processes (the monkeypatched races pin
    protocol logic; this pins the filesystem story end-to-end).

    Main process stages a 3-table transaction whose staging is slowed
    so the FIRST table's data dir ages well past the vacuum's orphan
    retention before the claim — exactly the window the claim-edge
    mtime lease renewal (the log's commit) exists to cover. A child process
    loops vacuum(orphan_retention_s=3) the whole time, and must sweep
    a pre-aged crashed-transaction orphan (proving the vacuums are
    live, not no-ops) while never touching the in-flight dirs."""
    import json as _json
    import multiprocessing as mp
    import time as _time

    root = str(tmp_path)
    grp = TableGroup(spark, root, writer_id="ing")
    # a prior snapshot so vacuum has a log to work from
    grp.overwrite("purchase", _p(spark, [(1, 1.0)]))

    # a crashed transaction's orphan: unreferenced, mtime an hour old
    stale_orphan = os.path.join(root, "purchase", "data", "deadbeefcafe")
    os.makedirs(stale_orphan)
    with open(os.path.join(stale_orphan, "part-junk.parquet"), "w") as f:
        f.write("x")
    old = _time.time() - 3600
    os.utime(stale_orphan, (old, old))

    stop = os.path.join(root, "_stop_vacuum_loop")
    sweep_log = os.path.join(root, "_sweeps.jsonl")

    def vacuum_loop():
        # Spark-free: TableGroup.vacuum is pure filesystem logic
        child = TableGroup(None, root, writer_id="vac")
        with open(sweep_log, "w") as log:
            while not os.path.exists(stop):
                for path in child.vacuum(keep_last=1, orphan_retention_s=3):
                    log.write(_json.dumps(path) + "\n")
                log.flush()
                _time.sleep(0.15)

    ctx = mp.get_context("fork")
    proc = ctx.Process(target=vacuum_loop)
    proc.start()
    try:
        # slow staging: each table's write takes +1.6 s, so table A's
        # dir is ~4.8 s old (> retention 3 s) when the claim edge
        # refreshes mtimes; a slowed claim keeps the in-flight window
        # open under the child's vacuum cadence afterwards too
        real_write = grp._log.write_data
        real_claim = grp._log.claim

        def slow_write(name, df):
            out = real_write(name, df)
            _time.sleep(1.6)
            return out

        def slow_claim(record, next_id):
            _time.sleep(1.5)
            return real_claim(record, next_id)

        grp._log.write_data = slow_write
        grp._log.claim = slow_claim
        with grp.transaction() as txn:
            txn.append("purchase", _p(spark, [(2, 2.0)]))
            txn.overwrite("operation", _op(spark, [(2, 7, 1)]))
            txn.overwrite(
                "price",
                spark.createDataFrame(
                    [(7, 10.0)], "id_product long, price double"),
            )
    finally:
        grp._log.write_data = real_write
        grp._log.claim = real_claim
        with open(stop, "w"):
            pass
        proc.join(timeout=30)
        if proc.is_alive():
            proc.terminate()

    # the transaction survived the vacuums: every table fully readable
    assert txn.snapshot_id == 2
    assert sorted(
        r["id_purchase"] for r in grp.read("purchase").collect()) == [1, 2]
    assert grp.read("operation").count() == 1
    assert grp.read("price").count() == 1
    # the child actually swept (the stale orphan), and ONLY that
    assert not os.path.exists(stale_orphan)
    with open(sweep_log) as f:
        swept = [_json.loads(line) for line in f]
    assert stale_orphan in swept
    live_dirs = {
        d
        for sid in range(1, grp.current_snapshot() + 1)
        for entry in grp._log.load(sid)["tables"].values()
        for d in entry["dirs"]
    }
    assert not (set(swept) & live_dirs)
