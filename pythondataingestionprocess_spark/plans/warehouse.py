"""Warehouse-maintenance query shapes: SCD2 interval construction,
CDC snapshot reconstruction, and gaps-and-islands — the operations a
change-capture ingest pipeline runs between raw events and serving
tables. The reference's price-history table (database_utils.py:260-280,
start_date/end_date stamping) is a hand-rolled SCD2; these queries are
its set-oriented, full-history generalization.

Scale notes: every shape here is one shuffle on the entity key plus
per-key window arithmetic — no self-joins over the fact, no driver
loops. At 100 TB the entity key is the natural partition; skew means
one hyper-active entity, which AQE's skew-join handling or an upstream
per-key cap absorbs.

Timestamps are emitted as formatted strings (repo convention — see
plans/registry.py determinism notes).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import load_table
from pythondataingestionprocess_spark.plans.registry import query

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# SCD2 build: change events -> validity intervals.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = f"""
SELECT user_id, event_id, event_type AS state,
       strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '{_TS_FMT_DUCK}') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM events
WHERE user_id < 50
"""


@query("scd2_build_user_state", oracle=_SCD2_ORACLE, tags=("scd2", "window", "cdc"))
def scd2_build_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change stream:
    each event opens a state version at its timestamp, closed by the
    key's NEXT event (lead), open-ended for the current version — the
    set-oriented form of the reference's start_date/end_date price
    stamping (database_utils.py:267-274). One shuffle on user_id, one
    per-key sort; (ts, event_id) ordering makes the interval chain
    total even on timestamp ties."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return events.filter(F.col("user_id") < 50).select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", _TS_FMT).alias("valid_from"),
        F.date_format(nxt, _TS_FMT).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# CDC snapshot: latest-op-wins current-state reconstruction.
# ---------------------------------------------------------------------------

_CDC_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn
  FROM events
)
SELECT user_id, event_type AS last_event_type, value AS last_value,
       strftime(ts, '{_TS_FMT_DUCK}') AS last_ts
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@query("cdc_snapshot_latest", oracle=_CDC_ORACLE, tags=("cdc", "window", "dedup"))
def cdc_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state snapshot from a CDC-style change log: the latest
    op per key wins ((ts, event_id) descending — deterministic on
    ties); keys whose latest op is a delete marker ('error' stands in
    for op = D) drop out of the snapshot. This is the read-side dual of
    ParquetTableStore.upsert(order_col=...): same ranking window, same
    last-write-wins contract. One shuffle on the key; the rn = 1 filter
    runs inside the window stage, so only one row per key survives to
    the output."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.date_format("ts", _TS_FMT).alias("last_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps and islands: contiguous activity-day runs per user.
# ---------------------------------------------------------------------------

_ISLANDS_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE user_id < 100
), anchored AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM act
)
SELECT user_id,
       strftime(MIN(day), '%Y-%m-%d') AS island_start,
       strftime(MAX(day), '%Y-%m-%d') AS island_end,
       COUNT(*) AS n_days
FROM anchored
GROUP BY user_id, anchor
"""


@query("islands_user_activity", oracle=_ISLANDS_ORACLE, tags=("window", "islands"))
def islands_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous runs of active days per user (gaps-and-islands): on
    consecutive days, day − row_number is constant, so that difference
    is the island anchor — one distinct, one per-key window, one
    grouped agg; no self-join over the activity table (the naive
    "find the previous day" formulation) and nothing quadratic. The
    output keeps (start, end, length) per island — the session/streak
    table behind retention and streak features."""
    events = load_table(spark, sf_dir, "events")
    act = (
        events.filter(F.col("user_id") < 100)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    anchored = act.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return anchored.groupBy("user_id", "anchor").agg(
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
        F.count(F.lit(1)).alias("n_days"),
    ).drop("anchor")


# ---------------------------------------------------------------------------
# Interval merging: overlapping ranges -> consolidated ranges.
# ---------------------------------------------------------------------------

_MERGE_IVL_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
  FROM events WHERE user_id < 100
), flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
), grouped AS (
  SELECT user_id, event_id, s, e,
         SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
)
SELECT user_id,
       strftime(MIN(s), '{_TS_FMT_DUCK}') AS ivl_start,
       strftime(MAX(e), '{_TS_FMT_DUCK}') AS ivl_end,
       COUNT(*) AS n_events
FROM grouped GROUP BY user_id, grp
"""


@query("merge_event_intervals", oracle=_MERGE_IVL_ORACLE, tags=("window", "intervals"))
def merge_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity leases (each event holds a
    5-minute interval) into consolidated busy periods — interval
    consolidation, the range-calculus primitive behind availability /
    downtime / occupancy rollups. A new merged interval starts exactly
    where an interval's START clears the running MAX of every earlier
    interval's END (cumulative-max window — NOT a self-join; the naive
    overlap formulation is O(n²) per key). One shuffle on user_id.

    Ordering note: BOTH windows (group flag and running sum) order by
    (s, event_id) — the same total order, so tied-start rows carrying
    different new_grp flags cannot swap across the running sum in
    either engine. (Ordering the running sum by the non-total (s, e)
    was a latent cross-engine flake: a flag-0 tie-mate sorted before
    its flag-1 twin joins the PREVIOUS interval.)"""
    events = load_table(spark, sf_dir, "events")
    iv = events.filter(F.col("user_id") < 100).select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "new_grp",
        (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("int"),
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    grouped = flagged.withColumn("grp", F.sum("new_grp").over(w_run))
    return grouped.groupBy("user_id", "grp").agg(
        F.date_format(F.min("s"), _TS_FMT).alias("ivl_start"),
        F.date_format(F.max("e"), _TS_FMT).alias("ivl_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# State-change compression: drop rows that repeat the previous state.
# ---------------------------------------------------------------------------

_COMPRESS_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events WHERE user_id < 100
)
SELECT user_id, event_id, event_type AS state,
       strftime(ts, '{_TS_FMT_DUCK}') AS changed_at
FROM seq
WHERE prev_type IS NULL OR event_type <> prev_type
"""


@query("state_change_compression", oracle=_COMPRESS_ORACLE, tags=("cdc", "window", "compression"))
def state_change_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse a state stream to its CHANGE POINTS: keep an event only
    when its state differs from the key's previous state (first event
    always kept) — the compression step that turns an
    every-observation feed into a minimal change log before SCD2
    construction (`scd2_build_user_state` applied after this yields
    intervals with no zero-length self-transitions). lag + filter, one
    shuffle on the key; (ts, event_id) makes the comparison chain
    total on timestamp ties."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    return (
        events.filter(F.col("user_id") < 100)
        .withColumn("prev_type", prev)
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select(
            "user_id",
            "event_id",
            F.col("event_type").alias("state"),
            F.date_format("ts", _TS_FMT).alias("changed_at"),
        )
    )


# Scratch stores for the transaction-layer faces: md5+pid-keyed under
# /tmp, wiped at the START of each same-process invocation (the
# returned DataFrame is lazy, so an end-of-call rmtree would race the
# driver's collect) and swept at interpreter exit, so no process
# leaves a multi-hundred-thousand-row parquet store per corpus behind.
_SCRATCH_REGISTERED: set = set()
_SCRATCH_SEQ = itertools.count()


class _SimulatedCrash(Exception):
    """Sentinel for the txn face's simulated mid-transaction failure.
    Deliberately NOT a RuntimeError: the probe's except clause must
    never swallow ConcurrentWriteError (a RuntimeError subclass) or
    any genuine RuntimeError from the abort path."""


def _scratch_store_root(prefix: str, sf_dir: str) -> str:
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    # Keyed by an invocation counter: each call gets a FRESH root, so
    # a lazy DataFrame returned by a prior invocation of the same face
    # in this process keeps reading ITS OWN store when collected later
    # (a start-of-call rmtree of a shared root would silently rebind
    # such frames to the rebuilt store). Old roots are left
    # for the atexit sweep; each is a few-MB scratch, bounded by
    # invocations-per-process. pid-keyed under /tmp: fine in local
    # mode (executors share the driver filesystem); on a real cluster
    # these faces would target a shared-FS root instead.
    root = os.path.join(
        tempfile.gettempdir(),
        "pdip_{}_{}_{}_i{}".format(
            prefix, hashlib.md5(sf_dir.encode()).hexdigest()[:12],
            os.getpid(), next(_SCRATCH_SEQ)
        ),
    )
    if os.path.exists(root):
        shutil.rmtree(root)
    if root not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, True)
    return root


# ---------------------------------------------------------------------------
# Table-group change feed: the exactly-once append path's face.
# ---------------------------------------------------------------------------

# Expected feed reconstructed relationally: snapshots 2 and 3 appended
# exactly the %7==1 and %7==2 order slices (the %7==1 REPLAY between
# them must be invisible — its batch id was already in the log).
_SNAPSHOT_FEED_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       CAST(2 AS BIGINT) AS _snapshot_id
FROM orders WHERE o_orderkey % 7 = 1
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       CAST(3 AS BIGINT) AS _snapshot_id
FROM orders WHERE o_orderkey % 7 = 2
"""


@query("snapshot_change_feed", oracle=_SNAPSHOT_FEED_ORACLE,
       tags=("lakehouse", "cdc", "snapshot"))
def snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed and exactly-once appends of a one-table
    ``TableGroup``, checked against an independent engine. End-to-end
    through the REAL commit protocol in a scratch group: three appends
    of deterministic order slices (o_orderkey % 7 ∈ {0,1,2} →
    snapshots 1,2,3), an exactly-once REPLAY of snapshot 2's
    (app_id, batch_id) transaction between them that must commit
    nothing (the Delta txnAppId idiom — a duplicate would poison the
    feed and the hash), then ``changes(after=1)`` — the incremental
    consumer's cursor read. The oracle reconstructs
    the expected feed (slices 1 and 2 tagged with their snapshot ids)
    straight from the orders parquet, so manifest bookkeeping, the
    append-grain log replay, exactly-once dedup, and the feed's
    snapshot tagging are all checked against an independent engine.
    The scratch store is rebuilt per invocation and swept at exit
    (see _scratch_store_root) — commits are data-write-bound,
    metadata is one JSON per snapshot (BASELINE.md protocol probe)."""
    from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup

    root = _scratch_store_root("snapfeed", sf_dir)
    grp = TableGroup(spark, root, writer_id="feed-face")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )

    def batch(r: int) -> DataFrame:
        return orders.filter(F.col("o_orderkey") % 7 == r)

    grp.append("orders_feed", batch(0))  # snapshot 1 (before the cursor)
    for replay in (False, True):  # snapshot 2, then its crash replay
        with grp.transaction(("feed", 1)) as t:
            t.append("orders_feed", batch(1))
        if (t.snapshot_id is None) != replay:
            raise AssertionError(
                "a keyed transaction commits once; its replay is a no-op")
    grp.append("orders_feed", batch(2))  # snapshot 3
    return grp.changes("orders_feed", after=1)


# ---------------------------------------------------------------------------
# TableGroup atomic multi-table ingest: the shared-log transaction face.
# ---------------------------------------------------------------------------

# Expected visible state reconstructed relationally: ONE group commit
# carrying all three tables (snapshot 1 — the failed transaction
# between must consume no snapshot id and leave no change), one more
# append-only commit (snapshot 2). n_rows = current count per table;
# n_rows_at_1 = the group-wide time-travel read at snapshot 1.
_TXN_GROUP_ORACLE = """
WITH f AS (SELECT CAST(COUNT(*) AS BIGINT) c FROM orders WHERE o_orderstatus = 'F'),
oo AS (SELECT CAST(COUNT(*) AS BIGINT) c FROM orders WHERE o_orderstatus = 'O'),
s AS (SELECT CAST(COUNT(*) AS BIGINT) c FROM orders WHERE o_orderkey % 4 = 0),
p AS (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) c FROM orders)
SELECT CAST(1 AS BIGINT) AS snapshot_id, 'ord_agg' AS table_name,
       'overwrite' AS action, (SELECT c FROM p) AS n_rows,
       (SELECT c FROM p) AS n_rows_at_1
UNION ALL
SELECT 1, 'ord_flagged', 'append',
       (SELECT c FROM f) + (SELECT c FROM oo), (SELECT c FROM f)
UNION ALL
SELECT 1, 'ord_small', 'overwrite', (SELECT c FROM s), (SELECT c FROM s)
UNION ALL
SELECT 2, 'ord_flagged', 'append',
       (SELECT c FROM f) + (SELECT c FROM oo), (SELECT c FROM f)
"""


@query("txn_group_atomic_ingest", oracle=_TXN_GROUP_ORACLE,
       tags=("lakehouse", "txn", "snapshot"))
def txn_group_atomic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-table atomicity of a ``TableGroup``, checked against an
    independent engine (snapshot_change_feed covers a one-table
    group). End-to-end through the REAL shared-log
    protocol in a scratch group: ONE transaction staging three tables
    (an overwrite, an append, and a per-priority aggregate overwrite)
    must land as EXACTLY one group snapshot; a second transaction that
    raises mid-staging must consume no snapshot id and leave zero
    visible change in any table; a third, append-only transaction
    lands as snapshot 2. The output joins the group's queryable
    history (snapshot_id, table_name, action) with each table's
    current count AND its group-wide time-travel count at snapshot 1 —
    so commit granularity, failed-transaction invisibility, per-table
    log replay, and group time travel are all hash-checked against a
    DuckDB reconstruction from the orders parquet. Scratch group
    rebuilt per invocation, swept at exit (_scratch_store_root)."""
    from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup

    root = _scratch_store_root("txngrp", sf_dir)
    grp = TableGroup(spark, root, writer_id="ingest-face")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    with grp.transaction() as t1:
        t1.overwrite("ord_small", orders.filter(F.col("o_orderkey") % 4 == 0))
        t1.append("ord_flagged", orders.filter(F.col("o_orderstatus") == "F"))
        t1.overwrite(
            "ord_agg",
            orders.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n")
            ),
        )
    if grp.current_snapshot() != 1:
        raise AssertionError("three staged tables must be ONE commit")
    try:
        with grp.transaction() as bad:
            bad.append("ord_flagged", orders.limit(5))
            raise _SimulatedCrash("simulated mid-transaction crash")
    except _SimulatedCrash:
        pass
    if grp.current_snapshot() != 1:
        raise AssertionError("failed transaction must consume no snapshot")
    with grp.transaction() as t2:
        t2.append("ord_flagged", orders.filter(F.col("o_orderstatus") == "O"))

    counts_now = [
        (t, grp.read(t).count()) for t in ("ord_agg", "ord_flagged", "ord_small")
    ]
    counts_at_1 = {
        t: grp.read(t, snapshot_id=1).count()
        for t, _ in counts_now
    }
    counts = spark.createDataFrame(
        [(t, n, counts_at_1[t]) for t, n in counts_now],
        "table_name string, n_rows long, n_rows_at_1 long",
    )
    hist = grp.history().select("snapshot_id", "table_name", "action")
    return hist.join(counts, "table_name").select(
        "snapshot_id", "table_name", "action", "n_rows", "n_rows_at_1"
    )
