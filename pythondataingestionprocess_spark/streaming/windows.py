"""Event-time window operators over an event stream.

Engine-added (SURVEY.md §2.9: the reference has none of these; the
driver's ``events`` table is the verification corpus). Every transform
here takes a plain DataFrame and works identically on a batch read and
a streaming source — watermarking is applied by the caller
(``withWatermark`` on the stream) because a batch DataFrame has no
watermark concept.

Scale notes: tumbling/sliding aggregation shuffles once on
(window, key) with map-side partial aggregation; session windows
shuffle on the session key (user) — the natural partitioning for
per-entity sessionization. None of these materialize per-event state
beyond the aggregation buffers; in streaming mode the watermark bounds
state size. Model per "Structured Streaming: A Declarative API for
Real-Time Applications in Apache Spark" (SIGMOD 2018) — the same
declarative plan runs incrementally with watermark-bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.aggregates import dec_sum


def tumbling_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window counts + sums: one row per (window, group).

    Output carries ``window_start``/``window_end`` as flat timestamp
    columns (oracle-comparable; the struct form is a Spark-ism).
    """
    win = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(value_col, "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Sliding (hopping) windows — each event lands in
    duration/slide overlapping windows."""
    win = F.window(F.col(ts_col), duration, slide)
    return (
        df.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(value_col, "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based session windows per user via ``session_window`` —
    sessions close after ``gap`` of inactivity; ``window.end`` is
    last-event-ts + gap (Spark semantics, mirrored by the manual
    lag/cumsum oracle)."""
    win = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(win.alias("w"), user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(value_col, "sum_value"),
        )
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def sessionize_manual(
    df: DataFrame,
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    user_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization via lag + running flag-sum (the classic
    relational formulation — also the cross-engine oracle for
    ``session_agg``). Streaming can't use this (unbounded window);
    it exists to prove the two formulations agree."""
    w_user = W.partitionBy(user_col).orderBy(ts_col)
    # microsecond arithmetic (cast-to-long would truncate sub-second
    # precision); new session when diff >= gap — the [t, t+gap)
    # interval-merge semantics of session_window, so the two
    # formulations agree on boundary events. timestamp_diff accepts
    # TIMESTAMP and TIMESTAMP_NTZ alike (events.ts arrives NTZ from
    # micros parquet); unix_micros rejects NTZ under a vanilla session.
    gap_us = F.timestamp_diff(
        "MICROSECOND", F.lag(ts_col).over(w_user), F.col(ts_col)
    )
    flagged = df.withColumn(
        "new_session",
        (gap_us >= gap_seconds * 1_000_000).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce(F.col("new_session"), F.lit(0))).over(
            w_user.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy(user_col, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_last_event"),
        F.count(F.lit(1)).alias("n_events"),
    )
