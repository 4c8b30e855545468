"""Keyed-state streaming operators (SURVEY.md §2.9 tail), each the
incremental twin of a batch surface, on ``applyInPandasWithState``:

- :func:`locf_fill_stream` — the reference's cross-row forward-fill
  (import_files_to_postgre.py:148-153), one last-value slot per key;
- :func:`funnel_stream_watermarked` — view→purchase conversions across
  micro-batches, with event-time lateness and expiry
  (``events_funnel_watermark``);
- :func:`decayed_feature_stream` — the exact EWMA recursion
  (``events_decayed_feature``);
- :func:`weighted_sample_stream` — A-ES top-k per source
  (``corpus_weighted_sample``).

Within a micro-batch each update sorts one key's rows on (ts, event_id)
before it folds them, because Arrow hands a key's rows over in chunks
with no cross-chunk order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# ---- streaming LOCF forward-fill (keyed state) ---------------------

LOCF_SCHEMA = "user_id long, event_id long, ts timestamp, props string"


def _locf_update(key, pdfs, state):
    # concat-then-sort: Arrow chunks for one key carry no cross-chunk
    # ts order, and LOCF is order-sensitive (same fix as _funnel_update).
    # (event_id, stable) breaks ts ties deterministically — without it
    # the fill value on tied timestamps depends on quicksort order.
    # Memory note: concat materializes one key's whole micro-batch; the
    # cost of cross-chunk ordering correctness. At 100 TB bound per-key
    # batch volume upstream (e.g. repartition + trigger sizing).
    (user_id,) = key
    (last,) = state.get if state.exists else (None,)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"], kind="stable"
        )
        filled = []
        for v in pdf["props"]:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                filled.append(last)
            else:
                last = v
                filled.append(v)
        out = pdf.copy()
        out["props"] = filled
        yield out[["user_id", "event_id", "ts", "props"]]
    state.update((last,))


def locf_fill_stream(events: DataFrame) -> DataFrame:
    """Per-user LOCF over a stream of events with a nullable ``props``
    column: NULL ``props`` inherits the key's last non-null value,
    across micro-batches, via one keyed state slot. This is the
    reference's forward-fill (import_files_to_postgre.py:148-153) as a
    streaming operator."""
    return events.groupBy("user_id").applyInPandasWithState(
        _locf_update,
        outputStructType=LOCF_SCHEMA,
        stateStructType="last string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---- streaming funnel (view → purchase conversion, keyed state) -----

FUNNEL_SCHEMA = "user_id long, view_ts timestamp, purchase_ts timestamp, value double"
_FUNNEL_STATE = "last_view_ts timestamp"


def _funnel_update(key, pdfs, state):
    """Per-user conversion detector across micro-batches: remember the
    key's most recent 'view' timestamp in keyed state; every 'purchase'
    within the window of that view emits one conversion row.

    State is one timestamp per user (bounded); events arrive
    batch-ordered but not globally ordered. applyInPandasWithState
    delivers one key's batch as MULTIPLE Arrow chunks (~10k rows each)
    with no cross-chunk ts ordering guarantee, so all chunks are
    concatenated and sorted ONCE before the scan — sorting each chunk
    independently could mis-anchor a view/purchase pair split across
    chunks for high-volume keys. State is a single timestamp, so the
    usual streaming-chunks memory argument doesn't apply. The window
    check lives in the emitter so a conversion straddling two
    micro-batches (view in batch N, purchase in batch N+1) is found —
    that cross-batch case is exactly what the batch join can't do
    incrementally and keyed state exists for."""
    import pandas as pd  # noqa: F811 (executor-side import)

    (user_id,) = key
    (last_view,) = state.get if state.exists else (None,)
    window = pd.Timedelta(minutes=30)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"], kind="stable"
        )
        # vectorized scan (a per-row loop single-threads a hot key at
        # ~10⁶ events/micro-batch): the "most recent view at each row"
        # is a forward-fill of view timestamps over the sorted frame,
        # seeded with the carried state; the ts >= anchor guard stays
        # because the carry-in from a previous batch may postdate this
        # batch's early rows.
        is_view = pdf["event_type"].eq("view")
        anchor = pdf["ts"].where(is_view).ffill()
        if last_view is not None:
            anchor = anchor.fillna(last_view)
        hits = pdf[
            pdf["event_type"].eq("purchase")
            & anchor.notna()
            & (pdf["ts"] >= anchor)
            & (pdf["ts"] - anchor <= window)
        ]
        if len(hits):
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "view_ts": anchor[hits.index],
                    "purchase_ts": hits["ts"],
                    "value": hits["value"],
                }
            )
        if is_view.any():
            last_view = pdf.loc[is_view, "ts"].iloc[-1]
    state.update((last_view,))


def _funnel_update_watermarked(window_ms: int):
    def update(key, pdfs, state):
        import pandas as pd  # noqa: F811 (executor-side import)

        if state.hasTimedOut:
            # Watermark passed last_view + window: no on-time purchase
            # can ever match this view again (it would be late and
            # dropped). Free the slot.
            state.remove()
            return
        # Arbitrary stateful ops do NOT auto-drop late input — the
        # engine's watermark only drives timers/state-eviction here
        # (unlike windowed aggregations), so the late-data discipline
        # is applied IN the function: rows older than the batch's
        # watermark are discarded before they can touch state.
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0:
            wm = pd.Timestamp(wm_ms, unit="ms")
            pdfs = (pdf[pdf["ts"] >= wm] for pdf in pdfs)
        yield from _funnel_update(key, pdfs, state)
        (last_view,) = state.get if state.exists else (None,)
        if last_view is None:
            # _funnel_update stored (None,) — a key that never recorded
            # a view (purchase-only user, or its views were all late-
            # dropped). A (None,) slot carries no timer, and with
            # EventTimeTimeout an untimed key NEVER times out — leaving
            # it would grow state with the all-time key set. Remove it;
            # semantics are unchanged (None state ≡ no state).
            if state.exists:
                state.remove()
            return
        expiry_ms = pd.Timestamp(last_view).value // 1_000_000 + window_ms
        if expiry_ms <= state.getCurrentWatermarkMs():
            # Already expired relative to this batch's watermark —
            # setTimeoutTimestamp would reject a past timestamp.
            state.remove()
        else:
            state.setTimeoutTimestamp(expiry_ms)

    return update


def funnel_stream_watermarked(
    events: DataFrame,
    delay: str = "10 minutes",
    window_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Streaming view→purchase funnel (30-min conversion window) with
    one timestamp of keyed state per user, including conversions that
    straddle micro-batch boundaries, and LATE-DATA discipline: an
    event-time watermark (``delay`` behind the max observed ts)
    defines lateness, and the update function drops rows older than
    it — a purchase that arrives after the watermark passed its
    timestamp never converts.
    (The drop must live in the function: Spark's watermark does NOT
    auto-filter input to arbitrary stateful operators, it only drives
    their timers.) State expires on an EVENT-TIME timer at last_view +
    window — once the watermark clears that point, any matching
    purchase would be late by construction, so the slot is provably
    dead.

    Both the drops and the expiries follow event time, not the wall
    clock, so replaying the same stream gives the same drops and the
    same expiries, which is what an audited backfill needs. Batch face
    (oracle-checked):
    plans/streaming_queries.py::events_funnel_watermark."""
    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_update_watermarked(window_ms),
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---- streaming EWMA: the online twin of operators/timeseries.decayed_feature

EWMA_SCHEMA = "user_id long, event_id long, ts timestamp, decayed double"


def _make_ewma_update(a: float):
    def _update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        s = state.get[0] if state.exists else None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            # concat-then-sort across chunks for a deterministic fold
            # order within the batch (same pattern/caveat as
            # _locf_update: cross-batch order is arrival order).
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="stable"
            )
            out_vals = []
            for v in pdf["value"]:
                v = float(v)
                s = v if s is None else v + a * s
                out_vals.append(s)
            out = pdf.copy()
            out["decayed"] = out_vals
            yield out[["user_id", "event_id", "ts", "decayed"]]
        if s is not None:
            state.update((float(s),))

    return _update


def decayed_feature_stream(events: DataFrame, half_life_rows: float = 8.0) -> DataFrame:
    """Per-event exponentially-decayed activity score computed ONLINE:
    one double of state per key carries the exact recursion
    ``s_t = v_t + a·s_{t-1}`` across micro-batches — where the batch
    operator (operators/timeseries.py::decayed_feature) must truncate
    its window, the stream needs no truncation at all, because the
    fold is sequential by construction. This is the 100 TB shape for
    serving-time features: O(1) state per key, every event annotated
    as it arrives, no reprocessing of history.

    Caveats shared with the other keyed-state operators here: rows are
    totally ordered WITHIN a micro-batch (concat-then-sort on
    (ts, event_id)); cross-batch order is stream arrival order, so an
    out-of-order late event folds at its arrival position — pair with
    a watermarked upstream dedup/sort if the source can reorder."""
    a = 0.5 ** (1.0 / half_life_rows)
    return events.groupBy("user_id").applyInPandasWithState(
        _make_ewma_update(a),
        outputStructType=EWMA_SCHEMA,
        stateStructType="s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---- streaming weighted sample (A-ES top-k over keyed state) --------

WSAMPLE_SCHEMA = (
    "source string, doc_id long, n_chars long, sample_key double, rn int"
)
_WSAMPLE_STATE = "keys array<double>, ids array<long>, weights array<long>"


def _make_wsample_update(k: int):
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def _round9_half_up(x: float) -> float:
        # Replicate Spark's F.round on DOUBLE exactly: BigDecimal.
        # valueOf(d) (shortest decimal repr, == Python repr) .setScale
        # (9, HALF_UP). Python's built-in round() is half-to-EVEN and
        # would diverge from the batch face on 9th-decimal midpoints.
        return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    def upd(key, pdfs, state):
        (source,) = key
        if state.exists:
            keys, ids, weights = (list(x) for x in state.get)
        else:
            keys, ids, weights = [], [], []
        for pdf in pdfs:
            for did, w in zip(pdf["doc_id"], pdf["n_chars"]):
                # Arrow hands NULLs to pandas as float NaN, for which
                # `w <= 0` is False — pd.isna catches None AND NaN so a
                # null row skips (the batch face's n_chars > 0 filter)
                # instead of killing the query on int(NaN).
                if pd.isna(did) or pd.isna(w) or w <= 0:
                    continue
                u = (
                    int(hashlib.md5(str(int(did)).encode()).hexdigest()[:8], 16)
                    + 1
                ) / 4294967297.0
                keys.append(_round9_half_up(math.log(u) / float(w)))
                ids.append(int(did))
                weights.append(int(w))
        order = sorted(range(len(keys)), key=lambda i: (-keys[i], ids[i]))[:k]
        keys = [keys[i] for i in order]
        ids = [ids[i] for i in order]
        weights = [weights[i] for i in order]
        state.update((keys, ids, weights))
        yield pd.DataFrame(
            {
                "source": [source] * len(ids),
                "doc_id": ids,
                "n_chars": weights,
                "sample_key": keys,
                "rn": list(range(1, len(ids) + 1)),
            }
        )

    return upd


def weighted_sample_stream(docs: DataFrame, k: int = 10) -> DataFrame:
    """Streaming face of ``corpus_weighted_sample`` (Efraimidis-
    Spirakis A-ES): the per-source top-k priority keys ARE the
    sufficient statistic of a weighted sample without replacement, so
    the keyed state carries exactly k (key, id, weight) triples per
    source and each micro-batch merges its candidates and re-emits the
    current sample. After any prefix of the stream the emission equals
    the batch query over the data seen so far — the online/offline
    parity the batch-face oracle checks cheaply.

    Priority keys replicate the batch plan bit-for-bit: md5(doc_id)
    uniform, ROUND(ln(u)/w, 9), doc_id tiebreak. Per-row Python md5 is
    fine here — state size bounds the work at k per source per batch
    plus the batch's own rows; the BATCH face keeps md5 JVM-side.

    Scale: O(k) state per source (bounded-cardinality key), no
    timeout needed; the 100 TB shape for maintaining a fresh training
    sample while the corpus streams in.
    """
    return docs.groupBy("source").applyInPandasWithState(
        _make_wsample_update(k),
        outputStructType=WSAMPLE_SCHEMA,
        stateStructType=_WSAMPLE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
