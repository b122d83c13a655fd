"""Structured Streaming ingest + sessionization (optional extension).

The reference is strictly immutable batch ("producers encode new TrailDBs
at regular intervals", doc/docs/index.md:43-45); SURVEY §2.9 maps its
streaming-shaped idioms here: time-ordered per-key event streams and the
30-minute session-gap rule (examples/tutorial_wikipedia_sessions.c:8).

Batch parity lives in operators/trails.py; this module provides the
streaming analogs: ``session_window`` aggregation with watermarks for late
data, and an ``applyInPandasWithState``-style custom stateful hook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_events(spark, path: str, schema) -> DataFrame:
    """File-source stream over an events directory (the reference's
    "new tdb per day" pattern as a stream of arriving parquet files)."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_session_counts(
    events: DataFrame,
    gap_seconds: int = 1800,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-trail session aggregation with a dynamic session window.

    ``F.session_window`` closes a session after ``gap_seconds`` of
    inactivity — exactly the tutorial's 30-minute rule — and the watermark
    bounds state for late data. Output: one row per (uuid, session) with
    event count and bounds; append-mode sink-ready.
    """
    gap = f"{gap_seconds} seconds"
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(uuid_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            uuid_col,
            F.col("session_window.start").alias("window_start"),
            F.col("session_window.end").alias("window_end"),
            "num_events",
            "session_start",
            "session_end",
        )
    )


def stateful_trail_counts(
    events: DataFrame,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful per-trail operator via applyInPandasWithState:
    maintains a running (count, min_ts, max_ts) per uuid across micro-
    batches — the streaming analog of a persistent trail cursor position.

    State is one tuple per uuid (bounded by trail count, not event count);
    timeout follows the watermark so idle trails age out of the store.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{uuid_col} string, n_events long, first_seen timestamp, last_seen timestamp"
    )
    state_schema = "n long, first_us long, last_us long"

    def update(key, pdfs, state):
        import pandas as pd

        # GroupState.get is a PROPERTY (raises if absent), not a method
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:  # empty chunk: min()/max() would be NaT
                continue
            ts = pd.to_datetime(pdf[ts_col])
            n += len(pdf)
            lo = int(ts.min().value // 1000)
            hi = int(ts.max().value // 1000)
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        yield pd.DataFrame(
            {
                uuid_col: [key[0]],
                "n_events": [n],
                "first_seen": [pd.Timestamp(first_us, unit="us")],
                "last_seen": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(uuid_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_funnel(
    events: DataFrame,
    step_values: list[str],
    field: str = "event_type",
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
    within: int | None = None,
) -> DataFrame:
    """Streaming analog of ``analytics.funnel_times``: per-trail latched
    step timestamps maintained in state across micro-batches (state = k
    longs per uuid — bounded by trail count). Each batch replays the same
    latch rule as the batch fold: step i fires on the first event equal to
    ``step_values[i]`` strictly after step i-1 (and within the conversion
    window if set).

    Out-of-order contract (watermark-bounded reorder buffer): events are
    NOT folded on arrival. Per trail the state holds (a) the durable
    latch times and (b) a buffer of events still above the watermark;
    each batch folds — in timestamp order — only the buffered events
    that have fallen below the current watermark (the engine guarantees
    no older event can still arrive), then emits the durable fold
    extended by a SPECULATIVE fold of the sorted remaining buffer. In
    update mode later batches overwrite earlier speculation, so the
    emitted result converges to the batch funnel for ANY arrival order
    with lateness within the watermark — proven by
    ``test_streaming_funnel_out_of_order_matches_batch``. Events later
    than the watermark are dropped by the engine (standard contract);
    the batch operator over finalized storage stays the replayable
    truth. State per trail = k longs + (arrival rate × watermark)
    buffered (ts, value) pairs — the same bound every watermarked
    stateful operator carries, never stream length.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    k = len(step_values)
    if k == 0:
        raise ValueError("funnel needs at least one step value")
    out_schema = f"{uuid_col} string, " + ", ".join(f"s{i} long" for i in range(k))
    state_schema = (
        ", ".join(f"s{i} long" for i in range(k))
        + ", buf_t array<long>, buf_v array<string>"
    )

    def fold(times: list, evs) -> list:
        for t, v in evs:
            t = int(t)
            # at most one step can latch per event (strict > rules out
            # chaining two steps on one timestamp)
            for i in range(k):
                if times[i] >= 0:
                    continue
                ok = v == step_values[i] and (
                    i == 0
                    or (
                        times[i - 1] >= 0
                        and t > times[i - 1]
                        and (within is None or t <= times[i - 1] + within)
                    )
                )
                if ok:
                    times[i] = t
                break
        return times

    def update(key, pdfs, state):
        if state.exists:
            st = state.get  # property, not a method
            times = list(st[:k])
            buf = list(zip(st[k] or [], st[k + 1] or []))
        else:
            times, buf = [-1] * k, []
        # concat all Arrow chunks (they arrive in shuffle order, not time
        # order) and append to the reorder buffer; on an event-time
        # timeout the group is invoked with no data at all
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            secs = pd.to_datetime(pdf[ts_col]).astype("int64") // 1_000_000_000
            buf.extend(zip((int(t) for t in secs), pdf[field]))
        # events strictly below the watermark are FINAL (nothing older
        # can arrive): fold them durably in timestamp order. Stable sort
        # keeps arrival order for equal timestamps.
        wm_ms = state.getCurrentWatermarkMs()
        wm_sec = wm_ms // 1000
        buf.sort(key=lambda e: e[0])
        n_final = 0
        while n_final < len(buf) and buf[n_final][0] < wm_sec:
            n_final += 1
        times = fold(times, buf[:n_final])
        buf = buf[n_final:]
        state.update(tuple(times) + ([t for t, _ in buf], [v for _, v in buf]))
        if buf:
            # re-invoke this group (even with no new data) once the
            # watermark passes its oldest buffered event, so the durable
            # fold progresses and the buffer drains; must be strictly
            # above the current watermark
            state.setTimeoutTimestamp(max(buf[0][0] * 1000 + 1, wm_ms + 1))
        # speculative view over the not-yet-final tail: converges to the
        # batch fold as the watermark passes each event
        spec = fold(list(times), buf)
        yield pd.DataFrame(
            {
                uuid_col: [key[0]],
                **{f"s{i}": [spec[i] if spec[i] >= 0 else None] for i in range(k)},
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(uuid_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_attribution(
    events: DataFrame,
    conversion: str,
    touches: list[str],
    lookback: int | None = None,
    field: str = "event_type",
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming analog of ``analytics.attribution`` (last-touch): per
    trail the durable state is the last FINALIZED touch (time + index in
    ``touches``) plus the watermark reorder buffer; each conversion emits
    one attribution row ``(uuid, conv_time, channel)`` when it finalizes.

    Out-of-order contract (same reorder buffer as ``streaming_funnel``):
    events fold — in timestamp order — only once they fall below the
    watermark, so a touch arriving out of order (but within the
    watermark) still attributes the conversions it precedes; append-mode
    output is emitted exactly once and only from finalized events (a
    speculative emission could not be retracted). Consequence, shared
    with every watermarked append-mode operator: conversions newer than
    the watermark stay buffered until a later batch advances it — an
    unbounded stream emits them ``watermark`` late, and a drained test
    stream surfaces them by appending a watermark-advancing sentinel.
    The batch operator over finalized storage stays the replayable
    truth. State per trail = 2 longs + (arrival rate × watermark)
    buffered pairs, never stream length.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    touch_idx = {v: i for i, v in enumerate(touches)}

    def update(key, pdfs, state):
        if state.exists:
            last_t, last_i, bt, bv = state.get  # property, not a method
            buf = list(zip(bt or [], bv or []))
        else:
            (last_t, last_i), buf = (-1, -1), []
        chunks = [c for c in pdfs if len(c)]  # empty on event-time timeout
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            secs = pd.to_datetime(pdf[ts_col]).astype("int64") // 1_000_000_000
            buf.extend(zip((int(t) for t in secs), pdf[field]))
        wm_ms = state.getCurrentWatermarkMs()
        wm_sec = wm_ms // 1000
        buf.sort(key=lambda e: e[0])  # stable: arrival order breaks ties
        out_t, out_ch = [], []
        n_final = 0
        for t, v in buf:
            if t >= wm_sec:
                break
            n_final += 1
            if v == conversion:
                ch = "(none)"
                if last_i >= 0 and (lookback is None or last_t >= t - lookback):
                    ch = touches[last_i]
                out_t.append(t)
                out_ch.append(ch)
            # a row that is BOTH touch and conversion touches after
            # converting — matches the batch strict-prefix window
            i = touch_idx.get(v)
            if i is not None:
                last_t, last_i = t, i
        buf = buf[n_final:]
        state.update(
            (last_t, last_i, [t for t, _ in buf], [v for _, v in buf])
        )
        if buf:
            # wake this group when the watermark passes its oldest
            # buffered event so pending conversions emit without needing
            # new data for the same trail
            state.setTimeoutTimestamp(max(buf[0][0] * 1000 + 1, wm_ms + 1))
        yield pd.DataFrame(
            {
                uuid_col: [key[0]] * len(out_t),
                "conv_time": out_t,
                "channel": out_ch,
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(uuid_col)
        .applyInPandasWithState(
            update,
            outputStructType=f"{uuid_col} string, conv_time long, channel string",
            stateStructType="last_t long, last_i long, buf_t array<long>, buf_v array<string>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_touch_conversion_join(
    touches: DataFrame,
    conversions: DataFrame,
    lookback: int = 86400,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
    channel_col: str = "event_type",
    id_col: str | None = None,
) -> DataFrame:
    """Stream-stream interval join: every (touch, conversion) pair of the
    same trail where the touch precedes the conversion by at most
    ``lookback`` seconds — the joined-pairs primitive under
    ``attribution_linear``, as two live streams. The watermark bounds the
    join state on BOTH sides (Spark evicts buffered rows once they can no
    longer match any future row given the time-range condition), so state
    is (arrival rate × (lookback + watermark)), never stream length —
    the only interval-join formulation that survives an unbounded stream.

    Emits ``(uuid, touch_time, conv_time, channel)`` with the channel
    read from ``channel_col``. Parity contract vs the batch pairing
    (``attribution_linear``'s join): the batch join also admits
    EQUAL-timestamp pairs whose touch has the smaller event id
    (``tt == ct AND tid < cid``). Pass ``id_col`` (present on both input
    streams) to reproduce that tiebreak exactly; with ``id_col=None``
    the stream join is strictly ``touch_ts < conv_ts`` and equal-
    timestamp pairs are omitted — a documented divergence. Late rows
    beyond the watermark drop — the batch operator over finalized
    storage remains the replayable truth.
    """
    t_cols = [
        F.col(uuid_col).alias("t_uuid"),
        F.col(ts_col).alias("touch_ts"),
        F.col(channel_col).alias("channel"),
    ]
    c_cols = [
        F.col(uuid_col).alias(uuid_col),
        F.col(ts_col).alias("conv_ts"),
    ]
    if id_col is not None:
        t_cols.append(F.col(id_col).alias("t_id"))
        c_cols.append(F.col(id_col).alias("c_id"))
    t = touches.withWatermark(ts_col, watermark).select(*t_cols)
    c = conversions.withWatermark(ts_col, watermark).select(*c_cols)
    order = F.col("touch_ts") < F.col("conv_ts")
    if id_col is not None:
        # the batch tiebreak; the non-strict <= keeps the condition a
        # closed time range so state eviction still bounds both sides
        order = (F.col("touch_ts") <= F.col("conv_ts")) & (
            order | (F.col("t_id") < F.col("c_id"))
        )
    joined = c.join(
        t,
        (F.col(uuid_col) == F.col("t_uuid"))
        & order
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr(f"INTERVAL {int(lookback)} SECONDS")),
    )
    return joined.select(
        uuid_col,
        F.unix_timestamp("touch_ts").alias("touch_time"),
        F.unix_timestamp("conv_ts").alias("conv_time"),
        "channel",
    )
