"""Streaming cursor programs: the §2.10 extension model over unbounded
streams.

The reference's extension contract is "iterate one trail's events in time
order and compute anything" (`doc/docs/index.md:21-26`,
`examples/tutorial_wikipedia_sessions.c:26-47`). The batch engine offers
that as ``trails.apply_to_trails`` (whole trail) and
``trails.apply_to_trails_chunked`` (bounded-memory fold). This module is
the STREAMING twin: the same ``init(uuid) / step(state, chunk) /
finish(state)`` fold, run continuously over a watermarked event stream via
``applyInPandasWithState``.

Semantics bridge for the unbounded setting:

- **Order**: the reference cursor sees events time-ordered; a stream
  arrives in any order. Events are therefore buffered per trail and fed
  to ``step`` only once they fall below the watermark (nothing older can
  still arrive — the engine's contract), sorted by timestamp. The fold
  consumes exactly the sequence the batch cursor would.
- **Trail end**: a stream never ends, but the reference idiom "process a
  trail, then report" maps to event-time inactivity: after
  ``idle_timeout`` seconds with no events below the watermark, ``finish``
  fires, its output is emitted, and the trail's state is dropped (a later
  event starts a fresh fold — the daily-tdb re-keying pattern,
  `doc/docs/index.md:43-45`). ``idle_timeout=None`` folds forever and
  only ``step`` outputs are emitted.
- **State**: the user fold state is arbitrary picklable Python, carried
  as one binary blob per trail — bounded by the fold itself plus the
  (rate × watermark) reorder buffer, the same bound every watermarked
  stateful operator carries, never stream length.

Output mode is APPEND: emissions are final (no speculative corrections),
because a generic fold's outputs cannot be retracted — the price of full
generality; purpose-built operators (``streaming_funnel``) keep their
speculative update-mode views.
"""

from __future__ import annotations

import pickle
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.trails import _session_fold


def apply_to_trails_stream(
    events: DataFrame,
    init: Callable,
    step: Callable,
    finish: Callable,
    output_schema: str,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    carry_cols: tuple[str, ...] = (),
    watermark: str = "1 hour",
    idle_timeout: int | None = None,
) -> DataFrame:
    """Run a cursor-program fold continuously over a watermarked stream.

    Same contract as ``trails.apply_to_trails_chunked``:

    - ``init(uuid) -> state``
    - ``step(state, chunk_pdf) -> (state, out_pdf | None)`` — ``chunk_pdf``
      has columns ``(uuid, time, *carry_cols)``, strictly watermark-final
      events in timestamp order (ties keep arrival order)
    - ``finish(state) -> out_pdf | None`` — fires after ``idle_timeout``
      seconds of event-time inactivity (never, if None); the trail's
      state is then removed

    Folds whose emissions are chunk-boundary-invariant (emit at finish,
    or emit per-event rows) produce EXACTLY the batch chunked fold's
    output for any arrival order within the watermark — proven by
    ``test_apply_to_trails_stream_out_of_order_matches_batch``.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    if idle_timeout is not None and idle_timeout < 1:
        raise ValueError(f"idle_timeout must be >= 1 second, got {idle_timeout}")
    carry = list(carry_cols)

    def chunk_frame(uuid, rows):
        return pd.DataFrame(
            {
                uuid_col: [uuid] * len(rows),
                "time": [r[0] for r in rows],
                **{c: [r[1 + i] for r in rows] for i, c in enumerate(carry)},
            }
        )

    def update(key, pdfs, state):
        uuid = key[0]
        if state.exists:
            fold_state, buf, last_t = pickle.loads(state.get[0])
        else:
            fold_state, buf, last_t = init(uuid), [], None

        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            secs = pd.to_datetime(pdf[ts_col]).astype("int64") // 1_000_000_000
            if carry:
                vals = zip(*[pdf[c] for c in carry])
                buf.extend((int(t), *v) for t, v in zip(secs, vals))
            else:
                buf.extend((int(t),) for t in secs)

        wm_ms = state.getCurrentWatermarkMs()
        wm_sec = wm_ms // 1000
        # stable sort: equal timestamps keep arrival order here; neither
        # this nor the batch cursor promises an order among ties
        buf.sort(key=lambda r: r[0])
        n_final = 0
        while n_final < len(buf) and buf[n_final][0] < wm_sec:
            n_final += 1
        outs = []
        if n_final:
            final = buf[:n_final]
            buf = buf[n_final:]
            last_t = final[-1][0]
            fold_state, out = step(fold_state, chunk_frame(uuid, final))
            if out is not None and len(out):
                outs.append(out)

        # trail end: idle past the timeout with nothing left buffered
        if (
            idle_timeout is not None
            and not buf
            and last_t is not None
            and wm_sec >= last_t + idle_timeout
        ):
            out = finish(fold_state)
            if out is not None and len(out):
                outs.append(out)
            state.remove()
        else:
            state.update((pickle.dumps((fold_state, buf, last_t)),))
            if buf:
                # wake when the watermark passes the oldest buffered event
                state.setTimeoutTimestamp(max(buf[0][0] * 1000 + 1, wm_ms + 1))
            elif idle_timeout is not None and last_t is not None:
                state.setTimeoutTimestamp(
                    max((last_t + idle_timeout) * 1000, wm_ms + 1)
                )
        yield from outs

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(uuid_col)
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType="blob binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_session_stats_cursor(
    events: DataFrame,
    gap: int = 1800,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
    idle_timeout: int = 7200,
) -> DataFrame:
    """The reference tutorial's session count as a STREAMING cursor fold
    (`examples/tutorial_wikipedia_sessions.c:26-47`): constant state
    (last timestamp, session count, event count) per trail, one final
    ``(uuid, num_sessions, num_events)`` row when the trail goes idle —
    the same fold (``trails._session_fold``) as
    ``trails.session_stats_chunked``, so stream and batch outputs
    coincide for in-watermark data (the parity test's oracle)."""
    return apply_to_trails_stream(
        events,
        *_session_fold(gap, uuid_col, "time"),
        output_schema=f"{uuid_col} string, num_sessions long, num_events long",
        uuid_col=uuid_col,
        ts_col=ts_col,
        watermark=watermark,
        idle_timeout=idle_timeout,
    )


def streaming_robot_stats_cursor(
    events: DataFrame,
    min_events: int = 10,
    max_cv2_ppm: int = 10_000,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
    idle_timeout: int = 7200,
) -> DataFrame:
    """`analytics.robot_trails` as a STREAMING cursor fold: constant
    state per trail (event count, last timestamp, Σgap, Σgap² as python
    ints — arbitrary precision, so the math is the batch operator's
    decimal(38,0) arithmetic verbatim), one
    ``(uuid, n_events, mean_gap, cv2_ppm, is_robot)`` row when the
    trail goes idle. Bot detection is exactly the workload that WANTS
    the streaming form — flag the scripted client while it is still
    hammering, not in tomorrow's batch. Chunk-boundary-invariant by
    construction (gaps accumulate across chunk seams through ``last``),
    so stream ≡ batch for in-watermark data — the parity test's oracle.
    """
    import pandas as pd

    def init(u):
        return {"uuid": u, "n": 0, "last": None, "sg": 0, "qg": 0}

    def step(st, chunk):
        ts = chunk["time"].to_numpy()
        for t in ts:
            t = int(t)
            if st["last"] is not None:
                g = t - st["last"]
                st["sg"] += g
                st["qg"] += g * g
            st["last"] = t
            st["n"] += 1
        return st, None

    def finish(st):
        n_gaps = max(st["n"] - 1, 1)
        mean_gap = st["sg"] // n_gaps
        if st["sg"] > 0:
            cv2 = (1_000_000 * ((st["n"] - 1) * st["qg"] - st["sg"] ** 2)) // (
                st["sg"] ** 2
            )
        else:
            cv2 = None
        return pd.DataFrame(
            {
                uuid_col: [st["uuid"]],
                "n_events": [st["n"]],
                "mean_gap": [mean_gap],
                "cv2_ppm": [cv2],
                "is_robot": [
                    st["n"] >= min_events and cv2 is not None and cv2 <= max_cv2_ppm
                ],
            }
        )

    return apply_to_trails_stream(
        events,
        init,
        step,
        finish,
        output_schema=(
            f"{uuid_col} string, n_events long, mean_gap long, "
            "cv2_ppm long, is_robot boolean"
        ),
        uuid_col=uuid_col,
        ts_col=ts_col,
        watermark=watermark,
        idle_timeout=idle_timeout,
    )


def streaming_twap_cursor(
    events: DataFrame,
    uuid_col: str = "uuid",
    ts_col: str = "event_time",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    watermark: str = "1 hour",
    idle_timeout: int = 7200,
) -> DataFrame:
    """`analytics.time_weighted_average` (LOCF TWAP) as a STREAMING
    cursor fold: constant state per trail (count, first/last timestamp,
    current cents, Σ cents·gap as python ints — the batch operator's
    decimal(38,0) arithmetic verbatim), one ``(uuid, n_events,
    span_seconds, twap_cents)`` row when the trail goes idle. The
    "position's time-weighted price while the session is still open"
    workload. Cents are rounded in SPARK before the state fold (one
    IEEE round, same as batch). Tie handling is order-insensitive: an
    event at the current timestamp with a LOWER tiebreak never becomes
    the carried value and adds zero weight, so stream ≡ batch under any
    within-watermark disorder (the parity test's oracle).
    """
    import pandas as pd

    cents_df = events.withColumn(
        "__cents", F.round(F.col(value_col) * 100).cast("long")
    )

    def init(u):
        return {
            "uuid": u, "n": 0, "first_t": None,
            "last_t": None, "last_tb": None, "last_c": None, "ws": 0,
        }

    def step(st, chunk):
        for t, tb, c in zip(
            chunk["time"].to_numpy(),
            chunk[tiebreak_col].to_numpy(),
            chunk["__cents"].to_numpy(),
        ):
            t, tb, c = int(t), int(tb), int(c)
            st["n"] += 1
            if st["last_t"] is None:
                st["first_t"] = t
                st["last_t"], st["last_tb"], st["last_c"] = t, tb, c
            elif (t, tb) > (st["last_t"], st["last_tb"]):
                st["ws"] += st["last_c"] * (t - st["last_t"])
                st["last_t"], st["last_tb"], st["last_c"] = t, tb, c
            # else: same-timestamp event with a lower tiebreak — counted,
            # zero weight, never becomes the carried value
        return st, None

    def finish(st):
        span = st["last_t"] - st["first_t"]
        if span > 0:
            ws = st["ws"]
            twap = ws // span if ws >= 0 else -((-ws) // span)
        else:
            twap = st["last_c"]
        return pd.DataFrame(
            {
                "uuid": [st["uuid"]],
                "n_events": [st["n"]],
                "span_seconds": [span],
                "twap_cents": [twap],
            }
        )

    return apply_to_trails_stream(
        cents_df,
        init,
        step,
        finish,
        output_schema=(
            "uuid string, n_events long, span_seconds long, twap_cents long"
        ),
        uuid_col=uuid_col,
        ts_col=ts_col,
        carry_cols=(tiebreak_col, "__cents"),
        watermark=watermark,
        idle_timeout=idle_timeout,
    )
