"""Streaming gap-based sessionization.

Two surfaces, matching the batch pair in operators/temporal.py:

* ``session_rollup_stream`` — Spark's native ``session_window`` with a
  watermark: per (key, session) aggregates, emitted when the watermark
  passes a session's close (gap elapsed).  This is the built-in,
  state-store-backed path — sessions merge across micro-batches, late
  rows within the watermark re-open their session, state is evicted by
  the watermark.  Scales like any streaming agg: one shuffle on
  (key, session window), state partitioned with it.

* ``session_ids_stream`` — custom stateful path via
  ``applyInPandasWithState`` for when per-EVENT session ids are needed
  (the built-in only yields per-session aggregates): state carries
  (last event time, running session counter) per key; each batch's
  events sort once and number via a vectorized cumsum of gap breaks.
  Event-time ordering is guaranteed WITHIN a batch; a cross-batch late
  event (older than the key's last seen time) is tagged ``late=true``
  and numbered in arrival order — the documented trade of per-event
  ids without buffering unbounded history.  State: two scalars per key,
  O(keys) total, independent of event volume.

The batch ``sessionize`` (operators/temporal.py) is the exact oracle
for both on an in-order replay of the same events.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.worker import kernel


def _agg_names(aggs: list[Column]) -> list[str]:
    # a Column carries its alias in the expression string: "expr AS alias"
    names = []
    for a in aggs:
        s = a._jc.toString()
        names.append(s.rsplit(" AS ", 1)[-1].strip("`") if " AS " in s else s)
    return names


def session_rollup_stream(
    stream_df: DataFrame,
    key: str,
    time_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    *,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Streaming per-session aggregates via the native session_window.

    Emits one row per (key, session): session start/end bounds from the
    window struct, event count, plus caller aggregates. Append output
    mode — a session row is final once the watermark passes its close.
    """
    aggs = aggs or []
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap).alias("sw"), key)
        .agg(F.count(F.lit(1)).alias("n_events"), *aggs)
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            *_agg_names(aggs),
        )
    )


def session_ids_stream(
    stream_df: DataFrame,
    key: str,
    time_col: str,
    gap_seconds: float,
) -> DataFrame:
    """Per-event session ids over a stream (update mode).

    Output: (key, event time epoch-us, session_n, late). Gap boundary
    matches batch ``sessionize``: a new session starts strictly ABOVE
    the gap (delta == gap keeps the session).
    """
    key_type = stream_df.schema[key].dataType.simpleString()
    out_schema = f"{key} {key_type}, t_us bigint, session_n bigint, late boolean"
    state_schema = "last_us bigint, session_n bigint"
    gap_us = int(gap_seconds * 1_000_000)

    def update(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_us, session_n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            t = pd.to_datetime(pdf[time_col]).astype("int64").floordiv(1000)
            ts = t.sort_values(kind="stable").reset_index(drop=True)
            prev = ts.shift(1)
            if last_us is None:
                prev.iloc[0] = pd.NA
                brk = prev.isna() | ((ts - prev) > gap_us)
                late = pd.Series(False, index=ts.index)
            else:
                prev.iloc[0] = last_us
                brk = (ts - prev) > gap_us
                late = ts < last_us
            sess = session_n + brk.astype("int64").cumsum()
            if last_us is not None and int(sess.iloc[0]) == session_n and session_n == 0:
                sess = sess + 1  # defensive: state existed but counter 0
            session_n = int(sess.iloc[-1]) if len(sess) else session_n
            new_last = int(ts.iloc[-1])
            last_us = new_last if last_us is None else max(last_us, new_last)
            yield pd.DataFrame(
                {key: [k[0]] * len(ts), "t_us": ts, "session_n": sess,
                 "late": late}
            )
        state.update((int(last_us) if last_us is not None else 0,
                      int(session_n)))

    return stream_df.groupBy(key).applyInPandasWithState(
        kernel(update),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
