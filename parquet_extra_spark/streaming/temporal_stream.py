"""Streaming as-of enrichment — the event-time temporal join on streams.

``asof_enrich_stream`` joins a left event stream to the most recent
right-stream row at-or-before each event, per key (Flink's event-time
temporal join; the streaming face of operators/temporal.asof_join).
Both streams union into one keyed stateful operator
(``applyInPandasWithState``); state per key is ONE row — the latest
right (time, payload) seen — so state size is O(keys), independent of
stream volume.

Within a micro-batch rows sort by (time, side) with right rows first at
equal timestamps (inclusive ties, as in batch asof_join); matching is
vectorized: a running maximum over right-row positions (numpy
``maximum.accumulate``) gathers each left row's provider, so genuinely
NULL right payloads are carried faithfully (no forward-fill-skips-null
hazard).  A left event older than the key's carried right time is
served from that state anyway and tagged ``late=true`` — the documented
trade of O(1) state (a full right history buffer would be needed to
re-serve the past; that's the batch operator's job).

The batch ``asof_join`` on an in-order replay of the same two streams
is the exact oracle (tested in tests/test_temporal_stream.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.worker import kernel

_SIDE = "__side"
_T = "__t"


def asof_enrich_stream(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    *,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """-> streaming (on, <left cols>, <right_time>_us, right_cols...,
    late): each left event enriched with the key's most recent right row
    (event-time at-or-before within the batch; carried state across
    batches). Update output mode.

    Times are emitted as epoch micros (``*_us``) — the state tuple and
    the cross-engine oracle both want integer micros, not tz-ambiguous
    timestamps.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_time)]
    left_cols = [c for c in left.columns if c != on]

    lschema = dict(zip(left.schema.names, [f.dataType.simpleString() for f in left.schema.fields]))
    rschema = dict(zip(right.schema.names, [f.dataType.simpleString() for f in right.schema.fields]))

    def _out_type(spark_type: str) -> str:
        # times surface as epoch micros
        return "bigint" if spark_type.startswith("timestamp") else spark_type

    out_fields = [f"{on} {lschema[on]}"]
    out_fields += [
        f"{c}{'_us' if lschema[c].startswith('timestamp') else ''} "
        f"{_out_type(lschema[c])}"
        for c in left_cols
    ]
    out_fields.append(f"{right_time}_us bigint")
    out_fields += [f"{c} {_out_type(rschema[c])}" for c in right_cols]
    out_fields.append("late boolean")
    out_schema = ", ".join(out_fields)

    # state: latest right (time micros, payloads...) — payload types as
    # on the right stream (timestamps as micros)
    state_schema = ", ".join(
        ["rt_us bigint"] + [f"{c} {_out_type(rschema[c])}" for c in right_cols]
    )

    l_tag = left.select(
        F.col(on),
        F.col(left_time).alias(_T),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(rschema[c]).alias(f"__r_{c}") for c in right_cols],
    )
    # batch asof_join semantics: right rows with NULL time are ignored
    # (they can never be an as-of match) and so are null-KEY right rows
    # (equi-join is null-unsafe; groupBy(on) would otherwise group NULL
    # keys and serve them as providers/carried state) — drop both before
    # the union, matching operators/temporal.asof_join exactly.
    r_tag = right.where(
        F.col(right_time).isNotNull() & F.col(on).isNotNull()
    ).select(
        F.col(on),
        F.col(right_time).alias(_T),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(lschema[c]).alias(c) for c in left_cols],
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    unioned = l_tag.unionByName(r_tag)

    ts_like = {
        c for c in left_cols if lschema[c].startswith("timestamp")
    }

    def _us(series: pd.Series) -> pd.Series:
        # EXPLICIT NaT handling (not pandas' silent astype): NaT views as
        # int64 min — a deterministic sentinel that sorts first, matching
        # batch asof_join's nulls-first order. Callers consult the
        # original series' isna() wherever NULL must surface as NULL.
        dt = pd.to_datetime(series)
        return pd.Series(
            dt.to_numpy(dtype="datetime64[ns]").view("int64"),
            index=series.index,
        ).floordiv(1000)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = list(state.get)
        else:
            st = [None] + [None] * len(right_cols)
        for pdf in pdfs:
            if pdf.empty:
                continue
            t_us = _us(pdf[_T])
            order = np.lexsort((pdf[_SIDE].to_numpy(), t_us.to_numpy()))
            b = pdf.iloc[order].reset_index(drop=True)
            bt = t_us.iloc[order].reset_index(drop=True)
            side = b[_SIDE].to_numpy()
            # null left times match NOTHING (batch asof_join semantics);
            # the sentinel sorts them first so they inherit no in-batch
            # provider, and this mask blocks the carried-state fallback.
            t_null = pdf[_T].isna().to_numpy()[order]
            n = len(b)
            # provider index per row: last right row at-or-before it;
            # -1 = the carried state (or nothing)
            rpos = np.where(side == 0, np.arange(n), -1)
            provider = np.maximum.accumulate(rpos)
            is_left = side == 1
            prov_l = provider[is_left]
            lrows = b.loc[is_left]
            lt = bt[is_left].to_numpy()
            lnull = t_null[is_left]

            out = {on: lrows[on].to_numpy()}
            for c in left_cols:
                if c in ts_like:
                    arr = pd.array(
                        _us(lrows[c]).to_numpy(), dtype="Int64"
                    )
                    arr[lrows[c].isna().to_numpy()] = pd.NA
                    out[f"{c}_us"] = arr
                else:
                    out[c] = lrows[c].to_numpy()
            # match rule (right stream in event-time order per key):
            #   in-batch provider exists         -> its row (exact)
            #   else carried state, rt <= event  -> state (exact)
            #   else carried state, rt >  event  -> state, late=True
            #     (the event predates everything we still hold; serving
            #      the current state is the O(1)-state trade)
            #   else                             -> NULL match
            carried_rt = st[0]
            has_prov = prov_l >= 0
            bt_np = bt.to_numpy()
            rt_out, late = [], []
            for hp, p, lt_i, ln in zip(has_prov, prov_l, lt, lnull):
                if ln:
                    rt_out.append(None)
                    late.append(False)
                elif hp:
                    rt_out.append(int(bt_np[p]))
                    late.append(False)
                elif carried_rt is not None:
                    rt_out.append(int(carried_rt))
                    late.append(bool(lt_i < carried_rt))
                else:
                    rt_out.append(None)
                    late.append(False)
            out[f"{right_time}_us"] = pd.array(rt_out, dtype="Int64")
            for i, c in enumerate(right_cols):
                src = b[f"__r_{c}"]
                if rschema[c].startswith("timestamp"):
                    # a genuinely NULL right timestamp payload must emit
                    # NULL, never the int64 NaT sentinel
                    src = _us(src).astype(object).where(src.notna(), None)
                src_np = src.to_numpy(dtype=object)
                out[c] = pd.Series(
                    [
                        None if ln
                        else src_np[p] if hp
                        else st[1 + i] if carried_rt is not None
                        else None
                        for hp, p, ln in zip(has_prov, prov_l, lnull)
                    ],
                    dtype=object,
                )
            out["late"] = late
            # advance state to the batch's newest right row (if any)
            r_idx = np.nonzero(side == 0)[0]
            if len(r_idx):
                last = int(r_idx[-1])
                new_rt = int(bt.iloc[last])
                if carried_rt is None or new_rt >= carried_rt:
                    st = [new_rt]
                    for c in right_cols:
                        v = b[f"__r_{c}"].iloc[last]
                        if pd.isna(v):
                            # isna BEFORE any conversion: a NaT timestamp
                            # payload must carry as None, not the sentinel
                            st.append(None)
                            continue
                        if rschema[c].startswith("timestamp"):
                            v = int(_us(pd.Series([v])).iloc[0])
                        st.append(v)
            yield pd.DataFrame(out)
        state.update(tuple(st))

    return unioned.groupBy(on).applyInPandasWithState(
        kernel(update),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
