"""Custom stateful streaming operator via applyInPandasWithState.

``running_totals_stream`` maintains per-key running ingest totals
(documents, bytes, max timestamp) across micro-batches — the custom-
state pattern the built-in windowed aggregates can't express (totals
are cumulative over the whole stream, not per window). State lives in
Spark's state store keyed by the group column, so the operator scales
exactly like the built-ins: one shuffle on the key per micro-batch,
state partitioned with it; batches reach the function as Arrow-backed
pandas frames (vectorized, no per-row Python).

This is the engine's worked example of the applyInPandasWithState
surface for custom stateful operators; content dedup uses the built-in
dropDuplicatesWithinWatermark instead (streaming/dedup_stream.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.worker import kernel

_OUT_SCHEMA = "key string, n_docs bigint, n_bytes bigint"
_STATE_SCHEMA = "n_docs bigint, n_bytes bigint"


def running_totals_stream(
    stream_df: DataFrame,
    key_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """-> streaming (key, n_docs, n_bytes): cumulative per-key totals,
    one updated row per key per micro-batch (update output mode)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_docs, n_bytes = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_docs += len(pdf)
            n_bytes += int(
                pdf[text_col].astype("string").str.len().fillna(0).sum()
            )
        state.update((n_docs, n_bytes))
        yield pd.DataFrame(
            {"key": [key[0]], "n_docs": [n_docs], "n_bytes": [n_bytes]}
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        kernel(update),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
