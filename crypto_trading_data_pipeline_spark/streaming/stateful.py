"""The engine's one custom-state streaming operator (applyInPandasWithState).

The reference's only stateful computation is the built-in windowed aggregate
(spark_processor/processor.py:77-89), rebuilt in streaming/job.py. Built-ins
cover keyed *windowed* state; what they cannot express is an aggregate that
never resets — a running, all-history VWAP per symbol that updates every
micro-batch. That needs user-managed state: applyInPandasWithState gives
Arrow-batched per-key state with a GroupState lifecycle.

Scale posture:
- state is per-key and fixed-size (a handful of doubles), so 10M symbols
  cost ~hundreds of MB across the cluster — bounded regardless of input;
- the operator shuffles on the key once per micro-batch (same as any keyed
  agg);
- Arrow batching means the Python hop costs per-BATCH, not per-row.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_STATS_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("n_trades", LongType()),
        StructField("total_volume", DoubleType()),
        StructField("total_value", DoubleType()),
        StructField("vwap", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("vol", DoubleType()),
        StructField("val", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
    ]
)


def _update_running_stats(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one key into the running state and
    emit the updated cumulative row. Pure pandas inside — Arrow moves the
    columns, no per-row Python."""
    n, vol, val, high, low = (
        state.get if state.exists else (0, 0.0, 0.0, float("-inf"), float("inf"))
    )
    for pdf in pdfs:
        if pdf.empty:
            continue
        price = pdf["price"].astype("float64")
        qty = pdf["qty"].astype("float64")
        n += len(pdf)
        vol += float(qty.sum())
        val += float((price * qty).sum())
        high = max(high, float(price.max()))
        low = min(low, float(price.min()))
    state.update((n, vol, val, high, low))
    yield pd.DataFrame(
        {
            "symbol": [key[0]],
            "n_trades": [n],
            "total_volume": [vol],
            "total_value": [val],
            "vwap": [val / vol if vol else None],
            "high": [high],
            "low": [low],
        }
    )


def running_trade_stats(
    trades: DataFrame,
    *,
    key_col: str = "symbol",
    price_col: str = "price",
    qty_col: str = "quantity",
) -> DataFrame:
    """All-history running stats per key, updated each micro-batch.

    Emits one cumulative row per key per trigger (update semantics): trade
    count, volume, turnover, running VWAP, all-time high/low. Decimal inputs
    are cast to double BEFORE the Python hop — Arrow ships primitive buffers
    instead of objects.
    """
    projected = trades.select(
        F.col(key_col).cast("string").alias("symbol"),
        F.col(price_col).cast("double").alias("price"),
        F.col(qty_col).cast("double").alias("qty"),
    )
    return projected.groupBy("symbol").applyInPandasWithState(
        _update_running_stats,
        outputStructType=RUNNING_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
