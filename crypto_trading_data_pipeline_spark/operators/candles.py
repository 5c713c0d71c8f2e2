"""OHLCV candle aggregation — the reference's core computation.

Rebuilds the windowed aggregate at reference spark_processor/processor.py:77-101
(groupBy(window(trade_time, "1 minute"), symbol) with first/last/max/min/sum
and a vwap post-projection), with two deliberate changes:

- ``first``/``last`` are order-dependent and non-deterministic in Spark
  (SURVEY.md §2.3 A3); we use ``min_by``/``max_by`` on the event timestamp,
  which is deterministic and maps to DuckDB ``arg_min``/``arg_max``.
- The transform is DataFrame-in/DataFrame-out and works on both batch and
  streaming inputs; the streaming job adds ``withWatermark`` before calling
  (see streaming/job.py), mirroring processor.py:78.

Scale: the aggregate is a pair of HashAggregateExec phases (partial before
the shuffle, final after), so the shuffle carries one row per
(key, window) per input partition — at 100 TB with minute windows this is
the right plan: no sort, bounded state, no skew beyond key skew (use
``salt`` helpers in operators/scale.py for pathological keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ohlcv(
    df: DataFrame,
    *,
    ts_col: str = "trade_time",
    key_col: str = "symbol",
    price_col: str = "price",
    qty_col: str | None = "quantity",
    round_digits: int | None = None,
) -> DataFrame:
    """Per-(key, tumbling 1-minute window) OHLCV candles.

    When ``qty_col`` is None every row counts as quantity 1 (the fixture
    ``events`` table has a price-like ``value`` but no quantity), so
    total_volume == n_trades and vwap == mean price.
    """
    price = F.col(price_col)
    qty: Column = F.col(qty_col) if qty_col else F.lit(1.0)
    w = F.window(F.col(ts_col), "1 minute")

    def _r(c: Column) -> Column:
        return F.round(c, round_digits) if round_digits is not None else c

    agg = (
        df.groupBy(w.alias("w"), F.col(key_col).alias("symbol"))
        .agg(
            F.min_by(price, F.col(ts_col)).alias("open_price"),
            F.max(price).alias("high_price"),
            F.min(price).alias("low_price"),
            F.max_by(price, F.col(ts_col)).alias("close_price"),
            _r(F.sum(qty)).alias("total_volume"),
            _r(F.sum(price * qty)).alias("total_value"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        # No ROUND on vwap: both operands are already engine-identical
        # (rounded sums), so the division is bit-identical too — rounding a
        # quotient can land exactly on a decimal boundary where engines'
        # rounding modes disagree.
        .withColumn("vwap", F.col("total_value") / F.col("total_volume"))
    )
    return agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        F.col("w.end").cast("timestamp_ntz").alias("window_end"),
        "symbol",
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "total_volume",
        "total_value",
        "n_trades",
        "vwap",
    )


def rollup_candles(candles: DataFrame) -> DataFrame:
    """Re-aggregate fine candles into 5-minute ones WITHOUT touching raw
    trades — the hypertable-rollup pattern (1-min candles are ~10^3-10^5x
    smaller than the trade stream, so a day of rollups reads megabytes,
    not terabytes).

    OHLCV re-aggregates exactly: open = open of the earliest sub-window
    (min_by on window_start), close = close of the latest, high/low = max/
    min, volume/value/trades = sums; vwap recomputes from the summed
    numerator/denominator (averaging sub-window vwaps would be wrong).
    The summed volume and value round to 4 places, so both engines hold
    the identical doubles the vwap divides.
    """
    w = F.window(F.col("window_start"), "5 minutes")
    agg = (
        candles.groupBy(w.alias("w"), "symbol")
        .agg(
            F.min_by("open_price", F.col("window_start")).alias("open_price"),
            F.max("high_price").alias("high_price"),
            F.min("low_price").alias("low_price"),
            F.max_by("close_price", F.col("window_start")).alias("close_price"),
            F.round(F.sum("total_volume"), 4).alias("total_volume"),
            F.round(F.sum("total_value"), 4).alias("total_value"),
            F.sum("n_trades").alias("n_trades"),
        )
        .withColumn("vwap", F.col("total_value") / F.col("total_volume"))
    )
    return agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        F.col("w.end").cast("timestamp_ntz").alias("window_end"),
        "symbol",
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "total_volume",
        "total_value",
        "n_trades",
        "vwap",
    )


def gap_fill_candles(candles: DataFrame) -> DataFrame:
    """Fill missing 1-minute candle windows per symbol with flat
    carry-forward candles (TimescaleDB time_bucket_gapfill + locf, rebuilt
    on stock Spark).

    Empty minutes happen whenever a symbol has no trades in a window — a
    chartable series needs every minute present. For each symbol the full
    [first, last] ``window_start`` grid is generated (sequence + explode —
    narrow, sized by time span not by trade count), left-joined against the
    real candles, and gaps become zero-trade flat candles: open, high, low
    and close all take the last observed close (last(ignorenulls) running
    frame — one sort per key partition, no self-join) and ``n_trades`` is
    0. ``is_gap`` marks synthesized rows.

    Scale: grid rows = span/step per key — independent of trade volume, so
    at 100 TB of trades the grid side stays tiny; the join shuffles on
    (key, window) with AQE free to broadcast the grid.
    """
    lo, hi = F.min("window_start"), F.max("window_start")
    bounds = candles.groupBy("symbol").agg(lo.alias("__lo"), hi.alias("__hi"))
    grid = bounds.select(
        "symbol",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 minute"))
        ).alias("window_start"),
    )
    joined = grid.join(candles, ["symbol", "window_start"], "left")
    w = Window.partitionBy("symbol").orderBy("window_start")
    out = joined.withColumn("is_gap", F.col("n_trades").isNull()).withColumn(
        "__ff", F.last(F.col("close_price"), ignorenulls=True).over(w)
    )
    for c in ("open_price", "high_price", "low_price", "close_price"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.col("__ff")))
    out = out.withColumn("n_trades", F.coalesce(F.col("n_trades"), F.lit(0)))
    return out.drop("__ff")
