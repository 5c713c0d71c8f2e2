"""The streaming candle job — the reference's entire runtime, rebuilt.

Reference pipeline (spark_processor/processor.py:54-112):
  Kafka -> parse -> withWatermark("2 minutes") -> 1-min windowed OHLCV agg
  -> outputMode(update) -> foreachBatch(postgres upsert)
  -> trigger(60s) -> checkpoint -> awaitTermination.

Ours composes the SAME batch transforms (sources.parse_trades,
operators.candles.ohlcv) over a streaming input — correctness of the
aggregation is proven on the batch twin by the DuckDB oracle
(q_ohlcv_1min); the streaming tests cover the streaming-only semantics
(watermark lateness, update mode, idempotent upsert).

Scale posture (100 TB/day firehose):
- state store: the default HDFS-backed provider. The built-in RocksDB
  provider (``spark.sql.streaming.stateStore.providerClass``) would move
  per-executor state off-heap; on the benchmark's candle stream it was no
  faster, so nothing sets it;
- watermark bounds state: 2 min lateness x |symbols| x 1-min windows;
- the agg is partial+final, so the shuffle carries one row per
  (symbol, window) per input partition per trigger;
- the update-mode output per trigger is at most the state rows, so the
  parquet sink collects each batch to the driver (``toArrow``, the plan's
  one execution) and writes it as one file with pyarrow; the watermark
  bound above is what bounds that driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.candles import ohlcv


def candle_stream(
    trades: DataFrame,
    *,
    ts_col: str = "trade_time",
    key_col: str = "symbol",
    price_col: str = "price",
    qty_col: str | None = "quantity",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked streaming OHLCV aggregate (reference processor.py:77-101).

    Rows later than ``watermark`` are dropped; in-window candles keep
    updating until the watermark passes window end.
    """
    return ohlcv(
        trades.withWatermark(ts_col, watermark),
        ts_col=ts_col,
        key_col=key_col,
        price_col=price_col,
        qty_col=qty_col,
        window_duration=window_duration,
    )


def start_candle_query(
    candles: DataFrame,
    *,
    sink,  # Callable[[DataFrame, int], None] — a foreachBatch writer
    checkpoint_dir: str,
    trigger_seconds: int | None = 60,
    available_now: bool = False,
    query_name: str = "candles_1min",
) -> StreamingQuery:
    """Start the update-mode foreachBatch query (reference processor.py:103-109).

    ``trigger_seconds=None`` -> ASAP micro-batches (test mode with
    processAllAvailable); ``available_now=True`` -> drain-and-stop.
    """
    writer = (
        candles.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
