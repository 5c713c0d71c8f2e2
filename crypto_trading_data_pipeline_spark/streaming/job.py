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
  bound above is what bounds that driver memory;
- checkpoint writes: every trigger writes the offset log, the commit log
  and one state-store delta per shuffle partition. Spark's default
  manager goes through Hadoop's FileContext, which on the local
  filesystem without native-hadoop forks ``readlink``/``ls``/``chmod``
  for each write, so a ``file:`` checkpoint starts its query with Spark's
  ``FileSystemBasedCheckpointFileManager`` instead. Both write a temp
  file and rename it, and on the local filesystem both check before the
  rename, so neither is more atomic there; ``.crc`` checksums are still
  written. Any other scheme (HDFS, object stores) keeps Spark's default,
  whose FileContext rename is the atomic one Spark relies on there. The
  RocksDB comparison above was measured while every checkpoint write
  still forked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.candles import ohlcv

_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
#: How long a start waits for the query to build its sources.
_INIT_TIMEOUT_MS = 60_000


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
    A ``file:`` checkpoint is written through Spark's FileSystem-based
    checkpoint manager (see "Scale posture"); the session's conf reads as
    before once this returns.
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
    spark = candles.sparkSession
    manager = checkpoint_manager(spark, checkpoint_dir)
    if manager is None:
        return writer.start()
    # The query runs on a clone of the session taken inside start(), so
    # the setting stays with this query once the session's is restored.
    # The file source builds its log from the session itself, on the
    # query's thread, so the restore waits for the query's initialization.
    before = spark.conf.get(_CHECKPOINT_MANAGER_CONF, None)
    spark.conf.set(_CHECKPOINT_MANAGER_CONF, manager)
    try:
        query = writer.start()
        query._jsq.streamingQuery().awaitInitialization(_INIT_TIMEOUT_MS)
        return query
    finally:
        if before is None:
            spark.conf.unset(_CHECKPOINT_MANAGER_CONF)
        else:
            spark.conf.set(_CHECKPOINT_MANAGER_CONF, before)


def checkpoint_manager(spark, checkpoint_dir: str) -> str | None:
    """The checkpoint manager class a query on ``checkpoint_dir`` starts
    with: Spark's FileSystem-based one when the dir's Hadoop-qualified
    scheme is ``file`` (a scheme-less path takes ``fs.defaultFS``'s),
    ``None`` (Spark's default) otherwise."""
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    scheme = hadoop_fs.Path(checkpoint_dir).toUri().getScheme()
    if scheme is None:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop_fs.FileSystem.getDefaultUri(conf).getScheme()
    return _FS_CHECKPOINT_MANAGER if scheme == "file" else None
