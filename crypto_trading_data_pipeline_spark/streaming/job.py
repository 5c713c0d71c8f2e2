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
- one trigger per micro-batch: the query starts with no-data
  micro-batches off (``spark.sql.streaming.noDataMicroBatches.enabled``).
  In update mode the watermark only evicts state and never changes the
  output, so no trigger runs only to evict: eviction runs at the start of
  the next data batch;
- late rows are filtered by the batch's own watermark: the query starts
  with ``spark.sql.streaming.statefulOperator.allowMultiple`` off, which
  is possible because it has one stateful operator only. With it on,
  Spark filters late rows by the previous batch's watermark, which only
  a no-data batch in between brings up to date. A resumed query takes
  the watermark from the commit log;
- watermark bounds state: 2 min lateness plus one trigger, x |symbols|
  x 1-min windows, since a closed window waits for the next data batch
  to be evicted;
- the agg is partial+final, so the shuffle carries one row per
  (symbol, window) per input partition per trigger;
- the update-mode output per trigger is at most the state rows, so the
  parquet sink collects each batch to the driver (``toArrow``, the plan's
  one execution and the trigger's one Spark job) and writes it as one
  file with pyarrow; the watermark bound above is what bounds that driver
  memory. Its fold also merges and writes with pyarrow on the driver, so
  a folding trigger holds the folded table's rows there, which the
  table's history, not the watermark, bounds;
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
#: What the candle query starts with on its own session, whatever the
#: checkpoint's scheme (see "Scale posture").
_QUERY_CONF = {
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    "spark.sql.streaming.statefulOperator.allowMultiple": "false",
}
#: How long a start waits for the query to build its sources.
_INIT_TIMEOUT_MS = 60_000


def candle_stream(trades: DataFrame) -> DataFrame:
    """Watermarked streaming OHLCV aggregate (reference processor.py:77-101):
    1-minute candles per symbol over ``trade_time``, ``price`` and
    ``quantity``, under a 2-minute watermark (processor.py:78).

    Trades behind the watermark (the latest trade time seen, less 2
    minutes) are dropped; in-window candles keep updating until the
    watermark passes window end.
    """
    return ohlcv(trades.withWatermark("trade_time", "2 minutes"))


def start_candle_query(
    candles: DataFrame,
    *,
    sink,  # Callable[[DataFrame, int], None] — a foreachBatch writer
    checkpoint_dir: str,
    trigger_seconds: int | None = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the update-mode foreachBatch query (reference processor.py:103-109).

    ``trigger_seconds=None`` -> ASAP micro-batches (test mode with
    processAllAvailable); ``available_now=True`` -> drain-and-stop.
    The query runs one trigger per micro-batch, holds lateness plus one
    trigger of windows in state, and filters late rows by the batch's own
    watermark, which needs its one stateful operator; a ``file:``
    checkpoint is written through Spark's FileSystem-based checkpoint
    manager (see "Scale posture"). These are set on the query's own
    session: the caller's session conf reads as before once this returns.
    """
    writer = (
        candles.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("candles_1min")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    spark = candles.sparkSession
    confs = dict(_QUERY_CONF)
    manager = checkpoint_manager(spark, checkpoint_dir)
    if manager is not None:
        confs[_CHECKPOINT_MANAGER_CONF] = manager
    # The query runs on a clone of the session taken inside start(), so
    # the settings stay with this query once the session's are restored.
    # The file source builds its log from the session itself, on the
    # query's thread, so the restore waits for the query's initialization.
    before = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        query = writer.start()
        query._jsq.streamingQuery().awaitInitialization(_INIT_TIMEOUT_MS)
        return query
    finally:
        for key, value in before.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


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
