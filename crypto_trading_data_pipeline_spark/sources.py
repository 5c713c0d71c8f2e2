"""Input adapters: the Kafka source (prod) and a file source (tests and the
benchmark), plus the trade-message parse transform shared by batch and
streaming.

Reference mapping:
- Kafka stream source  -> reference spark_processor/processor.py:54-60
- byte->string cast    -> processor.py:65
- from_json parse      -> processor.py:66 (explicit TRADE_SCHEMA, PERMISSIVE)
- struct expansion     -> processor.py:67
- decimal casts        -> processor.py:71-72 (string -> DECIMAL(20,8))
- epoch-ms -> ts       -> processor.py:73
- trade_value          -> processor.py:74
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import MONEY, TRADE_SCHEMA


def kafka_source_options(
    *, topic: str, brokers: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    """The exact Kafka source option map the reference builds
    (processor.py:54-60: bootstrap servers, subscribe, startingOffsets) —
    assembled as a pure function so the mapping is testable without a
    broker or the connector JAR on the classpath."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_stream(
    spark: SparkSession,
    *,
    topic: str,
    brokers: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Streaming Kafka source (reference processor.py:54-60). Requires the
    spark-sql-kafka connector JARs on the classpath (shipped via spark-submit
    --jars in production, as the reference's submit DAG does)."""
    opts = kafka_source_options(
        topic=topic, brokers=brokers, starting_offsets=starting_offsets
    )
    return spark.readStream.format("kafka").options(**opts).load()


def parse_trades(raw: DataFrame) -> DataFrame:
    """Kafka ``value`` bytes -> typed trade rows.

    Works identically on batch and streaming DataFrames; malformed JSON
    yields NULL structs (PERMISSIVE), dropped by the trade_id filter.
    """
    parsed = (
        raw.select(F.col("value").cast("string").alias("json_str"))
        .select(F.from_json("json_str", TRADE_SCHEMA).alias("data"))
        .select("data.*")
    )
    return (
        parsed.filter(F.col("trade_id").isNotNull())
        .withColumn("price", F.col("price").cast(MONEY))
        .withColumn("quantity", F.col("quantity").cast(MONEY))
        .withColumn("trade_time", F.timestamp_millis(F.col("trade_time")))
        .withColumn("trade_value", F.col("price") * F.col("quantity"))
    )


def file_json_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based stand-in for the Kafka source in tests: each JSON line is
    one message; exposes the same ``value``-column shape."""
    return spark.readStream.schema("value STRING").format("text").load(path)
