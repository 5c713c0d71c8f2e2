"""Live-broker Kafka smoke test — the LAST fidelity gap with the
reference's runtime (docker-compose.yml:81 runs a real broker; this
container does not, so the module SKIPS unless pointed at one).

To run it for real, anywhere Docker exists (one command per step):

    # 1. a single-node broker on localhost:9092 (redpanda needs no
    #    zookeeper and is kafka-API-compatible):
    docker run -d --name=redpanda -p 9092:9092 \
        docker.redpanda.com/redpandadata/redpanda:latest \
        redpanda start --overprovisioned --smp 1 --memory 1G \
        --kafka-addr PLAINTEXT://0.0.0.0:9092 \
        --advertise-kafka-addr PLAINTEXT://localhost:9092
    # 2. the connector JARs on the session classpath + the broker env:
    PYSPARK_SUBMIT_ARGS="--packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 pyspark-shell" \
    SPARK_GRAFT_KAFKA_BROKERS=localhost:9092 \
        python -m pytest tests/test_kafka_integration.py
    # 3. teardown:  docker rm -f redpanda

The streaming side is the exact production wiring: sources.kafka_stream
is a thin option-builder over Spark's built-in connector, so the unit
suites prove the transforms on file-stream twins and THIS module proves
only the broker hop itself. The fixture produces the trades in the
producer's wire shape (one JSON object per message, symbol-keyed), and
the test runs kafka_stream -> parse_trades -> candle_stream, matching
reference spark_processor/processor.py:54-101.
"""

from __future__ import annotations

import os
import uuid

import pytest

BROKERS = os.environ.get("SPARK_GRAFT_KAFKA_BROKERS")

pytestmark = pytest.mark.skipif(
    not BROKERS,
    reason=(
        "live Kafka smoke test: set SPARK_GRAFT_KAFKA_BROKERS=host:port "
        "(and put spark-sql-kafka on the classpath) to enable"
    ),
)

#: 20 deterministic trades in the producer wire shape
#: (reference producer/producer.py:51-58): price/quantity as strings,
#: trade_time in epoch millis, two symbols interleaved.
_TRADES = [
    {
        "trade_id": i,
        "symbol": "BTCUSDT" if i % 2 == 0 else "ETHUSDT",
        "price": f"{100 + i}.{i:02d}",
        "quantity": f"0.{i + 1:02d}",
        "trade_time": 1_700_000_000_000 + i * 1_000,
        "is_buyer_maker": i % 3 == 0,
    }
    for i in range(20)
]


def _kafka_available(spark) -> bool:
    """True when the spark-sql-kafka connector classes are loadable."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001 — any failure means "not on classpath"
        return False


@pytest.fixture(scope="module")
def topic(spark):
    if not _kafka_available(spark):
        pytest.skip("spark-sql-kafka connector not on the session classpath")
    return f"ctdp_smoke_{uuid.uuid4().hex[:8]}"


@pytest.fixture(scope="module")
def produced(spark, topic, tmp_path_factory):
    """Produce the fixture trades once in the producer's wire shape (one
    JSON object per message, keyed by symbol so a symbol's trades share a
    partition), through Spark's batch Kafka sink."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [tuple(t.values()) for t in _TRADES],
        "trade_id long, symbol string, price string, quantity string, "
        "trade_time long, is_buyer_maker boolean",
    )
    (
        df.select(
            F.col("symbol").alias("key"),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BROKERS)
        .option("topic", topic)
        .save()
    )
    return topic


def test_streaming_candles_end_to_end(spark, produced, tmp_path):
    """kafka_stream -> parse_trades -> candle_stream -> memory sink: the
    full reference runtime (processor.py:54-101) against a live broker,
    drained with an availableNow trigger so the test terminates."""
    from crypto_trading_data_pipeline_spark.sources import kafka_stream, parse_trades
    from crypto_trading_data_pipeline_spark.streaming.job import candle_stream

    raw = kafka_stream(
        spark, topic=produced, brokers=BROKERS, starting_offsets="earliest"
    )
    candles = candle_stream(parse_trades(raw))
    q = (
        candles.writeStream.format("memory")
        .queryName("kafka_smoke_candles")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM kafka_smoke_candles").collect()
    # 20 trades x 2 symbols across a 19-second span -> exactly one 1-min
    # window per symbol.
    assert {r.symbol for r in out} == {"BTCUSDT", "ETHUSDT"}
    assert all(r.n_trades == 10 for r in out)
