"""Ingestion adapter pure-function tests (no network), plus the Kafka
source option map, the wire schema and the freshness check.
"""

from __future__ import annotations

import json

from crypto_trading_data_pipeline_spark.ingest import (
    backoff_schedule,
    normalize_trade_message,
    subscribe_frame,
)


def test_subscribe_frame():
    frame = json.loads(subscribe_frame(["BTCUSDT", "ethusdt"]))
    assert frame["method"] == "SUBSCRIBE"
    assert frame["params"] == ["btcusdt@trade", "ethusdt@trade"]


def test_normalize_trade_message_roundtrip():
    raw = json.dumps(
        {"e": "trade", "t": 9, "s": "BTCUSDT", "p": "42000.10", "q": "0.5",
         "T": 1700000000000, "m": False, "E": 1700000000001}
    )
    rec = normalize_trade_message(raw)
    assert rec == {
        "trade_id": 9,
        "symbol": "BTCUSDT",
        "price": "42000.10",  # strings preserved: exact-precision transport
        "quantity": "0.5",
        "trade_time": 1700000000000,
        "is_buyer_maker": False,
    }


def test_normalize_drops_non_trades_and_garbage():
    assert normalize_trade_message(json.dumps({"e": "aggTrade", "t": 1})) is None
    assert normalize_trade_message("not json{") is None
    assert normalize_trade_message(json.dumps({"e": "trade", "t": 1})) is None  # missing fields
    assert normalize_trade_message(json.dumps([1, 2])) is None


def test_backoff_schedule_caps():
    sched = backoff_schedule()
    assert [next(sched) for _ in range(6)] == [5, 10, 20, 40, 60, 60]


def test_freshness_check(spark):
    """Monitor semantics (reference monitor DAG): fresh row within horizon
    -> OK; all rows older -> check fails."""
    from datetime import datetime, timezone

    from crypto_trading_data_pipeline_spark.monitor import freshness_ok

    rows = [
        ("BTCUSDT", datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)),
        ("BTCUSDT", datetime(2024, 3, 1, 12, 4, 0, tzinfo=timezone.utc)),
    ]
    df = spark.createDataFrame(rows, ["symbol", "window_start"])
    fresh_now = datetime(2024, 3, 1, 12, 5, 30)   # 90s after newest row
    stale_now = datetime(2024, 3, 1, 12, 8, 0)    # 4min after newest row
    assert freshness_ok(df, now=fresh_now)
    assert not freshness_ok(df, now=stale_now)


def test_kafka_source_options_match_reference():
    """The option map must be byte-for-byte what the reference passes to
    readStream (spark_processor/processor.py:54-60): bootstrap servers,
    subscribe topic, startingOffsets=latest. No broker/connector exists in
    this container, so the assembly is the testable unit (T8)."""
    from crypto_trading_data_pipeline_spark.sources import kafka_source_options

    opts = kafka_source_options(topic="crypto_trades", brokers="kafka:9092")
    assert opts == {
        "kafka.bootstrap.servers": "kafka:9092",
        "subscribe": "crypto_trades",
        "startingOffsets": "latest",
    }
    opts = kafka_source_options(topic="t", brokers="b:9092", starting_offsets="earliest")
    assert opts["startingOffsets"] == "earliest"


def test_wire_schema_matches_reference_field_for_field():
    """TRADE_SCHEMA — the from_json wire schema every Kafka path parses
    with — must equal reference spark_processor/processor.py:43-52
    field-for-field (name, type, order): decimals ride as STRINGS on the
    wire, trade_time is epoch-millis LONG; the typed casts happen after
    parse (parse_trades). Unconditional twin of the assert inside the
    broker-gated test_kafka_integration so the contract is enforced on
    every suite run, not only where a broker exists."""
    from crypto_trading_data_pipeline_spark.schemas import TRADE_SCHEMA

    assert [
        (f.name, f.dataType.simpleString()) for f in TRADE_SCHEMA.fields
    ] == [
        ("trade_id", "bigint"),
        ("symbol", "string"),
        ("price", "string"),
        ("quantity", "string"),
        ("trade_time", "bigint"),
        ("is_buyer_maker", "boolean"),
    ]
