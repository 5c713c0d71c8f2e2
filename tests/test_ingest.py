"""Ingestion adapter pure-function tests (no network, no Spark).

The wire-side normalization must agree with the Spark-side twin
(sources.normalize_binance) so archived raw messages replay identically
through either path.
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
    sched = backoff_schedule(initial_s=5, cap_s=60)
    assert [next(sched) for _ in range(6)] == [5, 10, 20, 40, 60, 60]


def test_wire_and_spark_normalization_agree(spark):
    """The same raw message through ingest.normalize_trade_message and
    through sources.normalize_binance must yield the same record."""
    from crypto_trading_data_pipeline_spark.sources import normalize_binance

    raw = json.dumps(
        {"e": "trade", "t": "7", "s": "ETHUSDT", "p": "2200.5", "q": "2",
         "T": "1700000000000", "m": "true"}
    )
    wire = normalize_trade_message(raw)
    df = spark.createDataFrame([(raw,)], ["value"])
    spark_rec = normalize_binance(df).collect()[0].asDict()
    assert set(spark_rec) == set(wire)
    for k, v in spark_rec.items():
        assert str(v).lower() == str(wire[k]).lower(), k


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


def test_to_kafka_records_roundtrip(spark):
    """Kafka wire serialization: to_json(struct(*)) must round-trip through
    the trade parser bit-exactly, and the key must carry the symbol."""
    from crypto_trading_data_pipeline_spark.sources import parse_trades, to_kafka_records

    src = spark.createDataFrame(
        [(9, "BTCUSDT", "42000.10", "0.5", 1_700_000_000_000, False)],
        "trade_id LONG, symbol STRING, price STRING, quantity STRING, "
        "trade_time LONG, is_buyer_maker BOOLEAN",
    )
    rec = to_kafka_records(src, key_col="symbol")
    assert rec.columns == ["key", "value"]
    row = rec.collect()[0]
    assert row.key == "BTCUSDT"
    back = parse_trades(spark.createDataFrame([(row.value,)], ["value"])).collect()[0]
    assert back.trade_id == 9 and str(back.price) == "42000.10000000"
    plan = rec._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # serialization stays JVM-side


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
    # Offset-management knobs (T8): data-loss tolerance and catch-up cap.
    opts = kafka_source_options(
        topic="t",
        brokers="b:9092",
        starting_offsets="earliest",
        fail_on_data_loss=False,
        max_offsets_per_trigger=100_000,
    )
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"
    assert opts["maxOffsetsPerTrigger"] == "100000"


def test_register_views_sql_surface(spark, sf_dir):
    """After register_views, oracle-shaped SQL runs directly on Spark."""
    from crypto_trading_data_pipeline_spark.io import register_views

    register_views(spark, sf_dir, "nation", "region")
    got = spark.sql(
        """
        SELECT r_name, count(*) AS n FROM nation
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert sum(r.n for r in got) == 25


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
