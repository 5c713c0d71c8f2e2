"""Streaming-only semantics (SURVEY.md §2.4 T1-T8): watermark lateness,
update mode, idempotent upsert sink. Batch/streaming parity is the core
assertion — the same transform functions must produce identical candles.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crypto_trading_data_pipeline_spark.operators.candles import ohlcv
from crypto_trading_data_pipeline_spark.sources import (
    file_json_stream,
    normalize_binance,
    parse_trades,
)
from crypto_trading_data_pipeline_spark.streaming.job import candle_stream, start_candle_query
from crypto_trading_data_pipeline_spark.streaming.sinks import ParquetUpsertSink, merge_last_wins

BASE_MS = 1_700_000_000_000  # fixed epoch anchor (2023-11-14T22:13:20Z)


def trade(tid, symbol, price, qty, offset_s):
    return json.dumps(
        {
            "trade_id": tid,
            "symbol": symbol,
            "price": str(price),
            "quantity": str(qty),
            "trade_time": BASE_MS + offset_s * 1000,
            "is_buyer_maker": tid % 2 == 0,
        }
    )


TRADES_1 = [
    trade(1, "BTCUSDT", "42000.10", "0.5", 0),
    trade(2, "BTCUSDT", "42001.00", "0.25", 10),
    trade(3, "ETHUSDT", "2200.50", "2.0", 20),
    trade(4, "BTCUSDT", "41999.90", "1.0", 70),  # next minute
]
TRADES_2 = [
    trade(5, "BTCUSDT", "42002.00", "0.1", 80),    # updates minute 2
    trade(6, "ETHUSDT", "2201.00", "3.0", 95),     # new for minute 2
    trade(7, "BTCUSDT", "40000.00", "9.9", -7200), # 2h late -> beyond watermark, dropped
]


def _write_batch(path, lines, name):
    with open(os.path.join(path, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_parse_trades_batch(spark):
    df = spark.createDataFrame([(t,) for t in TRADES_1 + ['{"not": "a trade"}']], ["value"])
    parsed = parse_trades(df)
    rows = {r.trade_id: r for r in parsed.collect()}
    assert set(rows) == {1, 2, 3, 4}  # malformed row dropped
    r = rows[1]
    from decimal import Decimal

    assert str(r.price) == "42000.10000000"  # DECIMAL(20,8) exact
    assert r.trade_value == Decimal("21000.05")  # exact decimal multiply
    assert r.trade_time.isoformat().startswith("2023-11-14T22:13:20")


def test_normalize_binance(spark):
    raw = [
        json.dumps({"e": "trade", "t": "9", "s": "BTCUSDT", "p": "1.5", "q": "2",
                    "T": str(BASE_MS), "m": "false"}),
        json.dumps({"e": "aggTrade", "t": "10", "s": "X", "p": "1", "q": "1",
                    "T": str(BASE_MS), "m": "true"}),
    ]
    df = spark.createDataFrame([(v,) for v in raw], ["value"])
    out = normalize_binance(df).collect()
    assert len(out) == 1 and out[0].trade_id == "9" and out[0].symbol == "BTCUSDT"


def test_merge_last_wins(spark):
    old = spark.createDataFrame([("a", 1, 10.0), ("b", 1, 20.0)], ["k", "v", "ord"])
    new = spark.createDataFrame([("a", 2, 11.0), ("c", 3, 5.0)], ["k", "v", "ord"])
    out = {r.k: r.v for r in merge_last_wins(old, new, keys=["k"], order_col="ord").collect()}
    assert out == {"a": 2, "b": 1, "c": 3}
    # batch beats existing at EQUAL order (idempotent replay)
    replay = merge_last_wins(old, old.withColumn("v", F.col("v") + 100), keys=["k"], order_col="ord")
    assert {r.v for r in replay.collect()} == {101, 101}


def test_streaming_candles_end_to_end(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    sink_path = str(tmp_path / "candles_table")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(str(indir), TRADES_1, "batch1.json")

    trades = parse_trades(file_json_stream(spark, str(indir)))
    candles = candle_stream(trades, watermark="2 minutes", window_duration="1 minute")
    sink = ParquetUpsertSink(sink_path, keys=["symbol", "window_start"], order_col="n_trades")
    q = start_candle_query(candles, sink=sink, checkpoint_dir=ckpt, trigger_seconds=None)
    try:
        q.processAllAvailable()
        first = {(r.symbol, r.window_start): r for r in sink.read(spark).collect()}
        assert len(first) == 3  # BTC min1, ETH min1, BTC min2

        _write_batch(str(indir), TRADES_2, "batch2.json")
        q.processAllAvailable()
    finally:
        q.stop()

    final = {(r.symbol, r.window_start): r for r in sink.read(spark).collect()}
    # The 2h-late trade (id=7) must have been dropped by the watermark:
    # no window from 2 hours earlier appears, BTC minute-1 candle unchanged.
    assert len(final) == 4

    # Batch/streaming parity: same transforms over the same (non-late) input.
    batch_df = spark.createDataFrame([(t,) for t in TRADES_1 + TRADES_2[:2]], ["value"])
    expected = {
        (r.symbol, r.window_start): r
        for r in ohlcv(parse_trades(batch_df), window_duration="1 minute").collect()
    }
    assert set(final) == set(expected)
    for key, row in expected.items():
        got = final[key]
        for field in ["open_price", "high_price", "low_price", "close_price",
                      "total_volume", "n_trades", "vwap"]:
            assert getattr(got, field) == getattr(row, field), (key, field)


def test_upsert_sink_idempotent_replay(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path / "t"), keys=["k"], order_col="ord")
    batch = spark.createDataFrame([("a", 1, 1.0), ("b", 2, 1.0)], ["k", "v", "ord"])
    sink(batch, 0)
    sink(batch, 0)  # replayed epoch -> same state
    rows = sorted((r.k, r.v) for r in sink.read(spark).collect())
    assert rows == [("a", 1), ("b", 2)]


def _file_rows(path):
    """Rows per data file of a parquet sink table, from the footers."""
    import pyarrow.parquet as pq

    return {
        f: pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("n_keys", [10, 10_000])
def test_upsert_sink_writes_only_the_batch(spark, tmp_path, n_keys):
    """The files a call adds hold exactly its batch's rows, however many
    keys the table already holds: no whole-table rewrite per trigger."""
    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")
    sink(spark.range(n_keys).selectExpr("id AS k", "1L AS v", "1.0D AS ord"), 0)
    one = spark.createDataFrame([(0, 2, 2.0)], ["k", "v", "ord"]).coalesce(1)
    sink(one, 1)  # folds epoch 0 into the base
    before = _file_rows(path)
    batch = spark.createDataFrame([(1, 3, 3.0), (n_keys, 3, 1.0)], ["k", "v", "ord"])
    sink(batch.coalesce(1), 2)
    after = _file_rows(path)
    assert set(before) <= set(after)
    assert sum(after[f] for f in set(after) - set(before)) == 2
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert len(got) == n_keys + 1
    assert (got[0], got[1], got[2], got[n_keys]) == (2, 3, 1, 3)


def test_upsert_sink_replay_replaces_its_own_files(spark, tmp_path):
    """A re-delivered epoch replaces the files of its first delivery, so
    the file-level row count does not grow; at equal order a later epoch
    beats an earlier one; an epoch older than the table's is refused."""
    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")
    sink(spark.createDataFrame([("a", 1, 1.0), ("b", 1, 1.0)], ["k", "v", "ord"]), 0)
    batch = spark.createDataFrame([("a", 2, 1.0), ("c", 2, 1.0)], ["k", "v", "ord"])
    sink(batch, 1)
    rows = sum(_file_rows(path).values())
    sink(batch, 1)
    assert sum(_file_rows(path).values()) == rows
    got = sorted((r.k, r.v) for r in sink.read(spark).collect())
    assert got == [("a", 2), ("b", 1), ("c", 2)]
    with pytest.raises(ValueError, match="another checkpoint"):
        sink(batch, 0)


@pytest.mark.parametrize("kind", ["parquet", "jdbc"])
def test_sink_runs_batch_plan_once(spark, tmp_path, monkeypatch, kind):
    """One sink call runs the batch's plan once: a Python UDF counts the
    rows it sees through an accumulator. The aggregate above it, filtered
    on its value, consumes the whole input even under ``isEmpty``'s
    LIMIT 1, as the candle query's state store does. The JDBC upload is a
    noop-format save, which still runs the plan."""
    from pyspark.sql import DataFrameWriter

    from crypto_trading_data_pipeline_spark.streaming.sinks import JdbcUpsertSink

    seen = spark.sparkContext.accumulator(0)

    def tick(_k):
        seen.add(1)
        return True

    batch = (
        spark.range(50, numPartitions=1)
        .filter(F.udf(tick, "boolean")("id"))
        .groupBy(F.col("id").alias("k"))
        .agg(F.count("*").alias("ord"))
        .filter(F.col("ord") > 0)
    )
    if kind == "jdbc":
        save = DataFrameWriter.save
        monkeypatch.setattr(DataFrameWriter, "save", lambda w: save(w.format("noop")))
        sink = JdbcUpsertSink(
            host="unused", dbname="unused", user="u", password="p",
            table="t", keys=["k"], executor=lambda *stmts: None,
        )
    else:
        sink = ParquetUpsertSink(str(tmp_path / "t"), keys=["k"], order_col="ord")
    sink(batch, 0)
    assert seen.value == 50


def test_running_trade_stats_stateful(spark, tmp_path):
    """applyInPandasWithState: cumulative per-key stats must carry state
    ACROSS micro-batches (a windowed agg resets; this must not)."""
    from crypto_trading_data_pipeline_spark.streaming.stateful import running_trade_stats

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_batch(str(indir), TRADES_1, "batch1.json")

    trades = parse_trades(file_json_stream(spark, str(indir)))
    stats = running_trade_stats(trades)

    collected: dict[str, dict] = {}

    def sink(df, epoch_id):
        for r in df.collect():
            collected[r.symbol] = r.asDict()

    q = (
        stats.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert collected["BTCUSDT"]["n_trades"] == 3
        assert collected["ETHUSDT"]["n_trades"] == 1
        btc_after_1 = collected["BTCUSDT"]

        _write_batch(str(indir), TRADES_2, "batch2.json")
        q.processAllAvailable()
    finally:
        q.stop()

    # State carried over: batch2 has 2 BTC rows (one is 2h "late" but this
    # operator has no watermark — all rows count) -> 3 + 2 cumulative.
    assert collected["BTCUSDT"]["n_trades"] == 5
    assert collected["ETHUSDT"]["n_trades"] == 2
    # Running high/low span ALL history including batch 1.
    assert collected["BTCUSDT"]["high"] >= btc_after_1["high"]
    assert collected["BTCUSDT"]["low"] == 40000.0  # batch2's low
    # VWAP is total value / total volume over the full history.
    exp_val = 42000.10 * 0.5 + 42001.00 * 0.25 + 41999.90 * 1.0 + 42002.00 * 0.1 + 40000.00 * 9.9
    exp_vol = 0.5 + 0.25 + 1.0 + 0.1 + 9.9
    assert abs(collected["BTCUSDT"]["vwap"] - exp_val / exp_vol) < 1e-9


def test_stream_stream_time_bounded_join(spark, tmp_path):
    """Watermarked stream-stream join: only right events within the
    tolerance window of a left event match; join state stays bounded."""
    from crypto_trading_data_pipeline_spark.streaming.joins import time_bounded_join

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(); rdir.mkdir()

    _write_batch(str(ldir), [trade(1, "BTCUSDT", "100", "1", 60),
                             trade(2, "ETHUSDT", "10", "1", 120)], "l1.json")
    # quote 30s before trade 1 (in window), quote 300s before trade 2 (out)
    _write_batch(str(rdir), [trade(91, "BTCUSDT", "99", "1", 30),
                             trade(92, "ETHUSDT", "9", "1", -180)], "r1.json")

    lt = parse_trades(file_json_stream(spark, str(ldir))).select(
        "symbol", F.col("trade_time").alias("lt"), F.col("price").alias("trade_px"))
    rt = parse_trades(file_json_stream(spark, str(rdir))).select(
        "symbol", F.col("trade_time").alias("rt"), F.col("price").alias("quote_px"))

    joined = time_bounded_join(
        lt, rt, key="symbol", left_ts="lt", right_ts="rt", tolerance="1 minute"
    )
    rows = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [(r.symbol, str(r.quote_px)) for r in rows] == [("BTCUSDT", "99.00000000")]

    # batch twin: identical call on batch frames gives the same match
    lb = parse_trades(spark.createDataFrame(
        [(t,) for t in [trade(1, "BTCUSDT", "100", "1", 60),
                        trade(2, "ETHUSDT", "10", "1", 120)]], ["value"])).select(
        "symbol", F.col("trade_time").alias("lt"), F.col("price").alias("trade_px"))
    rb = parse_trades(spark.createDataFrame(
        [(t,) for t in [trade(91, "BTCUSDT", "99", "1", 30),
                        trade(92, "ETHUSDT", "9", "1", -180)]], ["value"])).select(
        "symbol", F.col("trade_time").alias("rt"), F.col("price").alias("quote_px"))
    batch = time_bounded_join(lb, rb, key="symbol", left_ts="lt", right_ts="rt",
                              tolerance="1 minute").collect()
    assert [(r.symbol, str(r.quote_px)) for r in batch] == [("BTCUSDT", "99.00000000")]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup: replayed trade_ids within the watermark horizon are
    dropped; state is bounded by the watermark (unbounded-history dedup
    would OOM a year-long stream)."""
    indir = tmp_path / "in"
    indir.mkdir()
    _write_batch(str(indir), TRADES_1, "b1.json")
    _write_batch(str(indir), TRADES_1, "b1_replay.json")  # exact duplicates

    trades = parse_trades(file_json_stream(spark, str(indir)))
    deduped = trades.withWatermark("trade_time", "10 minutes").dropDuplicatesWithinWatermark(
        ["trade_id"]
    )
    rows = []
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r.trade_id for r in rows)
    assert ids == [1, 2, 3, 4]  # each trade exactly once despite the replay


def test_stateful_survives_query_restart(spark, tmp_path):
    """Checkpoint recovery: a NEW query object resuming from the same
    checkpoint must carry the per-key state forward (exactly-once resume,
    reference's checkpointLocation semantics) — not recount batch 1."""
    from crypto_trading_data_pipeline_spark.streaming.stateful import running_trade_stats

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    collected = {}

    def sink(df, epoch_id):
        for r in df.collect():
            collected[r.symbol] = r.asDict()

    def start():
        trades = parse_trades(file_json_stream(spark, str(indir)))
        return (
            running_trade_stats(trades)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_batch(str(indir), TRADES_1, "b1.json")
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert collected["BTCUSDT"]["n_trades"] == 3

    # restart: new query object, same checkpoint; add batch 2
    _write_batch(str(indir), TRADES_2, "b2.json")
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # 3 (recovered state) + 2 new BTC rows — NOT 5+3 (which would mean
    # batch 1 was re-read) and NOT 2 (which would mean state was lost).
    assert collected["BTCUSDT"]["n_trades"] == 5
    assert collected["ETHUSDT"]["n_trades"] == 2


def test_sessionize_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout lifecycle: a key with no further events is closed
    and emitted exactly once after the watermark passes its inactivity gap;
    keys still active stay open (nothing emitted for them)."""
    import json as _json

    from crypto_trading_data_pipeline_spark.streaming.stateful import sessionize

    indir = tmp_path / "in"
    indir.mkdir()

    def ev(user, off_s):
        return _json.dumps({"user_id": user, "ts_ms": BASE_MS + off_s * 1000})

    # the raw feed carries epoch ms; parse to timestamp for event time
    def stream():
        raw = file_json_stream(spark, str(indir))
        parsed = raw.select(F.from_json("value", "user_id STRING, ts_ms LONG").alias("d"))
        return parsed.select(
            F.col("d.user_id").alias("user_id"),
            F.timestamp_millis(F.col("d.ts_ms")).alias("ts"),
        )

    rows = []
    q = (
        sessionize(stream(), watermark="1 minute")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        _write_batch(str(indir), [ev("A", 0), ev("A", 10), ev("B", 0)], "b1.json")
        q.processAllAvailable()
        _write_batch(str(indir), [ev("A", 120)], "b2.json")  # watermark -> +60s
        q.processAllAvailable()
        _write_batch(str(indir), [ev("A", 300)], "b3.json")  # timeouts evaluated
        q.processAllAvailable()
    finally:
        q.stop()

    by_user = {r.user: r for r in rows}
    # B (last event t0, gap 30s) is closed once the watermark passed t0+30s.
    assert "B" in by_user and by_user["B"].closed_by_timeout == "timeout"
    assert by_user["B"].n_events == 1
    assert by_user["B"].session_start == BASE_MS == by_user["B"].session_end
    # A kept receiving events -> its session is still open, never emitted.
    assert rows and all(r.user == "B" for r in rows)


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static broadcast join: each micro-batch is enriched from the
    dim without shuffling the stream; unknown symbols survive with NULLs."""
    from crypto_trading_data_pipeline_spark.streaming.joins import static_enrich

    indir = tmp_path / "in"
    indir.mkdir()
    _write_batch(str(indir), TRADES_1, "b1.json")

    dim = spark.createDataFrame(
        [("BTCUSDT", "BTC", "USDT"), ("SOLUSDT", "SOL", "USDT")],
        ["symbol", "base_asset", "quote_asset"],
    )
    trades = parse_trades(file_json_stream(spark, str(indir)))
    enriched = static_enrich(trades, dim, "symbol")

    rows = []
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    by_id = {r.trade_id: r for r in rows}
    assert by_id[1].base_asset == "BTC" and by_id[1].quote_asset == "USDT"
    assert by_id[3].base_asset is None  # ETHUSDT not in dim -> NULL passthrough

    # batch twin + plan gate: same call on a batch frame broadcasts the dim
    tb = parse_trades(spark.createDataFrame([(t,) for t in TRADES_1], ["value"]))
    eb = static_enrich(tb, dim, "symbol")
    assert {r.trade_id: r.base_asset for r in eb.collect()}[2] == "BTC"
    plan = eb._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_stream_stream_left_outer_emits_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched left event must emit a
    null-padded row — but only once the watermark proves no future right
    event can still match (the eviction-driven outer emission contract).
    Until then it sits in state; emitting early would be wrong, never
    emitting would leak state forever."""
    from crypto_trading_data_pipeline_spark.streaming.joins import time_bounded_join

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(); rdir.mkdir()

    # Batch 1: BTC trade has a quote in window; ETH trade has none.
    _write_batch(str(ldir), [trade(1, "BTCUSDT", "100", "1", 60),
                             trade(2, "ETHUSDT", "10", "1", 60)], "l1.json")
    _write_batch(str(rdir), [trade(91, "BTCUSDT", "99", "1", 30)], "r1.json")

    lt = parse_trades(file_json_stream(spark, str(ldir))).select(
        "symbol", F.col("trade_time").alias("lt"), F.col("price").alias("trade_px"))
    rt = parse_trades(file_json_stream(spark, str(rdir))).select(
        "symbol", F.col("trade_time").alias("rt"), F.col("price").alias("quote_px"))

    joined = time_bounded_join(
        lt, rt, key="symbol", left_ts="lt", right_ts="rt",
        tolerance="1 minute", how="leftOuter",
    )
    rows = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # Only the matched row can have emitted; the ETH row must still be
        # held in state (watermark hasn't passed its join window).
        assert [(r.symbol, str(r.quote_px)) for r in rows] == [("BTCUSDT", "99.00000000")]
        # Batches 2+3: watermark pushers far past ETH's window (watermark
        # for batch N comes from batch N-1, so eviction needs two rounds).
        _write_batch(str(ldir), [trade(3, "ZZZUSDT", "1", "1", 600)], "l2.json")
        _write_batch(str(rdir), [trade(93, "ZZZUSDT", "1", "1", 600)], "r2.json")
        q.processAllAvailable()
        _write_batch(str(ldir), [trade(4, "ZZZUSDT", "1", "1", 610)], "l3.json")
        q.processAllAvailable()
    finally:
        q.stop()
    eth = [r for r in rows if r.symbol == "ETHUSDT"]
    assert len(eth) == 1 and eth[0].quote_px is None, rows


def test_streaming_ema_matches_batch_fold(spark, tmp_path):
    """The O(1)-state streaming EMA must equal a from-scratch full-history
    fold (ema_batch) after draining the same in-order trades across two
    micro-batches — the incremental-vs-recompute equivalence that justifies
    carrying custom state instead of re-reading history."""
    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        ema_batch,
        streaming_ema,
    )

    b1 = [trade(1, "BTCUSDT", "100", "1", 0),
          trade(2, "BTCUSDT", "110", "1", 10),
          trade(3, "ETHUSDT", "20", "1", 5)]
    b2 = [trade(4, "BTCUSDT", "90", "1", 20),
          trade(5, "ETHUSDT", "30", "1", 15),
          trade(6, "ETHUSDT", "25", "1", 25)]

    indir = tmp_path / "in"
    indir.mkdir()
    _write_batch(str(indir), b1, "b1.json")

    latest = {}
    q = (
        streaming_ema(parse_trades(file_json_stream(spark, str(indir))))
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, eid: latest.update({r.symbol: r for r in df.collect()}))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(str(indir), b2, "b2.json")
        q.processAllAvailable()
    finally:
        q.stop()

    batch = parse_trades(
        spark.createDataFrame([(t,) for t in b1 + b2], ["value"])
    )
    expect = {r.symbol: r for r in ema_batch(batch).collect()}
    assert set(latest) == {"BTCUSDT", "ETHUSDT"}
    for sym in latest:
        assert latest[sym].n_obs == expect[sym].n_obs, sym
        assert abs(latest[sym].ema - expect[sym].ema) < 1e-9, sym
    # spot-check the math: BTC = fold(100,110,90) with alpha=2/11
    a = 2.0 / 11
    e = 100.0
    for p in (110.0, 90.0):
        e = a * p + (1 - a) * e
    assert abs(latest["BTCUSDT"].ema - e) < 1e-9


def test_ema_update_orders_across_chunks():
    """applyInPandasWithState may split one micro-batch into several Arrow
    chunks with NO cross-chunk ordering. The fold must concatenate and sort
    the whole batch first (ADVICE r2): chunk-local sorting silently dropped
    same-batch rows arriving in a later chunk with earlier timestamps.
    Drives the raw update function with adversarial chunking."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        _ema_update_factory,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    def chunk(ts_ms, prices):
        return pd.DataFrame(
            {"ts": pd.to_datetime(ts_ms, unit="ms"), "price": prices}
        )

    alpha = 0.5
    update = _ema_update_factory(alpha)
    # Batch = [t=0:100, t=10:110, t=20:90] delivered as chunks [t=10, t=20]
    # then [t=0]: the t=0 row lands in a LATER chunk with an EARLIER ts.
    state = FakeState()
    out = list(update(("SYM",), [chunk([10, 20], [110.0, 90.0]), chunk([0], [100.0])], state))
    e = 100.0
    for p in (110.0, 90.0):
        e = alpha * p + (1 - alpha) * e
    assert state.value[0] == 3, "out-of-order chunk row was dropped"
    assert abs(state.value[2] - e) < 1e-12
    assert out[0]["n_obs"][0] == 3

    # Cross-BATCH late rows are still guarded: a second batch entirely
    # older than the folded state must be skipped, not folded.
    class ExistingState(FakeState):
        exists = True

        @property
        def get(self):
            return self.value

    st2 = ExistingState()
    st2.value = state.value
    list(update(("SYM",), [chunk([5], [999.0])], st2))
    assert st2.value[0] == 3 and abs(st2.value[2] - e) < 1e-12


def test_dedup_stream_drops_redelivered_rows(spark, tmp_path):
    """Streaming exact-dedup (dropDuplicatesWithinWatermark): a trade_id
    redelivered in the SAME and in a LATER micro-batch (within the
    watermark horizon) must land exactly once; distinct ids all survive.
    This is the at-least-once ingest guard the serving tables rely on."""
    from crypto_trading_data_pipeline_spark.streaming.dedup import dedup_stream

    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir)
    # Batch 1: ids 1,2,3 with id 2 duplicated in-batch.
    _write_batch(indir, [
        trade(1, "BTCUSDT", "100.0", "1", 0),
        trade(2, "BTCUSDT", "101.0", "1", 5),
        trade(2, "BTCUSDT", "101.0", "1", 5),      # in-batch duplicate
        trade(3, "ETHUSDT", "200.0", "1", 10),
    ], "b1.json")
    # Batch 2: id 1 redelivered (cross-batch, within watermark) + new id 4.
    _write_batch(indir, [
        trade(1, "BTCUSDT", "100.0", "1", 0),      # redelivery
        trade(4, "ETHUSDT", "201.0", "1", 20),
    ], "b2.json")

    seen: list = []

    def sink(df, epoch_id):
        seen.extend(df.select("trade_id").collect())

    deduped = dedup_stream(
        parse_trades(file_json_stream(spark, indir)),
        ["trade_id"],
        ts_col="trade_time",
        watermark="2 minutes",
    )
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.trade_id for r in seen)
    assert ids == [1, 2, 3, 4], ids


def test_transform_with_state_matches_apply_in_pandas(spark, tmp_path):
    """Spark 4 transformWithStateInPandas twin: the ValueState fold must
    carry state across micro-batches and agree with the
    applyInPandasWithState operator's cumulative semantics (same keys,
    same totals, same high/low/vwap). Requires the RocksDB state store.

    skipif-gated on protobuf: the transformWithState state-server wire
    protocol is protobuf-based (Spark's transform_with_state_driver_worker
    imports google.protobuf at query start), and this sandbox has no
    protobuf wheel. The operator itself is plain public API — on any
    cluster with pyspark[connect]/protobuf installed this test runs."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf", reason="transformWithState state server needs protobuf")
    from crypto_trading_data_pipeline_spark.streaming.job import ROCKSDB_STATE_CONF
    from crypto_trading_data_pipeline_spark.streaming.transform_state import (
        running_trade_stats_tws,
    )

    prev = {
        k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF
    }
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write_batch(str(indir), TRADES_1, "batch1.json")

        trades = parse_trades(file_json_stream(spark, str(indir)))
        stats = running_trade_stats_tws(trades)

        collected: dict[str, dict] = {}

        def sink(df, epoch_id):
            for r in df.collect():
                collected[r.symbol] = r.asDict()

        q = (
            stats.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            assert collected["BTCUSDT"]["n_trades"] == 3
            assert collected["ETHUSDT"]["n_trades"] == 1
            _write_batch(str(indir), TRADES_2, "batch2.json")
            q.processAllAvailable()
        finally:
            q.stop()

        # Identical cumulative semantics to the applyInPandasWithState
        # operator (no watermark: the 2h-late row still counts).
        assert collected["BTCUSDT"]["n_trades"] == 5
        assert collected["ETHUSDT"]["n_trades"] == 2
        assert collected["BTCUSDT"]["low"] == 40000.0
        exp_val = (
            42000.10 * 0.5 + 42001.00 * 0.25 + 41999.90 * 1.0
            + 42002.00 * 0.1 + 40000.00 * 9.9
        )
        exp_vol = 0.5 + 0.25 + 1.0 + 0.1 + 9.9
        assert abs(collected["BTCUSDT"]["vwap"] - exp_val / exp_vol) < 1e-9
        assert collected["ETHUSDT"]["high"] == 2201.00
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaming_to_live_db_end_to_end(spark, tmp_path):
    """The reference's COMPLETE runtime shape against a live database:
    file stream -> parse -> watermark -> 1-min OHLCV (update mode) ->
    foreachBatch staging + generated merge SQL executed in a REAL
    DuckDB (INSERT..ON CONFLICT last-wins, per-epoch staging dropped).
    Extends the sink-level live test to the full streaming query: the
    update-mode candle for a window the next batch re-opens must be
    OVERWRITTEN in the database, and a row beyond the watermark must
    never reach it."""
    import duckdb

    from crypto_trading_data_pipeline_spark.streaming.job import candle_stream
    from crypto_trading_data_pipeline_spark.streaming.sinks import JdbcUpsertSink

    con = duckdb.connect()

    def ex(*stmts):
        con.execute("BEGIN")
        for s in stmts:
            con.execute(s)
        con.execute("COMMIT")

    sink = JdbcUpsertSink(
        host="unused", dbname="unused", user="u", password="p",
        table="trades_1min_agg", keys=["symbol", "window_start"],
        order_col="window_start", executor=ex,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_batch(str(indir), TRADES_1, "batch1.json")

    candles = candle_stream(parse_trades(file_json_stream(spark, str(indir))))
    sink.ensure_table(candles.schema)

    def fb(batch, epoch_id):
        # Stand-in for the Spark-JDBC staging upload (no JDBC driver in
        # the sandbox): parquet + a DuckDB view under the exact staging
        # name. The DDL and merge statements are the sink's real ones.
        if batch.isEmpty():
            return
        staging = sink._staging_name(epoch_id)
        p = str(tmp_path / f"stage_{epoch_id}")
        batch.write.mode("overwrite").parquet(p)
        con.execute(
            f"CREATE OR REPLACE VIEW {staging} AS "
            f"SELECT * FROM read_parquet('{p}/*.parquet')"
        )
        sink._exec(
            sink._merge_sql(staging, [f.name for f in batch.schema.fields]),
            f"DROP VIEW {staging}",
        )

    q = (
        candles.writeStream.outputMode("update")
        .foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(str(indir), TRADES_2, "batch2.json")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r[0], r[1].minute): (float(r[2]), float(r[3]))
        for r in con.execute(
            "SELECT symbol, window_start, close_price, total_volume "
            "FROM trades_1min_agg"
        ).fetchall()
    }
    # Four candles; the late 2h-old trade (7) never created a fifth.
    assert len(rows) == 4, rows
    # BTC minute-1 was UPDATED in the DB by batch2's trade 5 (last-wins).
    assert rows[("BTCUSDT", 14)] == (42002.00, 1.1)
    assert rows[("ETHUSDT", 14)] == (2201.00, 3.0)
    assert rows[("BTCUSDT", 13)][0] == 42001.00
    # Staging tables/views are gone after each epoch.
    leftover = con.execute(
        "SELECT count(*) FROM duckdb_views() WHERE view_name LIKE '%staging%'"
    ).fetchone()[0]
    assert leftover == 0


def test_streaming_decay_matches_batch_exactly(spark, tmp_path):
    """The dyadic-decay state is a commutative EXACT int64 sum, so the
    streaming leaderboard must equal the batch formula BIT-FOR-BIT after
    draining the same events across two micro-batches — including a
    replayed/out-of-order second batch and rows outside the live window
    (age 0 and age > max_age must contribute nothing)."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_decay_scores,
    )

    def mk(rows):
        return spark.createDataFrame(
            [(int(u), pd.Timestamp(ts).to_pydatetime(), float(v)) for u, ts, v in rows],
            "user_id long, ts timestamp, value double",
        )

    b1 = [
        (1, "2024-01-31 10:00:00", 10.0),   # age 1 -> weight 2^19
        (1, "2024-01-15 00:00:00", 4.0),    # age 17
        (2, "2024-01-20 23:59:59", 7.25),   # age 12
        (2, "2024-02-01 00:00:00", 99.0),   # age 0 -> dropped
    ]
    b2 = [
        (1, "2024-01-05 12:00:00", 2.5),    # age 27 -> dropped (> max_age)
        (2, "2024-01-12 08:00:00", 1.11),   # age 20 -> weight 2^0
        (3, "2024-01-30 01:02:03", 0.004),  # age 2; cents(0.004) = 0
    ]

    indir = tmp_path / "in"
    indir.mkdir()
    mk(b1).write.mode("overwrite").parquet(str(indir / "b1.parquet"))

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(indir / "*.parquet"))
    latest = {}
    q = (
        streaming_decay_scores(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, eid: latest.update({r.user_id: r for r in df.collect()}))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        mk(b2).write.mode("overwrite").parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    # Batch-formula expectation, computed independently with exact ints.
    from datetime import date

    def expect(rows):
        out = {}
        for u, ts, v in rows:
            age = (date(2024, 2, 1) - pd.Timestamp(ts).date()).days
            if not (1 <= age <= 20):
                continue
            n, s = out.get(u, (0, 0))
            out[u] = (n + 1, s + int(v * 100.0 + 0.5) * (1 << (20 - age)))
        return out

    want = expect(b1 + b2)
    assert set(latest) == {1, 2, 3}
    for u, (n, s) in want.items():
        assert latest[u].n_events == n, u
        assert latest[u].s == s, (u, latest[u].s, s)
        assert latest[u].decayed == s / float(1 << 20), u


def test_streaming_decay_utc_days_under_non_utc_session_tz(spark, tmp_path):
    """Event DAYS are UTC days regardless of spark.sql.session.timeZone.

    Arrow hands applyInPandasWithState a TIMESTAMP (LTZ) column as wall
    clock in the SESSION timezone; without the operator's explicit
    UTC-wall NTZ normalization, an event between 00:00 and 05:00 UTC
    lands on the previous America/New_York day, shifting its age by one
    and doubling its dyadic weight — silently breaking the bit-for-bit
    streaming==batch contract the UTC-only test above can never catch."""
    from datetime import datetime, timezone

    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_decay_scores,
    )

    rows = [
        # 02:00 UTC -> UTC day Jan 21 (age 11); NY wall is Jan 20 21:00,
        # which a session-tz day floor would score as age 12 (weight /2).
        (1, datetime(2024, 1, 21, 2, 0, 0, tzinfo=timezone.utc), 10.0),
        # age 0 in UTC -> dropped; NY wall is Jan 31 19:30 -> a session-tz
        # floor would wrongly INCLUDE it at age 1 with the max weight.
        (1, datetime(2024, 2, 1, 0, 30, 0, tzinfo=timezone.utc), 50.0),
        (2, datetime(2024, 1, 31, 12, 0, 0, tzinfo=timezone.utc), 2.0),  # age 1
    ]
    indir = tmp_path / "in"
    indir.mkdir()
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    latest = {}
    try:
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).write.mode("overwrite").parquet(str(indir / "b1.parquet"))
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(str(indir / "*.parquet"))
        q = (
            streaming_decay_scores(stream)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, eid: latest.update({r.user_id: r for r in df.collect()})
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)

    # Exact UTC-day expectation (matches q_decay_score's batch formula).
    assert latest[1].n_events == 1  # the age-0 row contributed nothing
    assert latest[1].s == 1000 * (1 << (20 - 11))
    assert latest[2].n_events == 1
    assert latest[2].s == 200 * (1 << (20 - 1))


def test_utc_wall_ntz_survives_dst_gaps_and_overlaps(spark):
    """utc_wall_ntz must equal the instant's UTC wall clock under ANY
    session timezone, including the ~1h/year where the UTC wall clock
    names a local time the session zone skips at spring-forward. The
    superseded to_utc_timestamp round trip resolved those nonexistent
    local times by shifting an hour (e.g. 2024-03-10 02:30 UTC under
    America/New_York came back as 03:30), which is exactly the class of
    drift that would re-break the streaming==batch day contract."""
    from datetime import datetime, timezone

    from crypto_trading_data_pipeline_spark.io import utc_wall_ntz

    cases = [
        # (session tz, instant) — UTC wall inside the zone's skipped hour
        ("America/New_York", datetime(2024, 3, 10, 2, 30, tzinfo=timezone.utc)),
        ("America/Santiago", datetime(2024, 9, 8, 0, 30, tzinfo=timezone.utc)),
        # fall-back overlap (ambiguous local rendering)
        ("Europe/Chisinau", datetime(2024, 10, 26, 23, 15, tzinfo=timezone.utc)),
        ("Europe/Chisinau", datetime(2024, 10, 27, 0, 15, tzinfo=timezone.utc)),
        # half-hour-offset zone, minutes must survive too
        ("Australia/Lord_Howe", datetime(2024, 10, 5, 14, 15, tzinfo=timezone.utc)),
        # plain non-UTC control far from any transition
        ("Asia/Tehran", datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)),
    ]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz, t in cases:
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = spark.createDataFrame([(t,)], "ts timestamp")
            got = df.select(utc_wall_ntz("ts").alias("w")).collect()[0].w
            want = t.astimezone(timezone.utc).replace(tzinfo=None)
            assert got == want, (tz, t, got, want)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_streaming_drift_monitor_matches_batch_psi(spark, tmp_path):
    """PSI-on-ingest == q_psi run as a batch over the same data, per-bin
    BIT-FOR-BIT: freeze the reference window's histogram, stream the
    current window through the bounded-bin complete-mode aggregate, and
    the sink's floor-scaled terms must equal the batch query's psi_term
    column exactly (same integer counts, same one-division proportions,
    same epsilon floor, same ln, same rounding)."""
    import random
    from datetime import datetime

    from crypto_trading_data_pipeline_spark.streaming.drift import (
        DriftMonitorSink,
        reference_histogram,
        start_drift_monitor,
    )
    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    rng = random.Random(7)
    # Reference window (before the q_psi split) and a DRIFTED current
    # window (shifted + a value past the bin-10 clamp).
    ref_rows = [
        (1000 + i, datetime(2024, 1, 10, 12), 0, "e", rng.uniform(0, 250), "{}")
        for i in range(120)
    ]
    cur_rows = [
        (2000 + i, datetime(2024, 1, 20, 12), 0, "e", rng.uniform(100, 400), "{}")
        for i in range(80)
    ] + [(3000, datetime(2024, 1, 21, 12), 0, "e", 9999.0, "{}")]
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")

    # Batch truth: q_psi over the combined fixture dir.
    fixture = tmp_path / "fx"
    fixture.mkdir()
    spark.createDataFrame(ref_rows + cur_rows, schema).write.parquet(
        str(fixture / "events.parquet")
    )
    batch = {
        r.bin: r.psi_term for r in REGISTRY["q_psi"].fn(spark, str(fixture)).collect()
    }

    # Streaming: reference frozen from the ref window, current streamed in
    # TWO files so the complete-mode aggregate proves incremental merging.
    ref_df = spark.createDataFrame(ref_rows, schema)
    sink = DriftMonitorSink(reference_histogram(ref_df))
    indir = tmp_path / "in"
    indir.mkdir()
    half = len(cur_rows) // 2
    spark.createDataFrame(cur_rows[:half], schema).write.parquet(
        str(indir / "b1.parquet")
    )
    stream = spark.readStream.schema(schema).parquet(str(indir / "*.parquet"))
    q = start_drift_monitor(stream, sink, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        mid_epochs = len(sink.history)
        spark.createDataFrame(cur_rows[half:], schema).write.parquet(
            str(indir / "b2.parquet")
        )
        q.processAllAvailable()
    finally:
        q.stop()

    # The monitor re-scored at least once per file and converged to the
    # batch query's per-bin terms exactly.
    assert len(sink.history) > mid_epochs >= 1
    assert sink.terms == batch, (sink.terms, batch)
    assert sink.psi == (
        __import__("math").floor(sum(batch.values()) * 1e6 + 0.5) / 1e6
    )
    # The synthetic shift is a real drift: the alert fires.
    assert sink.drifted


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """streaming_attribution drained over ordered micro-batches must agree
    with the batch q_attribution channel rollup exactly; first_channel and
    converted are commutative mins, asserted to survive an OUT-OF-ORDER
    third batch that delivers a user's true first event last."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.queries.relational import q_attribution
    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_attribution,
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (int(eid), pd.Timestamp(ts).to_pydatetime(), int(u), et)
                for eid, ts, u, et in rows
            ],
            "event_id long, ts timestamp, user_id long, event_type string",
        )

    # User 1: click -> view -> purchase (last touch: view).
    # User 2: purchase first event (last touch: '(none)').
    # User 3: view, never converts (excluded from batch rollup).
    # User 4: converted in b2; b3 delivers an EARLIER first event late —
    #         first_channel must flip to it (commutative min), while the
    #         frozen last-touch stays exact (the late event predates the
    #         stored candidate, so the max fold correctly ignores it...
    #         unless it lands between candidate and purchase — not here).
    b1 = [
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 11:00:00", 1, "view"),
        (10, "2024-01-01 09:00:00", 2, "purchase"),
        (11, "2024-01-01 12:00:00", 3, "view"),
    ]
    b2 = [
        (3, "2024-01-02 10:00:00", 1, "purchase"),
        (12, "2024-01-02 11:00:00", 2, "click"),
        (20, "2024-01-02 08:00:00", 4, "signup"),
        (21, "2024-01-02 09:00:00", 4, "purchase"),
    ]
    b3 = [
        (19, "2024-01-01 07:00:00", 4, "error"),  # late true first event
    ]

    indir = tmp_path / "in"
    indir.mkdir()
    mk(b1).write.mode("overwrite").parquet(str(indir / "b1.parquet"))

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string"
    ).parquet(str(indir / "*.parquet"))
    latest = {}
    q = (
        streaming_attribution(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, eid: latest.update({r.user_id: r for r in df.collect()})
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        mk(b2).write.mode("overwrite").parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
        mk(b3).write.mode("overwrite").parquet(str(indir / "b3.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    assert latest[1].first_channel == "click"
    assert latest[1].last_channel == "view"
    assert latest[1].converted == 1
    assert latest[2].first_channel == "purchase"
    assert latest[2].last_channel == "(none)"
    assert latest[2].converted == 1
    assert latest[3].converted == 0 and latest[3].last_channel is None
    # Commutative-min first touch survived out-of-order arrival.
    assert latest[4].first_channel == "error"
    assert latest[4].last_channel == "signup"
    assert latest[4].converted == 1

    # Channel rollup from the streaming state == batch q_attribution on
    # the same events (converters only, both touch dimensions).
    d = tmp_path / "batch"
    d.mkdir()
    mk(b1 + b2 + b3).write.mode("overwrite").parquet(str(d / "events.parquet"))
    want = {
        r["channel"]: (r["first_touch"], r["last_touch"])
        for r in q_attribution(spark, str(d)).collect()
    }
    got = {}
    for r in latest.values():
        if not r.converted:
            continue
        f, l = got.get(r.first_channel, (0, 0))
        got[r.first_channel] = (f + 1, l)
        f, l = got.get(r.last_channel, (0, 0))
        got[r.last_channel] = (f, l + 1)
    assert got == want


def test_streaming_scd2_matches_batch(spark, tmp_path):
    """streaming_scd2 drained over ordered micro-batches, upserted
    last-write-wins on (user_id, version), must equal the batch q_scd2
    gaps-and-islands build on the union of all events — including a run
    that SPANS a micro-batch boundary (open version re-emitted with a
    growing count), a run that closes exactly at the boundary, and a
    user who first appears mid-stream."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.queries.relational import q_scd2
    from crypto_trading_data_pipeline_spark.streaming.stateful import streaming_scd2

    def mk(rows):
        return spark.createDataFrame(
            [
                (int(eid), pd.Timestamp(ts).to_pydatetime(), int(u), et)
                for eid, ts, u, et in rows
            ],
            "event_id long, ts timestamp, user_id long, event_type string",
        )

    # User 1: view view | view click click -> v1 view(3) spans the
    #         boundary, then closes; v2 click(2) current.
    # User 2: click | view -> v1 closes exactly at the boundary.
    # User 3: appears only in b2.
    b1 = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 11:00:00", 1, "view"),
        (10, "2024-01-01 09:00:00", 2, "click"),
    ]
    b2 = [
        (3, "2024-01-02 08:00:00", 1, "view"),
        (4, "2024-01-02 09:00:00", 1, "click"),
        (5, "2024-01-02 10:00:00", 1, "click"),
        (11, "2024-01-02 11:00:00", 2, "view"),
        (20, "2024-01-02 12:00:00", 3, "error"),
    ]

    indir = tmp_path / "in"
    indir.mkdir()
    mk(b1).write.mode("overwrite").parquet(str(indir / "b1.parquet"))

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string"
    ).parquet(str(indir / "*.parquet"))
    latest = {}
    q = (
        streaming_scd2(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, eid: latest.update(
                {(r.user_id, r.version): r for r in df.collect()}
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # Mid-stream snapshot: user 1's open run must already be visible.
        assert latest[(1, 1)].event_type == "view"
        assert latest[(1, 1)].n_events == 2 and latest[(1, 1)].is_current
        mk(b2).write.mode("overwrite").parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    d = tmp_path / "all"
    d.mkdir()
    mk(b1 + b2).write.mode("overwrite").parquet(str(d / "events.parquet"))
    want = {
        (r.user_id, r.version): (
            r.event_type,
            r.valid_from,
            r.valid_to,
            r.n_events,
            r.is_current,
        )
        for r in q_scd2(spark, str(d)).collect()
    }
    got = {
        k: (r.event_type, r.valid_from, r.valid_to, r.n_events, r.is_current)
        for k, r in latest.items()
    }
    assert got == want, (got, want)


def test_streaming_heavy_hitters_superset_and_bounds(spark, tmp_path):
    """Per-key streaming Misra-Gries: after draining two micro-batches,
    every token above n/(m+1) of its key's stream must be among the
    emitted candidates (the pigeonhole guarantee, held ACROSS batch
    boundaries by the persisted summary), counters must be lower bounds
    within n/(m+1), and state stays bounded at m candidates per key."""
    from collections import Counter

    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    m = 4
    # Skewed per-source streams; srcB's heavy token arrives mostly in
    # batch 2, so only a summary that SURVIVES the batch boundary finds it.
    b1 = [("srcA", "hot")] * 30 + [("srcA", f"c{i}") for i in range(20)] + [
        ("srcB", f"c{i}") for i in range(15)
    ] + [("srcB", "warm")] * 5
    b2 = [("srcA", "hot")] * 10 + [("srcB", "warm")] * 25 + [
        ("srcB", f"d{i}") for i in range(10)
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "source string, tok string")

    indir = tmp_path / "in"
    indir.mkdir()
    mk(b1).write.mode("overwrite").parquet(str(indir / "b1.parquet"))
    stream = spark.readStream.schema("source string, tok string").parquet(
        str(indir / "*.parquet")
    )
    latest: dict = {}

    def sink(df, eid):
        for r in df.collect():
            latest.setdefault(r.source, {})
            latest[r.source] = {
                x.tok: (x.cnt_lb, x.n_seen)
                for x in df.filter(df.source == r.source).collect()
            }

    q = (
        streaming_heavy_hitters(stream, m=m)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        mk(b2).write.mode("overwrite").parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    truth = {}
    for s, t in b1 + b2:
        truth.setdefault(s, Counter())[t] += 1
    for s, ctr in truth.items():
        n = sum(ctr.values())
        got = latest[s]
        assert len(got) <= m, f"{s}: state exceeded m"
        heavy = {t for t, c in ctr.items() if c * (m + 1) > n}
        assert heavy <= set(got), f"{s}: missed {heavy - set(got)}"
        for t, (lb, n_seen) in got.items():
            assert n_seen == n
            assert lb <= ctr[t], f"{s}/{t}: lb {lb} > true {ctr[t]}"
            assert ctr[t] - lb <= n // (m + 1) + 1, f"{s}/{t}: bound violated"


def test_streaming_holt_matches_batch_fold(spark, tmp_path):
    """The streaming Holt state is the batch fold's OWN packed int64
    accumulator, so after draining the same minute bars across two
    micro-batches (split mid-day, plus a redelivered bar that must be a
    no-op) the per-(symbol, day) level/trend/forecast must equal
    q_holt_forecast run on an events fixture with one tick per bar —
    BIT-FOR-BIT, not approximately."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.queries import REGISTRY
    from crypto_trading_data_pipeline_spark.queries import finance as fin
    from crypto_trading_data_pipeline_spark.streaming import stateful as stf

    # The streaming module duplicates the recursion constants to avoid
    # importing the full query registry; they must never drift.
    assert (stf.HOLT_SHIFT_L, stf.HOLT_B_OFF, stf.HOLT_B_CLAMP) == (
        fin._HOLT_SHIFT_L, fin._HOLT_B_OFF, fin._HOLT_B_CLAMP
    )

    def mk(rows):
        return spark.createDataFrame(
            [(s, pd.Timestamp(ts).to_pydatetime(), float(c)) for s, ts, c in rows],
            "symbol string, minute timestamp, close double",
        )

    b1 = [
        ("BTC", "2024-03-01 00:00:00", 100.00),
        ("BTC", "2024-03-01 00:01:00", 101.50),
        ("ETH", "2024-03-01 00:00:00", 20.25),
    ]
    b2 = [
        ("BTC", "2024-03-01 00:01:00", 101.50),  # redelivery -> no-op
        ("BTC", "2024-03-01 00:02:00", 99.75),
        ("BTC", "2024-03-02 00:00:00", 98.00),   # next UTC day, fresh state
        ("ETH", "2024-03-01 00:05:00", 21.00),
    ]

    indir = tmp_path / "in"
    indir.mkdir()
    mk(b1).write.parquet(str(indir / "b1.parquet"))

    stream = spark.readStream.schema(
        "symbol string, minute timestamp, close double"
    ).parquet(str(indir / "*.parquet"))
    latest = {}
    q = (
        stf.streaming_holt(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, eid: latest.update(
                {(r.symbol, r.day): r for r in df.collect()}
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        mk(b2).write.parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    # Batch twin on an events fixture with one tick per bar (the tick IS
    # the minute close).
    seen = set()
    events = []
    for i, (s, ts, c) in enumerate(b1 + b2):
        if (s, ts) in seen:
            continue
        seen.add((s, ts))
        events.append((i, pd.Timestamp(ts).to_pydatetime(), 1, s, float(c)))
    spark.createDataFrame(
        events,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    ).write.parquet(str(tmp_path / "fix" / "events.parquet"))
    want = {
        (r.symbol, str(r.day)): r
        for r in REGISTRY["q_holt_forecast"].fn(spark, str(tmp_path / "fix")).collect()
    }

    assert set(latest) == set(want)
    for k in want:
        assert latest[k].n_bars == want[k].n_bars, k
        assert latest[k].level_c == want[k].level_c, k
        assert latest[k].trend_c == want[k].trend_c, k
        assert latest[k].forecast1_c == want[k].forecast1_c, k


def test_streaming_order_flow_matches_batch(spark, tmp_path):
    """The O(1)-state streaming tick rule must equal q_order_flow on the
    drained log: two micro-batches with a mid-day split, a redelivered
    tick (no-op), a day rollover inside batch 2 (closed day emits final
    counts once), and equal prints exercising the carry."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.queries import REGISTRY
    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_order_flow,
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (int(i), pd.Timestamp(ts).to_pydatetime(), 1, s, float(v))
                for i, ts, s, v in rows
            ],
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double",
        )

    b1 = [
        (1, "2024-03-01 09:00:00", "BTC", 100.0),   # first: unclassified
        (2, "2024-03-01 09:00:05", "BTC", 101.0),   # up -> buy
        (3, "2024-03-01 09:00:10", "BTC", 101.0),   # equal -> carry buy
        (4, "2024-03-01 09:01:00", "ETH", 20.0),    # first: unclassified
    ]
    b2 = [
        (3, "2024-03-01 09:00:10", "BTC", 101.0),   # redelivery -> no-op
        (5, "2024-03-01 09:02:00", "BTC", 100.5),   # down -> sell
        (6, "2024-03-02 01:00:00", "BTC", 100.5),   # next day, equal ->
                                                    # carries SELL across days
        (7, "2024-03-01 09:03:00", "ETH", 19.0),    # down -> sell
    ]

    indir = tmp_path / "in"
    indir.mkdir()
    mk(b1).write.parquet(str(indir / "b1.parquet"))

    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double"
    ).parquet(str(indir / "*.parquet"))
    latest = {}
    q = (
        streaming_order_flow(
            stream, key_col="event_type", ts_col="ts",
            id_col="event_id", price_col="value",
        )
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, eid: latest.update(
                {(r.symbol, r.day): r for r in df.collect()}
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        mk(b2).write.parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    seen = set()
    events = []
    for i, ts, s, v in b1 + b2:
        if i in seen:
            continue
        seen.add(i)
        events.append((i, pd.Timestamp(ts).to_pydatetime(), 1, s, float(v)))
    spark.createDataFrame(
        events,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    ).write.parquet(str(tmp_path / "fix" / "events.parquet"))
    want = {
        (r.symbol, str(r.day)): r
        for r in REGISTRY["q_order_flow"].fn(spark, str(tmp_path / "fix")).collect()
    }

    assert set(latest) == set(want)
    for k in want:
        got, exp = latest[k], want[k]
        assert (got.n_ticks, got.n_buy, got.n_sell, got.n_unclassified,
                got.imbalance) == (
            exp.n_ticks, exp.n_buy, exp.n_sell, exp.n_unclassified,
            exp.imbalance,
        ), k
    # The cross-day carry is the interesting bit: 2024-03-02's single
    # equal print must classify as SELL (carried), not unclassified.
    assert latest[("BTC", "2024-03-02")].n_sell == 1


def test_streaming_index_append_matches_batch_assignment(spark, tmp_path):
    """The streaming index-append twin of q_ann_incremental: train once
    on the fixed-size prefix (frozen centroids), stream the arrival
    batch as TWO micro-batches, and the per-cluster totals must equal
    the numpy frozen-centroid argmin replica computed over the full
    arrival set — across the batch boundary, with the split chosen so
    several clusters receive vectors in both batches (the additive
    state, not a single batch, produces the total)."""
    import math

    from collections import Counter

    import numpy as np
    from pyspark.sql import functions as SF

    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.operators.cluster import kmeans_train
    from crypto_trading_data_pipeline_spark.operators.similarity import as_double_vec
    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_index_append,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(SF.col("embedding")).alias("v")
    )
    _a, cents, _s = kmeans_train(
        emb.filter(SF.col("vec_id") < 500), k=16, max_iter=3, quantize=1_000_000
    )

    arrivals = emb.filter(SF.col("vec_id") % 10 == 7)
    rows = arrivals.collect()
    # Expected totals: HALF_UP microunit quantization + frozen argmin.
    cent_arr = np.array(cents, dtype=np.int64)
    qv = np.array(
        [
            [int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)) for x in r.v]
            for r in rows
        ],
        dtype=np.int64,
    )
    d2 = ((qv[:, None, :] - cent_arr[None, :, :]) ** 2).sum(axis=2)
    expected = Counter(d2.argmin(axis=1).tolist())

    indir = tmp_path / "in"
    indir.mkdir()
    half = len(rows) // 2
    mk = lambda rs: spark.createDataFrame(
        [(r.vec_id, r.v) for r in rs], "vec_id long, v array<double>"
    )
    mk(rows[:half]).write.mode("overwrite").parquet(str(indir / "b1.parquet"))

    stream = spark.readStream.schema("vec_id long, v array<double>").parquet(
        str(indir / "*.parquet")
    )
    latest: dict[int, tuple[int, int]] = {}

    def sink(df, eid):
        for r in df.collect():
            latest[int(r.cluster)] = (int(r.n_new), int(r.n_total))

    q = (
        streaming_index_append(stream, centroids=cents)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        totals_b1 = {c: t for c, (_nw, t) in latest.items()}
        mk(rows[half:]).write.mode("overwrite").parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    got_totals = {c: t for c, (_nw, t) in latest.items()}
    assert got_totals == dict(expected)
    # The boundary did real work: at least one cluster's total grew
    # across it (state carried), and batch-1 totals were a strict prefix.
    grew = [c for c, t in got_totals.items() if 0 < totals_b1.get(c, 0) < t]
    assert grew, "split produced no cluster fed by both batches"
    assert all(totals_b1[c] <= got_totals[c] for c in totals_b1)


def test_streaming_index_rebalance_monitor(spark, tmp_path):
    """The continuous retrain-trigger monitor (streaming twin of
    q_index_rebalance): feed the (cluster, n_total) update stream the
    append counter emits as TWO micro-batches. The verdict must be
    recomputed per batch from the LATEST running total of every cluster
    seen so far — batch 2 updates ONE cluster and the monitor must still
    know the other three from carried state — flipping rebalance 0 -> 1
    exactly when one list crosses the 2x-mean threshold. The streaming
    threshold literal must equal the batch query's (kept separate to
    avoid a streaming -> queries import)."""
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _REBALANCE_THRESHOLD_PPM,
    )
    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        INDEX_REBALANCE_THRESHOLD_PPM,
        streaming_index_rebalance,
    )

    assert INDEX_REBALANCE_THRESHOLD_PPM == _REBALANCE_THRESHOLD_PPM

    indir = tmp_path / "in"
    indir.mkdir()
    schema = "cluster long, n_total long"
    mk = lambda rs: spark.createDataFrame(rs, schema)
    # batch 1: four balanced lists -> imbalance exactly 1e6 ppm, verdict 0.
    mk([(0, 10), (1, 10), (2, 10), (3, 10)]).write.mode("overwrite").parquet(
        str(indir / "b1.parquet")
    )

    stream = spark.readStream.schema(schema).parquet(str(indir / "*.parquet"))
    emitted: list[tuple] = []

    def sink(df, eid):
        rows = df.collect()
        if rows:
            emitted.append(tuple(rows[0]))

    q = (
        streaming_index_rebalance(stream, k=4)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert emitted[-1] == (4, 40, 10, 1_000_000, 0)
        # batch 2: only cluster 2's counter reports (running total 100).
        # totals become {10, 10, 100, 10}: imbalance = 100*4e6 // 130 =
        # 3,076,923 ppm > 2e6 -> rebalance fires. Clusters 0/1/3 are known
        # ONLY from carried state.
        mk([(2, 100)]).write.mode("overwrite").parquet(str(indir / "b2.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()
    assert emitted[-1] == (4, 130, 100, 3_076_923, 1)


def test_streaming_index_lifecycle_composition(spark, tmp_path):
    """END-TO-END lifecycle composition (r10 verdict #4): the append
    counter drains its (cluster, n_new, n_total) updates into a real
    sink (a parquet "topic" directory, one file per micro-batch — the
    foreachBatch pattern a Kafka producer sink would use), and a SECOND
    streaming job replays that topic file-by-file into the rebalance
    monitor. Spark cannot chain two stateful operators in one query, so
    this sink-then-replay relay IS the production composition the
    stateful.py docstring describes — here both stages actually run.

    Stage 1 streams two vector micro-batches against frozen centroids:
    batch 1 balanced (10 vectors/cluster), batch 2 floods cluster 2
    with 90 more. Stage 2 must emit rebalance=0 after replaying batch
    1's updates and flip to rebalance=1 on batch 2's — with clusters
    0/1/3 known only from carried monitor state, across a genuine
    micro-batch boundary in BOTH jobs."""
    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        streaming_index_append,
        streaming_index_rebalance,
    )

    # Frozen "trained" centroids in integer microunits (unit square corners).
    cents = [[0, 0], [1_000_000, 0], [0, 1_000_000], [1_000_000, 1_000_000]]
    corners = [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)]

    def vecs(counts, start_id):
        rows, vid = [], start_id
        for c, n in counts.items():
            x, y = corners[c]
            for _ in range(n):
                rows.append((vid, [x, y]))
                vid += 1
        return rows

    indir = tmp_path / "vectors_in"
    indir.mkdir()
    topic = tmp_path / "topic"
    topic.mkdir()
    mkv = lambda rs: spark.createDataFrame(rs, "vec_id long, v array<double>")
    mkv(vecs({0: 10, 1: 10, 2: 10, 3: 10}, 0)).write.mode("overwrite").parquet(
        str(indir / "b1.parquet")
    )

    vstream = spark.readStream.schema("vec_id long, v array<double>").parquet(
        str(indir / "*.parquet")
    )

    def topic_sink(df, eid):
        # One file per micro-batch, like a per-batch producer flush; the
        # replay below consumes the topic file-by-file in commit order.
        df.coalesce(1).write.mode("overwrite").parquet(
            str(topic / f"updates_{eid:05d}.parquet")
        )

    appender = (
        streaming_index_append(vstream, centroids=cents)
        .writeStream.outputMode("update")
        .foreachBatch(topic_sink)
        .option("checkpointLocation", str(tmp_path / "ck_append"))
        .start()
    )
    try:
        appender.processAllAvailable()
        # Stage batch 2 OUTSIDE the watched glob and move it in with one
        # atomic rename: the default-trigger stream polls continuously,
        # and a parquet job commit renames part files one at a time, so
        # writing in place can split the arrival across two listings /
        # micro-batches (seen as a 3-verdict flake in the suite run).
        staging = tmp_path / "staging_b2.parquet"
        mkv(vecs({2: 90}, 40)).write.mode("overwrite").parquet(str(staging))
        staging.rename(indir / "b2.parquet")
        appender.processAllAvailable()
    finally:
        appender.stop()

    # Stage 2: replay the topic into the monitor, one file per trigger so
    # the append job's batch boundary is preserved as a monitor boundary.
    verdicts: list[tuple] = []

    def verdict_sink(df, eid):
        rows = df.collect()
        if rows:
            verdicts.append(tuple(rows[0]))

    cstream = (
        spark.readStream.schema("cluster long, n_new long, n_total long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(topic / "*.parquet"))
    )
    monitor = (
        streaming_index_rebalance(cstream, k=4)
        .writeStream.outputMode("update")
        .foreachBatch(verdict_sink)
        .option("checkpointLocation", str(tmp_path / "ck_monitor"))
        .start()
    )
    try:
        monitor.processAllAvailable()
    finally:
        monitor.stop()

    # Batch 1 replay: balanced -> imbalance exactly 1e6 ppm, no rebalance.
    # Final replay: totals {10,10,100,10} -> 100*4e6//130 ppm, fires.
    # (Normally exactly 2 verdicts; if the appender's poll ever splits an
    # arrival anyway, the extra intermediate verdicts must still be
    # monotonic in n_total — the composition's real invariant.)
    assert verdicts[0] == (4, 40, 10, 1_000_000, 0)
    assert verdicts[-1] == (4, 130, 100, 3_076_923, 1)
    assert len(verdicts) >= 2
    totals = [v[1] for v in verdicts]
    assert totals == sorted(totals)


def test_index_rebalance_fold_is_order_independent():
    """Replay catch-up can deliver SEVERAL updates for one cluster in one
    micro-batch, and intra-batch row order is not event order: a stale
    running total arriving after the newest must not overwrite it (r10
    ADVICE, the max-fold fix). Drives the update fn directly with the
    newest-first ordering that last-write-wins would get wrong."""
    import pandas as pd

    from crypto_trading_data_pipeline_spark.streaming.stateful import (
        _index_rebalance_factory,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True
            self.get = v

    update = _index_rebalance_factory(k=4, threshold_ppm=2_000_000)
    state = FakeState()
    # Catch-up batch: cluster 2's newer total (100) precedes its stale
    # one (10); clusters 0/1/3 report once.
    batch = pd.DataFrame(
        {"cluster": [2, 0, 1, 2, 3], "n_total": [100, 10, 10, 10, 10]}
    )
    (out,) = list(update((0,), [batch], state))
    assert tuple(out.iloc[0]) == (4, 130, 100, 3_076_923, 1)
    # And a later batch with an older replayed total must not regress the
    # carried state either.
    (out2,) = list(update((0,), [pd.DataFrame({"cluster": [2], "n_total": [50]})], state))
    assert tuple(out2.iloc[0]) == (4, 130, 100, 3_076_923, 1)
