"""Streaming-only semantics (SURVEY.md §2.4 T1-T8): watermark lateness,
update mode, idempotent upsert sink. Batch/streaming parity is the core
assertion — the same transform functions must produce identical candles.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import re
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from crypto_trading_data_pipeline_spark.operators.candles import ohlcv
from crypto_trading_data_pipeline_spark.sources import file_json_stream, parse_trades
from crypto_trading_data_pipeline_spark.streaming.job import (
    candle_stream,
    checkpoint_manager,
    start_candle_query,
)
from crypto_trading_data_pipeline_spark.streaming.sinks import (
    EPOCH_COL,
    ParquetUpsertSink,
    merge_last_wins,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_MS = 1_700_000_000_000  # fixed epoch anchor (2023-11-14T22:13:20Z)
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
ALLOW_MULTIPLE_CONF = "spark.sql.streaming.statefulOperator.allowMultiple"


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


def test_merge_last_wins(spark):
    rows = spark.createDataFrame(
        [("a", 1, 10.0, 0), ("b", 1, 20.0, 0), ("a", 2, 11.0, 1), ("c", 3, 5.0, 1),
         ("b", 9, 19.0, 2)],
        ["k", "v", "ord", EPOCH_COL],
    )
    # the highest order wins, whatever the epoch
    out = {r.k: r.v for r in merge_last_wins(rows, keys=["k"], order_col="ord").collect()}
    assert out == {"a": 2, "b": 1, "c": 3}
    # at EQUAL order the later epoch wins (a re-delivered row replaces its own)
    replay = rows.unionByName(
        rows.withColumn("v", F.col("v") + 100).withColumn(EPOCH_COL, F.col(EPOCH_COL) + 3)
    )
    out = {r.k: r.v for r in merge_last_wins(replay, keys=["k"], order_col="ord").collect()}
    assert out == {"a": 102, "b": 101, "c": 103}


def test_streaming_candles_end_to_end(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    sink_path = str(tmp_path / "candles_table")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(str(indir), TRADES_1, "batch1.json")

    trades = parse_trades(file_json_stream(spark, str(indir)))
    candles = candle_stream(trades)
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
        for r in ohlcv(parse_trades(batch_df)).collect()
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
    keys the table already holds: no whole-table rewrite per trigger. A
    batch is one delta file; an empty batch writes nothing at all. No call
    leaves a hidden file in the table."""
    path = str(tmp_path / "t")
    writer = ParquetUpsertSink(path, keys=["k"], order_col="ord")

    def sink(df, epoch):
        writer(df, epoch)
        assert not [f for f in os.listdir(path) if f.startswith(".")]

    sink(spark.range(n_keys).selectExpr("id AS k", "1L AS v", "1.0D AS ord"), 0)
    one = spark.createDataFrame([(0, 2, 2.0)], ["k", "v", "ord"])
    sink(one, 1)  # folds epoch 0 into the base
    before = _file_rows(path)
    batch = spark.createDataFrame([(1, 3, 3.0), (n_keys, 3, 1.0)], ["k", "v", "ord"])
    sink(batch, 2)
    after = _file_rows(path)
    assert set(before) <= set(after)
    added = set(after) - set(before)
    assert len(added) == 1 and next(iter(added)).startswith("delta-")
    assert sum(after[f] for f in added) == 2
    sink(batch.limit(0), 3)
    assert _file_rows(path) == after
    got = {r.k: r.v for r in writer.read(spark).collect()}
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


@pytest.mark.parametrize("seed", range(4))
def test_fold_agrees_with_merge_last_wins(spark, tmp_path, seed):
    """The fold's pyarrow merge keeps, per key, the row ``merge_last_wins``
    keeps, on random delta files: keys repeat across files, orders tie so
    that the epoch must break them, and ``ord`` and ``v`` hold nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    os.makedirs(path)
    schema = pa.schema([("k", pa.int64()), ("ord", pa.int64()), (EPOCH_COL, pa.int64()),
                        ("v", pa.string())])
    n_files = 6
    for epoch in range(n_files):
        keys = rng.sample(range(40), rng.randint(1, 25))
        cols = [keys, [rng.choice([None, 0, 1, 2]) for _ in keys], [epoch] * len(keys),
                [rng.choice([None, "a", "b"]) for _ in keys]]
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, f"delta-{epoch:012d}.parquet"))
    merged = merge_last_wins(spark.read.parquet(path), keys=["k"], order_col="ord")
    want = sorted(map(tuple, merged.select(*schema.names).collect()))
    ParquetUpsertSink(path, keys=["k"], order_col="ord")._fold(n_files, schema)
    (base,) = os.listdir(path)
    assert base == f"base-{n_files - 1:012d}-{n_files:012d}.parquet"
    got = pq.read_table(os.path.join(path, base))
    assert got.schema == schema
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == want


def test_folding_call_runs_one_spark_job(spark, tmp_path):
    """A sink call that folds runs one Spark job, its batch's ``toArrow()``:
    the fold reads, merges and writes with pyarrow on the driver."""
    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")
    sink(spark.range(10).selectExpr("id AS k", "1L AS ord"), 0)
    sink(spark.range(5, 15).selectExpr("id AS k", "2L AS ord"), 1)  # folds epoch 0
    sc = spark.sparkContext
    group = "folding-sink-call"
    sc.setJobGroup(group, "a folding sink call")
    try:
        sink(spark.range(1).selectExpr("id AS k", "3L AS ord"), 2)  # folds epochs 0-1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sorted(os.listdir(path)) == [
        "base-000000000001-000000000002.parquet", "delta-000000000002.parquet"
    ]
    got = {r.k: r.ord for r in sink.read(spark).collect()}
    assert got == {**{k: 1 for k in range(5)}, **{k: 2 for k in range(5, 15)}, 0: 3}


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


def test_candle_query_resumes_from_checkpoint(spark, tmp_path):
    """Checkpoint recovery on the shipped candle path: a NEW query resuming
    from the same checkpoint carries the source offsets, the watermark and
    the open windows forward. It neither re-reads batch 1 nor restarts a
    window that batch 2 updates, so the served table equals batch ``ohlcv``
    over the on-time trades, row for row."""
    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = ParquetUpsertSink(
        str(tmp_path / "candles_table"), keys=["symbol", "window_start"], order_col="n_trades"
    )

    def run():
        trades = parse_trades(file_json_stream(spark, str(indir)))
        q = start_candle_query(
            candle_stream(trades), sink=sink, checkpoint_dir=ckpt, trigger_seconds=None
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_batch(str(indir), TRADES_1, "b1.json")
    run()
    _write_batch(str(indir), TRADES_2, "b2.json")
    run()  # restart: new query object, same checkpoint

    on_time = spark.createDataFrame([(t,) for t in TRADES_1 + TRADES_2[:2]], ["value"])
    expected = sorted(map(tuple, ohlcv(parse_trades(on_time)).collect()))
    assert sorted(map(tuple, sink.read(spark).collect())) == expected


def _executed(q):
    """Progress entries of the triggers that ran a batch (an idle poll
    reports no ``addBatch``)."""
    return [p for p in q.recentProgress if "addBatch" in p["durationMs"]]


def test_candle_query_runs_one_trigger_per_file(spark, tmp_path):
    """Each landed file costs the candle query one trigger: no no-data
    batch runs between files, and a window the watermark has passed is
    evicted by the next data batch instead. File 2 moves the max event
    time to 22:18:20, so batch 3 runs with watermark 22:16:20 and evicts
    the windows of file 1, which end at 22:14 and 22:15."""
    indir = tmp_path / "in"
    indir.mkdir()
    files = [TRADES_1, [trade(8, "BTCUSDT", "42010.00", "0.2", 300)],
             [trade(9, "ETHUSDT", "2205.00", "1.0", 310)]]
    q = start_candle_query(
        candle_stream(parse_trades(file_json_stream(spark, str(indir)))),
        sink=lambda df, _epoch: df.collect(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    try:
        for i, lines in enumerate(files):
            _write_batch(str(indir), lines, f"b{i}.json")
            q.processAllAvailable()
        executed = _executed(q)
    finally:
        q.stop()
    assert [p["numInputRows"] for p in executed] == [4, 1, 1]
    assert sum(p["stateOperators"][0]["numRowsRemoved"] for p in executed) > 0


@pytest.mark.parametrize("restart", [False, True], ids=["in_process", "restart"])
def test_candle_query_drops_late_rows_by_the_batch_watermark(spark, tmp_path, restart):
    """Batch A brings the max event time to T = 22:18:20, so batch B runs
    with watermark T - 2 min = 22:16:20. B's trades in the 22:13 and 22:14
    windows end after the watermark A ran with (none yet) but at or
    before B's, so B drops them, in one query and after a clean stop and
    restart between A and B (the watermark comes back from the commit
    log). The table equals batch ``ohlcv`` over the trades the perfbench
    replay keeps, and the query's watermark drops equal the replay's."""
    with pytest.MonkeyPatch.context() as mp:
        mp.syspath_prepend(os.path.join(REPO, "perfbench"))
        from stream import replay

    batch_a = [
        trade(1, "BTCUSDT", "42000.10", "0.5", 0),
        trade(2, "ETHUSDT", "2200.50", "2.0", 20),
        trade(3, "BTCUSDT", "42001.00", "0.25", 300),
    ]
    batch_b = [
        trade(4, "BTCUSDT", "41000.00", "7.0", 30),   # 22:13 window, late
        trade(5, "ETHUSDT", "2100.00", "5.0", 70),    # 22:14 window, late
        trade(6, "BTCUSDT", "42002.00", "0.1", 290),  # 22:18 window, on time
        trade(7, "ETHUSDT", "2201.00", "3.0", 250),   # 22:17 window, on time
    ]
    kept, dropped = replay([[json.loads(t) for t in b] for b in (batch_a, batch_b)])
    assert dropped == [0, 2]

    indir = tmp_path / "in"
    indir.mkdir()
    sink = ParquetUpsertSink(
        str(tmp_path / "candles_table"), keys=["symbol", "window_start"], order_col="n_trades"
    )

    def start():
        return start_candle_query(
            candle_stream(parse_trades(file_json_stream(spark, str(indir)))),
            sink=sink, checkpoint_dir=str(tmp_path / "ckpt"), trigger_seconds=None,
        )

    executed = []
    q = start()
    try:
        _write_batch(str(indir), batch_a, "a.json")
        q.processAllAvailable()
        if restart:
            executed += _executed(q)
            q.stop()
            q = start()
        _write_batch(str(indir), batch_b, "b.json")
        q.processAllAvailable()
        executed += _executed(q)
    finally:
        q.stop()

    assert sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in executed) == sum(dropped)
    on_time = spark.createDataFrame([(json.dumps(r),) for b in kept for r in b], ["value"])
    expected = sorted(map(tuple, ohlcv(parse_trades(on_time)).collect()))
    assert sorted(map(tuple, sink.read(spark).collect())) == expected


@pytest.mark.parametrize(
    "preset",
    [{}, {MANAGER_CONF: FS_MANAGER.replace("FileSystem", "FileContext"), NO_DATA_CONF: "true"}],
    ids=["unset", "set"],
)
def test_checkpoint_manager_is_scoped_to_the_query(spark, tmp_path, preset):
    """A local checkpoint runs its query under Spark's FileSystem-based
    checkpoint manager, with no-data micro-batches off and one stateful
    operator's watermark, all set on the query's own session only: once
    ``start_candle_query`` returns, the session's conf reads exactly what
    it read before, set or unset. Only a ``file`` scheme switches the
    manager; a scheme-less path is qualified through ``fs.defaultFS``."""
    for key, value in preset.items():
        spark.conf.set(key, value)
    try:
        before = spark.conf.getAll
        indir = tmp_path / "in"
        indir.mkdir()
        _write_batch(str(indir), TRADES_1, "b1.json")
        rows = []
        q = start_candle_query(
            candle_stream(parse_trades(file_json_stream(spark, str(indir)))),
            sink=lambda df, _epoch: rows.extend(df.collect()),
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_seconds=None,
        )
        try:
            assert spark.conf.getAll == before
            stream_conf = q._jsq.streamingQuery().sparkSessionForStream().conf()
            assert stream_conf.get(MANAGER_CONF) == FS_MANAGER
            assert stream_conf.get(NO_DATA_CONF) == "false"
            assert stream_conf.get(ALLOW_MULTIPLE_CONF) == "false"
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(rows) == 3
        assert spark.conf.getAll == before
    finally:
        for key in preset:
            spark.conf.unset(key)

    assert checkpoint_manager(spark, "/x") == FS_MANAGER
    assert checkpoint_manager(spark, "file:/x") == FS_MANAGER
    assert checkpoint_manager(spark, "hdfs://nn/x") is None
    assert checkpoint_manager(spark, "s3a://b/x") is None


def test_candle_query_resumes_a_default_manager_checkpoint(spark, tmp_path):
    """A checkpoint written under Spark's default checkpoint manager (a
    plain ``writeStream`` over the same candle plan) resumes under
    ``start_candle_query``'s FileSystem-based one: the served table equals
    batch ``ohlcv`` over the on-time trades, row for row."""
    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = ParquetUpsertSink(
        str(tmp_path / "candles_table"), keys=["symbol", "window_start"], order_col="n_trades"
    )

    def candles():
        return candle_stream(parse_trades(file_json_stream(spark, str(indir))))

    _write_batch(str(indir), TRADES_1, "b1.json")
    assert spark.conf.get(MANAGER_CONF, None) is None
    q = (
        candles().writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .queryName("candles_1min")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _write_batch(str(indir), TRADES_2, "b2.json")
    q = start_candle_query(candles(), sink=sink, checkpoint_dir=ckpt, trigger_seconds=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    on_time = spark.createDataFrame([(t,) for t in TRADES_1 + TRADES_2[:2]], ["value"])
    expected = sorted(map(tuple, ohlcv(parse_trades(on_time)).collect()))
    assert sorted(map(tuple, sink.read(spark).collect())) == expected


CRASH_SEED = 11
CRASH_CYCLES = 4
CRASH_TRADES = 500
CRASH_EXIT = 17
#: The cycle the job dies in or after, at every point: its data epoch folds.
CRASH_CYCLE = 2
#: Where the job dies: in the sink after its delta's rename, in the sink
#: before that rename, after a settled cycle and before the next lands, in
#: a fold after its new base is renamed in, or in a fold after its first
#: covered file is removed.
CRASH_POINTS = (
    "after_commit", "before_rename", "between_triggers", "mid_fold", "after_remove"
)


def _crash_child(work: str, point: str, crash: bool) -> None:
    """One run of the candle job over the seeded perfbench feed, in its own
    process and JVM, on the checkpoint and serving table in ``work``.

    With ``crash`` it lands the cycles up to the point's ``CRASH_CYCLE``
    and dies at ``point`` by killing the JVM and ending the process:
    - ``after_commit``: the sink call of that cycle's data epoch runs the
      real sink, which commits the epoch's delta, records the table's
      files, and dies before returning, so Spark has not written that
      epoch's commit log;
    - ``before_rename``: ``os.replace`` dies when its target is that
      epoch's ``delta-{epoch}.parquet``, leaving only the hidden file;
    - ``between_triggers``: it dies once the cycle has settled, before the
      next cycle lands;
    - ``mid_fold``: ``os.rename`` dies once it has moved that cycle's
      new ``base-*`` file into the table, before the fold removes any
      file it covered;
    - ``after_remove``: ``os.remove`` dies once it has removed the first
      file that cycle's fold covered, leaving the others beside the new
      base.
    Without ``crash`` it resumes from the checkpoint (Spark re-delivers an
    uncommitted epoch), records the table's files, then lands the
    remaining cycles. Every settled cycle's freshness count and the hidden
    files in the table then go to JSON files, as do the hidden files
    ``before_rename`` leaves and the table's files ``mid_fold`` and
    ``after_remove`` leave."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from stream import _now_ms, make_feed

    from crypto_trading_data_pipeline_spark.monitor import fresh_row_count
    from crypto_trading_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="candle-crash", master="local[2]")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    feed = make_feed(CRASH_SEED, CRASH_CYCLES, per_cycle=CRASH_TRADES)
    indir, staging = os.path.join(work, "in"), os.path.join(work, "staging")
    table = os.path.join(work, "serving")
    os.makedirs(indir, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    real = ParquetUpsertSink(table, keys=["symbol", "window_start"], order_col="n_trades")
    phase = "crash" if crash else "resume"
    fresh, hidden, cycle, doomed = {}, {}, [None], [None]

    def dump(name, obj):
        with open(os.path.join(work, f"{name}.json"), "w") as f:
            json.dump(obj, f)

    def record(name):
        dump(name, _file_rows(table))

    def dot_files():
        return sorted(f for f in os.listdir(table) if f.startswith("."))

    def die():
        os.kill(jvm_pid, signal.SIGKILL)
        os._exit(CRASH_EXIT)

    def sink(batch, epoch_id):
        if crash and cycle[0] == CRASH_CYCLE:
            doomed[0] = os.path.join(table, f"delta-{epoch_id:012d}.parquet")
        real(batch, epoch_id)
        if crash and point == "after_commit" and doomed[0] and os.path.exists(doomed[0]):
            record("committed")
            die()

    if crash and point == "before_rename":
        replace = os.replace

        def replace_or_die(src, dst, **kwargs):
            if dst == doomed[0]:
                dump("hidden-at-crash", dot_files())
                die()
            replace(src, dst, **kwargs)

        os.replace = replace_or_die

    if crash and point == "mid_fold":
        rename = os.rename

        def rename_then_die(src, dst, **kwargs):
            rename(src, dst, **kwargs)
            if cycle[0] == CRASH_CYCLE and os.path.basename(dst).startswith("base-"):
                dump("files-at-crash", sorted(os.listdir(table)))
                die()

        os.rename = rename_then_die

    if crash and point == "after_remove":
        remove = os.remove

        def remove_then_die(path):
            remove(path)
            if cycle[0] == CRASH_CYCLE and re.match(r"(base|delta)-", os.path.basename(path)):
                dump("files-at-crash", sorted(os.listdir(table)))
                die()

        os.remove = remove_then_die

    def land(c):
        name = f"trades-{c:05d}.json"
        with open(os.path.join(staging, name), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in feed[c])
        os.rename(os.path.join(staging, name), os.path.join(indir, name))

    def settle(c):
        q.processAllAvailable()
        now = datetime.datetime.fromtimestamp(_now_ms(c) / 1000, datetime.timezone.utc)
        fresh[c] = fresh_row_count(real.read(spark), now=now)
        hidden[c] = dot_files()
        dump(f"fresh-{phase}", fresh)
        dump(f"hidden-{phase}", hidden)

    q = start_candle_query(
        candle_stream(parse_trades(file_json_stream(spark, indir))),
        sink=sink, checkpoint_dir=os.path.join(work, "ckpt"), trigger_seconds=None,
    )
    try:
        if crash:
            for c in range(CRASH_CYCLE + 1):
                cycle[0] = c
                land(c)
                settle(c)
            if point == "between_triggers":
                die()
        else:
            settle(CRASH_CYCLE)
            record("redelivered")
            for c in range(CRASH_CYCLE + 1, CRASH_CYCLES):
                land(c)
                settle(c)
    finally:
        q.stop()


@pytest.fixture(scope="module")
def crash_replay(spark):
    """What every crash point must end with: the perfbench replay's
    freshness count after each cycle, and batch ``ohlcv`` over the replay's
    on-time trades, sorted."""
    with pytest.MonkeyPatch.context() as mp:
        mp.syspath_prepend(os.path.join(REPO, "perfbench"))
        from stream import _now_ms, fresh_counts, make_feed, replay

    kept, _dropped = replay(make_feed(CRASH_SEED, CRASH_CYCLES, per_cycle=CRASH_TRADES))
    want, _rows = fresh_counts(kept, [_now_ms(c) for c in range(CRASH_CYCLES)])
    on_time = spark.createDataFrame([(json.dumps(r),) for b in kept for r in b], ["value"])
    return want, sorted(map(tuple, ohlcv(parse_trades(on_time)).collect()))


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_candle_job_survives_a_crash(spark, tmp_path, crash_replay, point):
    """The candle job's process and JVM die at ``point`` (see
    ``_crash_child``) and a new process resumes it from the same
    checkpoint. Every freshness count matches the perfbench replay's, the
    finished table equals batch ``ohlcv`` over the replay's on-time trades,
    row for row, and no settled cycle leaves a hidden file in the table
    (dying before the rename did leave one). After a commit,
    the re-delivery window: Spark re-delivers the epoch and the sink
    replaces the epoch's own file, so the table's files and their row
    counts are what the first delivery left."""
    work = str(tmp_path)
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}

    def child(phase):
        code = (
            "import sys; from tests.test_streaming import _crash_child; "
            "_crash_child(sys.argv[1], sys.argv[2], sys.argv[3] == 'crash')"
        )
        return subprocess.run(
            [sys.executable, "-c", code, work, point, phase],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
        )

    first = child("crash")
    assert first.returncode == CRASH_EXIT, first.stderr[-3000:]
    second = child("resume")
    assert second.returncode == 0, second.stderr[-3000:]

    def load(name):
        with open(os.path.join(work, f"{name}.json")) as f:
            return json.load(f)

    if point == "after_commit":
        assert load("redelivered") == load("committed")
    if point == "before_rename":
        assert load("hidden-at-crash")
    if point in ("mid_fold", "after_remove"):
        names = load("files-at-crash")
        at_crash = [m for f in names if (m := re.match(r"(base|delta)-(\d+)", f))]
        top = max(int(m[2]) for m in at_crash if m[1] == "base")
        covered = [m for m in at_crash if m[1] == "delta" and int(m[2]) <= top]
        if point == "mid_fold":  # the new base is in, and a delta it covers too
            assert covered, names
        else:  # the new base is in, beside an older base or a delta it covers
            assert covered or [m for m in at_crash if m[1] == "base" and int(m[2]) < top], names
    for phase in ("crash", "resume"):
        assert not any(load(f"hidden-{phase}").values()), load(f"hidden-{phase}")
    want, expected = crash_replay
    got = {**load("fresh-crash"), **load("fresh-resume")}
    assert [got[str(c)] for c in range(CRASH_CYCLES)] == want

    served = ParquetUpsertSink(
        os.path.join(work, "serving"), keys=["symbol", "window_start"], order_col="n_trades"
    )
    assert sorted(map(tuple, served.read(spark).collect())) == expected


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
