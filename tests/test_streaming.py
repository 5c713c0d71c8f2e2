"""Streaming-only semantics (SURVEY.md §2.4 T1-T8): watermark lateness,
update mode, idempotent upsert sink. Batch/streaming parity is the core
assertion — the same transform functions must produce identical candles.
"""

from __future__ import annotations

import datetime
import json
import os
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
from crypto_trading_data_pipeline_spark.streaming.sinks import ParquetUpsertSink, merge_last_wins

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_MS = 1_700_000_000_000  # fixed epoch anchor (2023-11-14T22:13:20Z)
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


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
    keys the table already holds: no whole-table rewrite per trigger. A
    batch is one delta file; an empty batch writes nothing at all. No call
    leaves a hidden file in the table or a staging directory beside it."""
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
    assert not [f for f in os.listdir(tmp_path) if ".staging" in f]
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


@pytest.mark.parametrize(
    "preset", [None, FS_MANAGER.replace("FileSystem", "FileContext")], ids=["unset", "set"]
)
def test_checkpoint_manager_is_scoped_to_the_query(spark, tmp_path, preset):
    """A local checkpoint runs its query under Spark's FileSystem-based
    checkpoint manager, set on the query's own session only: once
    ``start_candle_query`` returns, the session's conf reads exactly what
    it read before, set or unset. Only a ``file`` scheme switches; a
    scheme-less path is qualified through ``fs.defaultFS``."""
    if preset is not None:
        spark.conf.set(MANAGER_CONF, preset)
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
            stream_session = q._jsq.streamingQuery().sparkSessionForStream()
            assert stream_session.conf().get(MANAGER_CONF) == FS_MANAGER
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(rows) == 3
        assert spark.conf.getAll == before
    finally:
        spark.conf.unset(MANAGER_CONF)

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
#: Where the job dies (in the sink after its delta's rename, in the sink
#: before that rename, or after a settled cycle and before the next lands)
#: and the cycle it dies in or after. ``before_rename`` dies in the last
#: cycle: a later call's fold rewrites the table dir, which would hide a
#: temp file the resumed sink failed to clear.
CRASH_CYCLE = {"after_commit": 2, "before_rename": CRASH_CYCLES - 1, "between_triggers": 2}
CRASH_POINTS = tuple(CRASH_CYCLE)


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
      next cycle lands.
    Without ``crash`` it resumes from the checkpoint (Spark re-delivers an
    uncommitted epoch), records the table's files, then lands the
    remaining cycles. Every settled cycle's freshness count and the hidden
    files in the table then go to JSON files, as do the hidden files
    ``before_rename`` leaves."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from stream import _now_ms, make_feed

    from crypto_trading_data_pipeline_spark.monitor import fresh_row_count
    from crypto_trading_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="candle-crash", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    feed = make_feed(CRASH_SEED, CRASH_CYCLES, per_cycle=CRASH_TRADES)
    indir, staging = os.path.join(work, "in"), os.path.join(work, "staging")
    table = os.path.join(work, "serving")
    os.makedirs(indir, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    real = ParquetUpsertSink(table, keys=["symbol", "window_start"], order_col="n_trades")
    phase = "crash" if crash else "resume"
    crash_cycle = CRASH_CYCLE[point]
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
        if crash and cycle[0] == crash_cycle:
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
            for c in range(crash_cycle + 1):
                cycle[0] = c
                land(c)
                settle(c)
            if point == "between_triggers":
                die()
        else:
            settle(crash_cycle)
            record("redelivered")
            for c in range(crash_cycle + 1, CRASH_CYCLES):
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
