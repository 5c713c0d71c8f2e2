"""Operational-glue hardening: generated serving-table DDL matches the
reference's hand-written shape, merge SQL is injection-safe, the parquet
upsert survives a crash at any step of a fold, CC refuses to return
unconverged labels, and freshness cutoffs respect timezones."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crypto_trading_data_pipeline_spark.monitor import fresh_row_count
from crypto_trading_data_pipeline_spark.operators.graph import connected_components
from crypto_trading_data_pipeline_spark.streaming.sinks import (
    EPOCH_COL,
    JdbcUpsertSink,
    ParquetUpsertSink,
    merge_last_wins,
    serving_table_ddl,
)

# The candle serving schema — the engine's analog of the reference's
# trades_1min_agg table (postgres/init/init.sql:6-20).
CANDLE_SCHEMA = T.StructType(
    [
        T.StructField("window_start", T.TimestampType(), False),
        T.StructField("window_end", T.TimestampType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open_price", T.DecimalType(20, 8), True),
        T.StructField("high_price", T.DecimalType(20, 8), True),
        T.StructField("low_price", T.DecimalType(20, 8), True),
        T.StructField("close_price", T.DecimalType(20, 8), True),
        T.StructField("total_volume", T.DecimalType(20, 8), True),
        T.StructField("vwap", T.DecimalType(20, 8), True),
    ]
)


def test_serving_ddl_matches_reference_shape():
    """Same shape as reference init.sql: PRIMARY KEY on (symbol,
    window_start), NUMERIC(20,8) prices, DESCENDING window_start index."""
    create, index = serving_table_ddl(
        CANDLE_SCHEMA,
        table="trades_1min_agg",
        keys=["symbol", "window_start"],
        order_col="window_start",
    )
    assert create.startswith("CREATE TABLE IF NOT EXISTS trades_1min_agg")
    assert "PRIMARY KEY (symbol, window_start)" in create
    assert "open_price NUMERIC(20,8)" in create
    assert "window_end TIMESTAMP NOT NULL" in create
    assert "ON trades_1min_agg (window_start DESC)" in index


def test_serving_ddl_rejects_unknown_type_and_missing_key():
    arr = T.StructType([T.StructField("v", T.ArrayType(T.FloatType()), True)])
    with pytest.raises(ValueError, match="no serving-table mapping"):
        serving_table_ddl(arr, table="t", keys=["v"])
    with pytest.raises(ValueError, match="not in schema"):
        serving_table_ddl(CANDLE_SCHEMA, table="t", keys=["nope"])


def _sink(**kw):
    base = dict(
        host="db",
        dbname="crypto_data",
        user="u",
        password="p",
        table="trades_1min_agg",
        keys=["symbol", "window_start"],
    )
    base.update(kw)
    return JdbcUpsertSink(**base)


def test_jdbc_sink_merge_sql_and_url():
    s = _sink()
    assert s.jdbc_url == "jdbc:postgresql://db:5432/crypto_data"
    sql = s._merge_sql("trades_1min_agg_staging_7", ["symbol", "window_start", "vwap"])
    assert "ON CONFLICT (symbol, window_start) DO UPDATE SET" in sql
    assert "vwap = EXCLUDED.vwap" in sql
    # key columns never appear in the update list
    assert "symbol = EXCLUDED" not in sql


def test_jdbc_sink_merge_sql_key_only_table():
    """Every batch column being a key (a presence set) must emit DO NOTHING:
    'DO UPDATE SET' with an empty assignment list is malformed Postgres
    (ADVICE r2), and DO NOTHING is the idempotent merge for key-only rows."""
    s = _sink()
    sql = s._merge_sql("trades_1min_agg_staging_7", ["symbol", "window_start"])
    assert sql.endswith("ON CONFLICT (symbol, window_start) DO NOTHING"), sql
    assert "DO UPDATE" not in sql


def test_jdbc_sink_rejects_hostile_identifiers():
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        _sink(table="t; DROP TABLE users")
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        _sink(keys=['sym"bol'])
    s = _sink()
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        s._merge_sql("stage", ["ok_col", "bad col"])


def test_jdbc_sink_live_merge_against_duckdb(spark, tmp_path):
    """The serving path end-to-end against a REAL database (VERDICT r5
    #6): the sandbox has no Postgres, but DuckDB speaks the same
    CREATE TABLE/PRIMARY KEY/INDEX + INSERT..ON CONFLICT DO UPDATE
    dialect, so the sink's GENERATED statements — ensure_table DDL and
    per-epoch merge SQL — execute live via the injectable executor. Only
    the Spark-JDBC staging upload is emulated (parquet -> read_parquet);
    every statement the driver would run is the real one."""
    import duckdb
    from decimal import Decimal

    con = duckdb.connect()

    def ex(*stmts):
        con.execute("BEGIN")
        for stmt in stmts:
            con.execute(stmt)
        con.execute("COMMIT")

    s = _sink(order_col="window_start", executor=ex)
    t0 = datetime(2024, 1, 1, 0, 0)
    t1 = t0 + timedelta(minutes=1)

    def candle(sym, ws, close):
        return (
            ws,
            ws + timedelta(minutes=1),
            sym,
            Decimal("1.00000000"),
            Decimal("9.00000000"),
            Decimal("0.50000000"),
            Decimal(close),
            Decimal("100.00000000"),
            Decimal(close),
        )

    def run_epoch(epoch_id, rows):
        batch = spark.createDataFrame(rows, schema=CANDLE_SCHEMA)
        staging = s._staging_name(epoch_id)
        p = str(tmp_path / f"stage_{epoch_id}")
        batch.write.mode("overwrite").parquet(p)
        con.execute(
            f"CREATE OR REPLACE TABLE {staging} AS SELECT * FROM read_parquet('{p}/*.parquet')"
        )
        ex(
            s._merge_sql(staging, [f.name for f in batch.schema.fields]),
            f"DROP TABLE {staging}",
        )

    s.ensure_table(CANDLE_SCHEMA)
    # DDL is idempotent (IF NOT EXISTS) — a restarted job re-ensuring must
    # not fail or wipe state.
    s.ensure_table(CANDLE_SCHEMA)

    run_epoch(0, [candle("BTCUSDT", t0, "7.0"), candle("ETHUSDT", t0, "2.0")])
    run_epoch(1, [candle("ETHUSDT", t0, "2.5"), candle("ETHUSDT", t1, "3.0")])

    got = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            "SELECT symbol, window_start, close_price FROM trades_1min_agg"
        ).fetchall()
    }
    assert got == {
        ("BTCUSDT", t0): Decimal("7.00000000"),
        ("ETHUSDT", t0): Decimal("2.50000000"),  # epoch 1 overwrote epoch 0
        ("ETHUSDT", t1): Decimal("3.00000000"),
    }
    # Epoch replay (same staging content, e.g. a foreachBatch retry) is
    # idempotent: state unchanged.
    run_epoch(1, [candle("ETHUSDT", t0, "2.5"), candle("ETHUSDT", t1, "3.0")])
    assert con.execute("SELECT count(*) FROM trades_1min_agg").fetchone()[0] == 3
    # Staging tables are dropped after every merge.
    leftovers = [
        t for (t,) in con.execute("SHOW TABLES").fetchall() if "staging" in t
    ]
    assert leftovers == []


def _crash(*_args):
    raise RuntimeError("simulated crash")


@pytest.mark.parametrize("leftover", ["whole", "truncated"])
def test_parquet_upsert_recovers_from_crash_before_commit(spark, tmp_path, monkeypatch, leftover):
    """A re-delivered epoch that dies before its commit rename leaves only
    a hidden .tmp file, whole (the crash hit the rename) or cut short (it
    hit the write). A read, even one inferring the schema, serves the
    first delivery and skips the file; the next call removes it."""
    path = str(tmp_path / "serving")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")
    sink(spark.createDataFrame([(1, 10), (2, 20)], ["k", "ord"]), epoch_id=0)
    sink(spark.createDataFrame([(2, 30), (3, 30)], ["k", "ord"]), epoch_id=1)
    committed = set(os.listdir(path))
    monkeypatch.setattr(os, "replace", _crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(spark.createDataFrame([(2, 50), (3, 50)], ["k", "ord"]), epoch_id=1)
    monkeypatch.undo()
    (hidden,) = set(os.listdir(path)) - committed
    assert hidden.startswith(".") and hidden.endswith(".tmp")
    if leftover == "truncated":
        with open(os.path.join(path, hidden), "r+b") as f:
            f.truncate(7)
    for reader in (sink, ParquetUpsertSink(path, keys=["k"], order_col="ord")):
        got = {(r.k, r.ord) for r in reader.read(spark).collect()}
        assert got == {(1, 10), (2, 30), (3, 30)}
    assert set(os.listdir(path)) == committed | {hidden}
    sink(spark.createDataFrame([(1, 40)], ["k", "ord"]), epoch_id=2)
    assert not [f for f in os.listdir(path) if f.startswith(".")]
    got = {(r.k, r.ord) for r in sink.read(spark).collect()}
    assert got == {(1, 40), (2, 30), (3, 30)}


#: Two calls that each fold, once epochs 0 and 1 have made a base and a
#: delta: epoch 2's call folds base 0 with delta 1, epoch 3's base 1 with
#: delta 2.
FOLD_CALLS = [(2, [(3, 50), (4, 40), (5, 50)]), (3, [(1, 60)])]
#: The renames and removes those two calls make: per fold, one rename of
#: its base and one remove each of the old base and the delta.
FOLD_FILE_OPS = 6


@pytest.mark.parametrize("k", range(FOLD_FILE_OPS + 1))
def test_parquet_upsert_survives_a_crash_inside_a_fold(spark, tmp_path, monkeypatch, k):
    """The k-th ``os.rename`` or ``os.remove`` of two folding calls raises
    (at ``k == FOLD_FILE_OPS`` none does, and the calls make exactly that
    many). A fresh sink then reads the table as it was before the crashed
    call or after it, the re-delivered epoch leaves it exact, and one more
    fold leaves only its base and the newest delta."""
    path = str(tmp_path / "serving")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")

    def served(reader):
        return {(r.k, r.ord) for r in reader.read(spark).collect()}

    def deliver(epoch, rows):
        sink(spark.createDataFrame(rows, ["k", "ord"]), epoch_id=epoch)

    deliver(0, [(1, 10), (2, 20)])
    deliver(1, [(2, 30), (3, 30)])
    ops = []

    def nth_op_crashes(real):
        def op(*args, **kwargs):
            ops.append(args)
            if len(ops) == k + 1:
                _crash()
            return real(*args, **kwargs)

        return op

    monkeypatch.setattr(os, "rename", nth_op_crashes(os.rename))
    monkeypatch.setattr(os, "remove", nth_op_crashes(os.remove))
    table = {1: 10, 2: 30, 3: 30}
    crashed = []
    for epoch, rows in FOLD_CALLS:
        before = set(table.items())
        for key, order in rows:
            table[key] = max(order, table.get(key, order))
        try:
            deliver(epoch, rows)
        except RuntimeError:
            crashed.append(epoch)
            fresh = ParquetUpsertSink(path, keys=["k"], order_col="ord")
            assert served(fresh) in (before, set(table.items()))
            deliver(epoch, rows)  # the re-delivery
        assert served(sink) == set(table.items())
    monkeypatch.undo()
    if k < FOLD_FILE_OPS:
        assert crashed
    else:
        assert len(ops) == FOLD_FILE_OPS
    deliver(4, [(key, 70) for key in range(10, 30)])
    deliver(5, [(2, 80)])
    table.update({key: 70 for key in range(10, 30)})
    table[2] = 80
    files = sorted(os.listdir(path))
    assert files[-1] == "delta-000000000005.parquet"
    assert all(f.startswith("base-000000000004-") for f in files[:-1])
    assert served(sink) == set(table.items())


@pytest.mark.parametrize("leftover", ["whole", "truncated"])
def test_parquet_upsert_survives_a_crash_writing_a_fold(spark, tmp_path, monkeypatch, leftover):
    """``pyarrow.parquet.write_table`` dies inside a fold, once it has
    written the new base as a hidden ``.tmp`` file, whole or cut short.
    Every read, even one inferring the schema, skips that file and serves
    what the committed delta left; the re-delivered call removes it and
    folds."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "serving")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")

    def deliver(epoch, rows):
        sink(spark.createDataFrame(rows, ["k", "ord"]), epoch_id=epoch)

    deliver(0, [(1, 10), (2, 20)])
    deliver(1, [(2, 30), (3, 30)])
    write = pq.write_table

    def write_then_die(table, where, **kwargs):
        write(table, where, **kwargs)
        if os.path.basename(where).startswith(".base-"):
            if leftover == "truncated":
                with open(where, "r+b") as f:
                    f.truncate(7)
            _crash()

    monkeypatch.setattr(pq, "write_table", write_then_die)
    epoch, rows = FOLD_CALLS[0]
    with pytest.raises(RuntimeError, match="simulated crash"):
        deliver(epoch, rows)
    monkeypatch.undo()
    (hidden,) = [f for f in os.listdir(path) if f.startswith(".")]
    assert hidden.startswith(".base-") and hidden.endswith(".parquet.tmp")
    table = {(1, 10), (2, 30), (3, 50), (4, 40), (5, 50)}
    for reader in (sink, ParquetUpsertSink(path, keys=["k"], order_col="ord")):
        assert {(r.k, r.ord) for r in reader.read(spark).collect()} == table
    deliver(epoch, rows)  # the re-delivery
    files = sorted(os.listdir(path))
    assert files == ["base-000000000001-000000000002.parquet", "delta-000000000002.parquet"]
    assert {(r.k, r.ord) for r in sink.read(spark).collect()} == table


def test_parquet_upsert_folds_away_a_crashed_folds_leftovers(spark, tmp_path, monkeypatch):
    """A crash among a fold's removes leaves the old base and the covered
    delta beside the new base. The re-delivered call counts them with the
    deltas, not with the base, so it folds again, under the crashed fold's
    base name: its rename replaces that file, its removes leave it out,
    and one base and the newest delta remain."""
    path = str(tmp_path / "serving")
    sink = ParquetUpsertSink(path, keys=["k"], order_col="ord")

    def deliver(epoch, rows):
        sink(spark.createDataFrame(rows, ["k", "ord"]), epoch_id=epoch)

    deliver(0, [(1, 10), (2, 20)])
    deliver(1, [(2, 30), (3, 30)])
    epoch, rows = FOLD_CALLS[0]
    deliver(epoch, rows)
    epoch, rows = FOLD_CALLS[1]
    monkeypatch.setattr(os, "remove", _crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        deliver(epoch, rows)
    monkeypatch.undo()
    assert len({f.split("-")[1] for f in os.listdir(path) if f.startswith("base-")}) == 2
    deliver(epoch, rows)  # the re-delivery
    files = sorted(os.listdir(path))
    assert files == ["base-000000000002-000000000003.parquet", "delta-000000000003.parquet"]
    got = {(r.k, r.ord) for r in sink.read(spark).collect()}
    assert got == {(1, 60), (2, 30), (3, 50), (4, 40), (5, 50)}


def test_freshness_read_prunes_below_the_merge(spark, tmp_path):
    """fresh_row_count over the merged serving table filters window_start
    below the merge Window (legal: window_start is a merge key), down to
    the parquet scan, so stale rows never reach the merge shuffle."""
    path = str(tmp_path / "serving")
    sink = ParquetUpsertSink(path, keys=["symbol", "window_start"], order_col="n_trades")
    base = datetime(2026, 1, 1, 12, 0, 0)
    cols = ["symbol", "window_start", "n_trades"]
    sink(spark.createDataFrame([("BTC", base - timedelta(minutes=m), 1) for m in range(10)], cols), 0)
    sink(spark.createDataFrame([("BTC", base, 2)], cols), 1)
    served = sink.read(spark)
    plans = []
    cls = type(served)
    count = cls.count

    def spy(df):
        plans.append(df._jdf.queryExecution())
        return count(df)

    cls.count = spy
    try:
        assert fresh_row_count(served, now=base) == 4
    finally:
        cls.count = count
    (qe,) = plans
    tree = qe.optimizedPlan().toString().splitlines()
    window = next(i for i, line in enumerate(tree) if "Window [" in line)
    assert any("Filter" in line and "window_start" in line and ">=" in line
               for line in tree[window + 1:]), "\n".join(tree)
    assert not any("window_start" in line and ">=" in line for line in tree[:window])
    assert "GreaterThanOrEqual(window_start" in qe.executedPlan().toString()


def test_freshness_after_only_empty_batches_is_false(spark, tmp_path):
    """A table that has only seen empty batches has no data file: read()
    serves an empty frame of the batches' schema, so the freshness check
    reports stale (the reference's count of 0) instead of crashing."""
    from crypto_trading_data_pipeline_spark.monitor import freshness_ok

    path = str(tmp_path / "serving")
    sink = ParquetUpsertSink(path, keys=["symbol", "window_start"], order_col="n_trades")
    cols = "symbol STRING, window_start TIMESTAMP_NTZ, n_trades BIGINT"
    sink(spark.createDataFrame([], cols), 0)
    sink(spark.createDataFrame([], cols), 1)
    served = sink.read(spark)
    assert served.dtypes == [("symbol", "string"), ("window_start", "timestamp_ntz"),
                             ("n_trades", "bigint")]
    assert not freshness_ok(served, now=datetime(2026, 1, 1, 12, 0, 0))


def test_cold_read_keeps_the_batch_types(spark, tmp_path):
    """A new sink instance, with no schema of its own, reads a table of a
    pyarrow-written base and deltas with the batch's exact types. Every
    file carries Spark's row schema in its footer; without it the NTZ
    window_start would be inferred as TIMESTAMP."""
    from decimal import Decimal

    path = str(tmp_path / "serving")
    keys = ["symbol", "window_start"]
    schema = T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("window_start", T.TimestampNTZType()),
        T.StructField("close_price", T.DecimalType(20, 8)),
        T.StructField("n_trades", T.LongType()),
    ])
    base = datetime(2026, 1, 1, 12, 0, 0)
    rows = [("BTC", base + timedelta(minutes=m), Decimal("1.5"), m) for m in range(4)]
    writer = ParquetUpsertSink(path, keys=keys, order_col="n_trades")
    writer(spark.createDataFrame(rows, schema), 0)
    writer(spark.createDataFrame(rows[:1], schema), 1)  # folds epoch 0 into a base
    writer(spark.createDataFrame(rows[1:2], schema), 2)
    files = os.listdir(path)
    assert any(f.startswith("base-") for f in files)
    deltas = [os.path.join(path, f) for f in files if f.startswith("delta-")]
    assert len(deltas) == 2
    infer = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prior = spark.conf.get(infer)
    spark.conf.set(infer, "false")
    try:
        for delta in deltas:
            assert spark.read.parquet(delta).drop("__epoch").schema == schema, delta
        served = ParquetUpsertSink(path, keys=keys, order_col="n_trades").read(spark)
        assert served.dtypes == [("symbol", "string"), ("window_start", "timestamp_ntz"),
                                 ("close_price", "decimal(20,8)"), ("n_trades", "bigint")]
        assert served.count() == 4
    finally:
        spark.conf.set(infer, prior)


def test_parquet_upsert_folds_a_spark_written_base(spark, tmp_path):
    """A table carried over from the Spark fold: its base is Spark's parts
    (``merge_last_wins(...).write.parquet``, renamed to ``base-{e}-part-…``)
    with TIMESTAMP, TIMESTAMP_NTZ and DECIMAL(20,8) columns. The pyarrow
    fold casts it to the deltas' types and merges it, and a read, cold or
    not, serves the merged rows with the batch's types."""
    from decimal import Decimal

    path, staging = str(tmp_path / "serving"), str(tmp_path / "staging")
    keys = ["symbol", "window_start"]
    schema = T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("window_start", T.TimestampNTZType()),
        T.StructField("window_end", T.TimestampType()),
        T.StructField("close_price", T.DecimalType(20, 8)),
        T.StructField("n_trades", T.LongType()),
    ])
    base = datetime(2026, 1, 1, 12, 0, 0)

    def rows(minutes, n, price):
        return [("BTC", base + timedelta(minutes=m), base + timedelta(minutes=m + 1),
                 Decimal(price), n) for m in minutes]

    old = spark.createDataFrame(rows(range(4), 1, "1.5"), schema)
    old = old.withColumn(EPOCH_COL, F.lit(0).cast("bigint"))
    merge_last_wins(old, keys=keys, order_col="n_trades").repartition(2).write.parquet(staging)
    os.makedirs(path)
    for f in os.listdir(staging):
        if f.endswith(".parquet"):
            os.rename(os.path.join(staging, f), os.path.join(path, f"base-{0:012d}-{f}"))
    assert len(os.listdir(path)) == 2
    sink = ParquetUpsertSink(path, keys=keys, order_col="n_trades")
    sink(spark.createDataFrame(rows(range(2, 6), 2, "2.25"), schema), 1)
    sink(spark.createDataFrame(rows([0], 3, "3.125"), schema), 2)  # folds base 0, delta 1
    assert sorted(os.listdir(path)) == [
        "base-000000000001-000000000002.parquet", "delta-000000000002.parquet"
    ]
    want = sorted(rows([0], 3, "3.125") + rows([1], 1, "1.5") + rows(range(2, 6), 2, "2.25"))
    for reader in (sink, ParquetUpsertSink(path, keys=keys, order_col="n_trades")):
        served = reader.read(spark)
        assert served.dtypes == [
            ("symbol", "string"), ("window_start", "timestamp_ntz"),
            ("window_end", "timestamp"), ("close_price", "decimal(20,8)"),
            ("n_trades", "bigint"),
        ]
        assert sorted(map(tuple, served.collect())) == want


def test_connected_components_strict_raises_on_nonconvergence(spark):
    # A 7-node path graph has diameter 6 > max_iter=2 rounds.
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    # With enough rounds the same graph is exact: all one component.
    ok = connected_components(edges, max_iter=8)
    assert {r.component for r in ok.collect()} == {0}


def test_freshness_cutoff_is_timezone_correct(spark):
    base = datetime(2026, 1, 1, 12, 0, 0)
    rows = [(base - timedelta(minutes=m),) for m in (0, 1, 2, 10)]
    df = spark.createDataFrame(rows, ["window_start"])
    # Naive UTC anchor: 3 rows within the 3-minute horizon.
    assert fresh_row_count(df, now=base) == 3
    # The SAME instant expressed in UTC+5 must give the same answer — the
    # r1 bug reinterpreted the local wall time as UTC, shifting the cutoff
    # 5 hours into the future.
    aware = base.replace(tzinfo=timezone.utc).astimezone(timezone(timedelta(hours=5)))
    assert fresh_row_count(df, now=aware) == 3
    # Sub-second precision survives (strftime('%S') used to truncate it).
    assert fresh_row_count(df, now=base + timedelta(microseconds=1500)) == 3


def test_spark_submit_argv_matches_reference_shape():
    """Same argv shape as the reference submit DAG (spark-submit --master
    <url> --jars <csv> --name <app> <file>)."""
    from crypto_trading_data_pipeline_spark.submit import build_spark_submit

    cmd = build_spark_submit(
        "/opt/app/job.py",
        master="spark://spark-master:7077",
        name="CryptoAnalytics",
        jars=["a.jar", "b.jar"],
        app_args=["--topic", "raw_trades"],
    )
    assert cmd[:5] == [
        "spark-submit",
        "--master",
        "spark://spark-master:7077",
        "--name",
        "CryptoAnalytics",
    ]
    assert cmd[cmd.index("--jars") + 1] == "a.jar,b.jar"
    assert cmd[-3:] == ["/opt/app/job.py", "--topic", "raw_trades"]


def test_submit_retries_with_backoff_and_health_gate():
    from crypto_trading_data_pipeline_spark.submit import submit_with_retry

    calls, naps = [], []
    rcs = iter([1, 1, 0])
    out = submit_with_retry(
        ["spark-submit", "x"],
        retries=3,
        runner=lambda c: (calls.append(list(c)), next(rcs))[1],
        sleep=naps.append,
    )
    assert out.ok and out.attempts == 3
    assert naps == [5.0, 10.0]  # exponential, only between attempts
    # Health gate: exit 0 but probe fails every time -> not ok, all retries.
    health = iter([False, False, True])
    out = submit_with_retry(
        ["s"],
        retries=2,
        runner=lambda c: 0,
        health_check=lambda: next(health),
        sleep=lambda s: None,
    )
    assert out.ok and out.attempts == 3
    out = submit_with_retry(
        ["s"], retries=1, runner=lambda c: 7, sleep=lambda s: None
    )
    assert not out.ok and out.returncode == 7 and out.attempts == 2


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to min-id representative
    return {n: find(n) for n in parent}


def test_star_cc_matches_union_find_on_random_graphs(spark):
    """large-star/small-star CC equals a driver-side union-find on seeded
    random graphs — including a 200-node path whose diameter would need
    200 propagation rounds but converges in O(log^2 n) star rounds."""
    import random

    from crypto_trading_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    cases = []
    rng = random.Random(42)
    for n, m in [(60, 40), (30, 5)]:
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    cases.append([(i, i + 1) for i in range(200)])  # the propagation-killer

    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r.node: r.component
            for r in connected_components_star(df).collect()
        }
        want = _union_find_components(edges)
        assert got == want


def test_read_table_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """The in-process schema cache (io._SCHEMA_CACHE, r14 fixed-floor work)
    is metadata-only and mtime-keyed: re-reading an unchanged path reuses
    the inferred StructType, and OVERWRITING the path with a different
    schema must invalidate the entry — a stale explicit schema would
    silently null out new columns."""
    import time

    from pyspark.sql import functions as F

    from crypto_trading_data_pipeline_spark.io import read_table

    d = str(tmp_path)
    spark.range(5).select(F.col("id").alias("a")).write.mode("overwrite").parquet(
        f"{d}/t.parquet"
    )
    first = read_table(spark, d, "t")
    assert [f.name for f in first.schema.fields] == ["a"]
    # Cached path: same schema object semantics, same rows.
    again = read_table(spark, d, "t")
    assert again.schema == first.schema
    assert again.count() == 5
    # mtime granularity is 1 s on some filesystems — force a visible bump.
    time.sleep(1.1)
    spark.range(3).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    ).write.mode("overwrite").parquet(f"{d}/t.parquet")
    rewritten = read_table(spark, d, "t")
    assert [f.name for f in rewritten.schema.fields] == ["a", "b"]
    assert rewritten.count() == 3


def test_read_table_schema_cache_sees_rewrite_with_restored_mtime(spark, tmp_path):
    """A rewrite that leaves the mtime unchanged (restored here, as a copy
    tool or a coarse clock can) must still miss the schema cache: the key
    includes the file size."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crypto_trading_data_pipeline_spark.io import read_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    st = os.stat(path)
    pq.write_table(pa.table({"b": ["x", "y"], "c": [0.5, 1.5]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    rewritten = read_table(spark, str(tmp_path), "t")
    assert rewritten.columns == ["b", "c"]
    assert rewritten.count() == 2


def test_runtime_conf_fast_path_repins_hostile_timezone(spark):
    """apply_runtime_conf's one-round-trip fast path must NOT survive a
    hostile mid-process timezone flip: the canary probe re-applies the
    engine conf, so read_table re-pins UTC. This is the direct test the
    fast path's comment in session.py cites."""
    from crypto_trading_data_pipeline_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)  # marker set, tz pinned UTC
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    apply_runtime_conf(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
