"""Queries covering the reference's own operator surface (SURVEY.md §2.1-2.4).

Each query maps a reference operator (cited file:line into /root/reference)
onto the driver fixtures: the ``events`` table stands in for the Kafka trade
stream (event_type ↔ symbol, value ↔ price, ts ↔ trade_time; FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..io import events_between, read_table, ts_millis
from ..operators.candles import ohlcv
from . import query

# ---------------------------------------------------------------------------
# Flagship: OHLCV 1-minute candles (reference spark_processor/processor.py:77-101)
# ---------------------------------------------------------------------------


@query(
    "q_ohlcv_1min",
    oracle="""
    SELECT
      CAST(date_trunc('minute', ts) AS TIMESTAMP)                     AS window_start,
      CAST(date_trunc('minute', ts) + INTERVAL 1 MINUTE AS TIMESTAMP) AS window_end,
      event_type                                      AS symbol,
      arg_min(value, ts)                              AS open_price,
      max(value)                                      AS high_price,
      min(value)                                      AS low_price,
      arg_max(value, ts)                              AS close_price,
      round(CAST(count(*) AS DOUBLE), 4)              AS total_volume,
      round(sum(value), 4)                            AS total_value,
      count(*)                                        AS n_trades,
      round(sum(value), 4) / round(CAST(count(*) AS DOUBLE), 4) AS vwap
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Per-(symbol, 1-min window) OHLCV+VWAP candles; reference processor.py:77-101.",
)
def q_ohlcv_1min(spark: SparkSession, sf_dir: str):
    events = read_table(spark, sf_dir, "events")
    return ohlcv(
        events,
        ts_col="ts",
        key_col="event_type",
        price_col="value",
        qty_col=None,
        round_digits=4,
    )


# ---------------------------------------------------------------------------
# Scan / projection / casts (reference §2.2 P1-P5)
# ---------------------------------------------------------------------------


@query(
    "q_scan_events",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    doc="Projection-pruned parquet scan (stands in for the Kafka source scan, processor.py:54-60).",
)
def q_scan_events(spark: SparkSession, sf_dir: str):
    return read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")


@query(
    "q_cast_string",
    oracle="""
    SELECT event_id,
           CAST(event_id AS VARCHAR)                          AS event_id_str,
           CAST(CAST(value AS DECIMAL(18, 2)) AS VARCHAR)     AS value_str
    FROM events
    """,
    doc="CAST-to-string projection (reference selectExpr CAST(value AS STRING), processor.py:65).",
)
def q_cast_string(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("event_id").cast("string").alias("event_id_str"),
        F.col("value").cast(DecimalType(18, 2)).cast("string").alias("value_str"),
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
    doc="from_json/get_json_object on events.props (reference from_json, processor.py:66).",
)
def q_json_extract(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    # from_json with the explicit declared schema, then struct expansion —
    # the reference's parse-then-select pattern (processor.py:66-67).
    from ..schemas import EVENT_PROPS_SCHEMA

    return e.select(
        "event_id", F.from_json("props", EVENT_PROPS_SCHEMA).alias("p")
    ).select("event_id", F.col("p.k").alias("k"))


@query(
    "q_decimal_cast_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12, 2)) AS DOUBLE)  AS price,
           CAST(CAST(l_quantity AS DECIMAL(12, 2)) AS DOUBLE)       AS qty,
           CAST(CAST(l_extendedprice AS DECIMAL(12, 2)) * CAST(l_quantity AS DECIMAL(12, 2)) AS DOUBLE) AS trade_value
    FROM lineitem
    """,
    doc=(
        "Double→decimal cast + exact decimal arithmetic (reference processor.py:71-74). "
        "The arithmetic runs in DECIMAL (exact, like the reference's money math); the "
        "final CAST back to DOUBLE is correctly-rounded and engine-identical, avoiding "
        "pandas-bridge differences in how engines surface DECIMAL values."
    ),
)
def q_decimal_cast_arith(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DecimalType(12, 2))
    qty = F.col("l_quantity").cast(DecimalType(12, 2))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        price.cast("double").alias("price"),
        qty.cast("double").alias("qty"),
        (price * qty).cast("double").alias("trade_value"),
    )


@query(
    "q_epoch_to_ts",
    oracle="""
    SELECT event_id,
           epoch_ms(ts)                         AS epoch_millis,
           make_timestamp(epoch_ms(ts) * 1000)  AS ts_roundtrip
    FROM events
    """,
    doc="Epoch-ms ↔ timestamp conversion (reference (trade_time/1000).cast('timestamp'), processor.py:73).",
)
def q_epoch_to_ts(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    ms = ts_millis()
    return e.select(
        "event_id",
        ms.alias("epoch_millis"),
        F.timestamp_millis(ms).cast("timestamp_ntz").alias("ts_roundtrip"),
    )


# ---------------------------------------------------------------------------
# Filters (reference §2.2 P9-P11)
# ---------------------------------------------------------------------------


@query(
    "q_filter_eq",
    oracle="""
    SELECT event_id AS trade_id, event_type AS symbol, user_id, value AS price
    FROM events WHERE event_type = 'purchase'
    """,
    doc="Equality filter + rename-projection (producer's e=='trade' filter + key rename, producer.py:50-58).",
)
def q_filter_eq(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == F.lit("purchase")).select(
        F.col("event_id").alias("trade_id"),
        F.col("event_type").alias("symbol"),
        "user_id",
        F.col("value").alias("price"),
    )


@query(
    "q_filter_ts_range",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' AND ts < TIMESTAMP '2024-01-28 00:00:00'
    """,
    doc=(
        "Timestamp-range freshness predicate (monitor DAG interval check, "
        "crypto_pipeline_monitor_dag.py:26) with a literal cutoff for determinism. "
        "Uses events_between so the range reaches the parquet scan as a pushed "
        "filter on the raw column (row-group pruning at scale)."
    ),
)
def q_filter_ts_range(spark: SparkSession, sf_dir: str):
    e = events_between(spark, sf_dir, "2024-01-25 00:00:00", "2024-01-28 00:00:00")
    return e.select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Counts / sums (reference §2.1 S6, §2.3 A2/A6)
# ---------------------------------------------------------------------------


@query(
    "q_count_rows",
    oracle="SELECT count(*) AS n FROM events",
    doc="Batch count (reference df.count() per micro-batch, processor.py:121).",
)
def q_count_rows(spark: SparkSession, sf_dir: str):
    return read_table(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_count_filtered",
    oracle="SELECT count(*) AS n_fresh FROM events WHERE ts >= TIMESTAMP '2024-01-28 00:00:00'",
    doc="Scalar COUNT(*) with predicate (monitor freshness check, crypto_pipeline_monitor_dag.py:25-27).",
)
def q_count_filtered(spark: SparkSession, sf_dir: str):
    e = events_between(spark, sf_dir, ts_from="2024-01-28 00:00:00")
    return e.agg(F.count(F.lit(1)).alias("n_fresh"))


@query(
    "q_group_sum",
    oracle="""
    SELECT event_type, round(sum(value), 4) AS total_value, count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="Keyed sum aggregate (reference sum(quantity)/sum(trade_value), processor.py:81-82).",
)
def q_group_sum(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.sum("value"), 4).alias("total_value"), F.count(F.lit(1)).alias("n")
    )


@query(
    "q_open_close_minby",
    oracle="""
    SELECT user_id,
           arg_min(value, ts) AS open_value,
           arg_max(value, ts) AS close_value,
           count(*)           AS n
    FROM events GROUP BY user_id
    """,
    doc="Deterministic first/last rebuild via min_by/max_by (SURVEY §2.3 A3; reference first/last processor.py:83-84).",
)
def q_open_close_minby(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.min_by("value", "ts").alias("open_value"),
        F.max_by("value", "ts").alias("close_value"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Upsert / last-wins (reference §2.1 S5: ON CONFLICT DO UPDATE, processor.py:137-166)
# ---------------------------------------------------------------------------


@query(
    "q_upsert_last_wins",
    oracle="""
    SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM (
      SELECT user_id, event_type, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Keyed last-wins dedup — the batch analog of the PK upsert sink (processor.py:154-161).",
)
def q_upsert_last_wins(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "value")
    )


@query(
    "q_candle_rollup_5min",
    oracle="""
    WITH c1 AS (
      SELECT
        CAST(date_trunc('minute', ts) AS TIMESTAMP)        AS window_start,
        event_type                                         AS symbol,
        arg_min(value, ts)                                 AS open_price,
        max(value)                                         AS high_price,
        min(value)                                         AS low_price,
        arg_max(value, ts)                                 AS close_price,
        round(CAST(count(*) AS DOUBLE), 4)                 AS total_volume,
        round(sum(value), 4)                               AS total_value,
        count(*)                                           AS n_trades
      FROM events GROUP BY 1, 2
    )
    SELECT
      CAST(time_bucket(INTERVAL '5 minutes', window_start) AS TIMESTAMP) AS window_start,
      CAST(time_bucket(INTERVAL '5 minutes', window_start)
           + INTERVAL 5 MINUTE AS TIMESTAMP)                             AS window_end,
      symbol,
      arg_min(open_price, window_start)   AS open_price,
      max(high_price)                     AS high_price,
      min(low_price)                      AS low_price,
      arg_max(close_price, window_start)  AS close_price,
      round(sum(total_volume), 4)         AS total_volume,
      round(sum(total_value), 4)          AS total_value,
      CAST(sum(n_trades) AS BIGINT)       AS n_trades,
      round(sum(total_value), 4) / round(sum(total_volume), 4) AS vwap
    FROM c1
    GROUP BY 1, 2, 3
    """,
    doc=(
        "Hypertable rollup: 5-min candles re-aggregated FROM the 1-min "
        "candles, never re-reading raw trades (open/close via min_by/max_by "
        "on the sub-window start, vwap from summed numerator/denominator). "
        "The multi-resolution serving pattern: each coarser tier reads the "
        "tier below, cost proportional to candle count, not trade count."
    ),
)
def q_candle_rollup_5min(spark: SparkSession, sf_dir: str):
    from ..operators.candles import rollup_candles

    events = read_table(spark, sf_dir, "events")
    c1 = ohlcv(
        events, ts_col="ts", key_col="event_type", price_col="value",
        qty_col=None, round_digits=4,
    )
    return rollup_candles(c1)


@query(
    "q_candle_gap_fill",
    oracle="""
    WITH candles AS (
      SELECT event_type                                  AS symbol,
             CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
             arg_min(value, ts)                          AS open_price,
             max(value)                                  AS high_price,
             min(value)                                  AS low_price,
             arg_max(value, ts)                          AS close_price,
             count(*)                                    AS n_trades
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT symbol, min(window_start) AS lo, max(window_start) AS hi
      FROM candles GROUP BY symbol
    ), grid AS (
      SELECT symbol,
             unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS window_start
      FROM bounds
    ), joined AS (
      SELECT g.symbol, g.window_start,
             c.open_price, c.high_price, c.low_price, c.close_price,
             c.n_trades,
             last_value(c.close_price IGNORE NULLS) OVER (
               PARTITION BY g.symbol ORDER BY g.window_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS ff
      FROM grid g LEFT JOIN candles c USING (symbol, window_start)
    )
    SELECT symbol, CAST(window_start AS TIMESTAMP) AS window_start,
           coalesce(open_price, ff)             AS open_price,
           coalesce(high_price, ff)             AS high_price,
           coalesce(low_price, ff)              AS low_price,
           coalesce(close_price, ff)            AS close_price,
           CAST(coalesce(n_trades, 0) AS BIGINT) AS n_trades,
           n_trades IS NULL                     AS is_gap
    FROM joined
    """,
    doc=(
        "Gap-filled candle series (TimescaleDB time_bucket_gapfill + locf): "
        "empty minutes become zero-volume flat candles at the last observed "
        "close, so every (symbol, minute) exists. Grid = sequence+explode "
        "sized by TIME SPAN (not trade count); carry-forward = one "
        "last(ignorenulls) running frame — no self-join, no UDF."
    ),
)
def q_candle_gap_fill(spark: SparkSession, sf_dir: str):
    from ..operators.candles import gap_fill_candles

    events = read_table(spark, sf_dir, "events")
    c1 = ohlcv(
        events, ts_col="ts", key_col="event_type", price_col="value",
        qty_col=None,
    ).select(
        "symbol",
        F.col("window_start").cast("timestamp").alias("window_start"),
        "open_price", "high_price", "low_price", "close_price", "n_trades",
    )
    return gap_fill_candles(c1).select(
        "symbol", "window_start", "open_price", "high_price", "low_price",
        "close_price", "n_trades", "is_gap",
    )
