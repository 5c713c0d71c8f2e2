"""Technical-indicator queries over the candle stream (the reference's
domain: crypto OHLCV serving — reference spark_processor/processor.py:77-101
stops at raw candles; these are the consumer-side indicators every trading
dashboard derives from them).

All built from per-(symbol, minute) closes — one aggregate over events —
then window frames partitioned by symbol: the shuffle is one exchange on
symbol for the whole indicator family, and frames are row-bounded so state
per partition is O(frame), independent of history length.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from . import query

_SQL_CLOSES = """
      SELECT event_type                  AS symbol,
             date_trunc('minute', ts)    AS minute,
             arg_max(value, ts)          AS close
      FROM events WHERE value > 0.0 GROUP BY 1, 2
"""

_SQL_CANDLES = """
      SELECT event_type                  AS symbol,
             date_trunc('minute', ts)    AS minute,
             max(value)                  AS high,
             min(value)                  AS low,
             arg_max(value, ts)          AS close,
             count(*)                    AS volume
      FROM events WHERE value > 0.0 GROUP BY 1, 2
"""


def _candles(spark, sf_dir):
    """Per-(symbol, minute) OHLC-ish bars with tick-count volume.

    Same shared stage discipline as _closes (one aggregate over events,
    value > 0.0 excluded before aggregation); high/low/close feed the
    range indicators, tick count stands in for traded volume (the events
    fixture carries no quantity column — deterministic and sufficient for
    the OBV accumulation shape)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("value") > 0.0)
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("minute", "ts").alias("minute"),
        )
        .agg(
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


def _closes(spark, sf_dir):
    """Per-(symbol, minute) close prices — deterministic last-by-ts.

    Non-positive ticks are excluded BEFORE aggregation: a 0.0 price is a
    degenerate quote that poisons every derived indicator (log returns
    divide by the previous close — ANSI mode correctly refuses close/0;
    caught by the sf0.1 parity sweep where such a tick exists). The filter
    is in the shared stage so all indicators agree with their oracles."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("value") > 0.0)
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("minute", "ts").alias("minute"),
        )
        .agg(F.max_by("value", "ts").alias("close"))
    )


@query(
    "q_rsi",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), diffs AS (
      SELECT symbol, minute,
             close - lag(close) OVER (PARTITION BY symbol ORDER BY minute) AS d
      FROM closes
    ), gl AS (
      SELECT symbol, minute,
             avg(CASE WHEN d > 0 THEN d  ELSE 0.0 END) OVER w14 AS avg_gain,
             avg(CASE WHEN d < 0 THEN -d ELSE 0.0 END) OVER w14 AS avg_loss,
             count(d) OVER w14 AS n_d
      FROM diffs
      WINDOW w14 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           round(CASE WHEN avg_loss = 0.0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END, 4) AS rsi
    FROM gl WHERE n_d >= 14
    """,
    doc=(
        "14-period RSI over 1-minute closes: gain/loss split of close "
        "diffs, frame-averaged (ROWS 13 PRECEDING), 100-100/(1+RS). One "
        "exchange on symbol serves the lag AND both frame averages; the "
        "zero-loss branch pins RSI at 100 instead of dividing by zero. "
        "Rows emitted only once the frame holds 14 diffs (warm-up "
        "suppressed, matching how trading systems report it)."
    ),
)
def q_rsi(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    wl = Window.partitionBy("symbol").orderBy("minute")
    w14 = wl.rowsBetween(-13, 0)
    d = F.col("close") - F.lag("close").over(wl)
    diffs = closes.select("symbol", "minute", d.alias("d"))
    gain = F.when(F.col("d") > 0, F.col("d")).otherwise(F.lit(0.0))
    loss = F.when(F.col("d") < 0, -F.col("d")).otherwise(F.lit(0.0))
    gl = diffs.select(
        "symbol",
        "minute",
        F.avg(gain).over(w14).alias("avg_gain"),
        F.avg(loss).over(w14).alias("avg_loss"),
        F.count("d").over(w14).alias("n_d"),
    )
    rsi = F.when(F.col("avg_loss") == 0.0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("avg_gain") / F.col("avg_loss"))
    )
    return gl.filter(F.col("n_d") >= 14).select(
        "symbol", "minute", F.round(rsi, 4).alias("rsi")
    )


@query(
    "q_bollinger",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), stats AS (
      SELECT symbol, minute, close,
             avg(close)         OVER w20 AS sma,
             stddev_samp(close) OVER w20 AS sd,
             count(*)           OVER w20 AS n
      FROM closes
      WINDOW w20 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           round(sma, 4)            AS sma20,
           round(sma + 2 * sd, 4)   AS upper_band,
           round(sma - 2 * sd, 4)   AS lower_band
    FROM stats WHERE n >= 20
    """,
    doc=(
        "20-period Bollinger bands: frame mean +/- 2 frame stddevs over "
        "1-minute closes. Same single symbol-exchange as q_rsi (the whole "
        "indicator family co-partitions); warm-up rows suppressed until "
        "the frame is full."
    ),
)
def q_bollinger(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    w20 = Window.partitionBy("symbol").orderBy("minute").rowsBetween(-19, 0)
    stats = closes.select(
        "symbol",
        "minute",
        F.avg("close").over(w20).alias("sma"),
        F.stddev_samp("close").over(w20).alias("sd"),
        F.count(F.lit(1)).over(w20).alias("n"),
    )
    return stats.filter(F.col("n") >= 20).select(
        "symbol",
        "minute",
        F.round("sma", 4).alias("sma20"),
        F.round(F.col("sma") + 2 * F.col("sd"), 4).alias("upper_band"),
        F.round(F.col("sma") - 2 * F.col("sd"), 4).alias("lower_band"),
    )


@query(
    "q_returns_volatility",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), ret AS (
      SELECT symbol,
             ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY minute)) AS r
      FROM closes
    )
    SELECT symbol,
           count(r)                   AS n_returns,
           round(avg(r), 6)           AS mean_ret,
           round(stddev_samp(r), 6)   AS volatility
    FROM ret WHERE r IS NOT NULL
    GROUP BY symbol
    """,
    doc=(
        "Per-symbol log-return mean and volatility over minute closes — "
        "the annualizable risk statistic. lag + one partial+final "
        "aggregate; log returns (not simple returns) so multi-period "
        "aggregation is additive."
    ),
)
def q_returns_volatility(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    wl = Window.partitionBy("symbol").orderBy("minute")
    r = F.log(F.col("close") / F.lag("close").over(wl))
    return (
        closes.select("symbol", r.alias("r"))
        .filter(F.col("r").isNotNull())
        .groupBy("symbol")
        .agg(
            F.count("r").alias("n_returns"),
            F.round(F.avg("r"), 6).alias("mean_ret"),
            F.round(F.stddev_samp("r"), 6).alias("volatility"),
        )
    )


@query(
    "q_max_drawdown",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), dd AS (
      SELECT symbol,
             1.0 - close / max(close) OVER (PARTITION BY symbol ORDER BY minute
                                            ROWS UNBOUNDED PRECEDING) AS dd
      FROM closes
    )
    SELECT symbol, round(max(dd), 6) AS max_drawdown
    FROM dd GROUP BY symbol
    """,
    doc=(
        "Maximum drawdown per symbol: 1 - close/running-peak, maximized. "
        "The running max is a growing window frame (one pass, no "
        "self-join against all prior rows) on the same symbol exchange as "
        "the rest of the indicator family."
    ),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = F.lit(1.0) - F.col("close") / F.max("close").over(w)
    return (
        closes.select("symbol", dd.alias("dd"))
        .groupBy("symbol")
        .agg(F.round(F.max("dd"), 6).alias("max_drawdown"))
    )


@query(
    "q_stochastic",
    oracle=f"""
    WITH candles AS (
      {_SQL_CANDLES}
    ), k AS (
      SELECT symbol, minute,
             CASE WHEN max(high) OVER w14 = min(low) OVER w14 THEN 50.0
                  ELSE 100.0 * (close - min(low) OVER w14)
                       / (max(high) OVER w14 - min(low) OVER w14) END AS pct_k,
             count(*) OVER w14 AS n
      FROM candles
      WINDOW w14 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           round(pct_k, 4) AS pct_k,
           round(avg(pct_k) OVER (PARTITION BY symbol ORDER BY minute
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS pct_d
    FROM k WHERE n >= 14
    """,
    doc=(
        "14-period stochastic oscillator: %K = 100*(close - frame low) / "
        "(frame high - frame low), %D = 3-period SMA of %K. Both window "
        "passes share the one symbol exchange the whole indicator family "
        "co-partitions on; the flat-range branch pins %K at 50 instead of "
        "dividing by zero; warm-up rows suppressed until 14 bars, then %D "
        "smooths over whatever emitted %K rows exist (standard warm-up "
        "convention, identical on both sides)."
    ),
)
def q_stochastic(spark: SparkSession, sf_dir: str):
    candles = _candles(spark, sf_dir)
    w14 = Window.partitionBy("symbol").orderBy("minute").rowsBetween(-13, 0)
    hi, lo = F.max("high").over(w14), F.min("low").over(w14)
    pct_k = F.when(hi == lo, F.lit(50.0)).otherwise(
        F.lit(100.0) * (F.col("close") - lo) / (hi - lo)
    )
    k = candles.select(
        "symbol",
        "minute",
        pct_k.alias("pct_k"),
        F.count(F.lit(1)).over(w14).alias("n"),
    ).filter(F.col("n") >= 14)
    w3 = Window.partitionBy("symbol").orderBy("minute").rowsBetween(-2, 0)
    return k.select(
        "symbol",
        "minute",
        F.round("pct_k", 4).alias("pct_k"),
        F.round(F.avg("pct_k").over(w3), 4).alias("pct_d"),
    )


@query(
    "q_atr",
    oracle=f"""
    WITH candles AS (
      {_SQL_CANDLES}
    ), tr AS (
      SELECT symbol, minute,
             greatest(
               high - low,
               abs(high - coalesce(lag(close) OVER ws, high)),
               abs(low  - coalesce(lag(close) OVER ws, low))
             ) AS tr
      FROM candles
      WINDOW ws AS (PARTITION BY symbol ORDER BY minute)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           round(avg(tr) OVER w14, 4) AS atr
    FROM tr
    WINDOW w14 AS (PARTITION BY symbol ORDER BY minute
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    QUALIFY count(*) OVER w14 >= 14
    """,
    doc=(
        "14-period average true range: TR = greatest(high-low, "
        "|high-prev_close|, |low-prev_close|) (first bar degrades to "
        "high-low via coalesce), SMA-smoothed over a 14-row frame "
        "(Wilder's recursive smoothing is EMA-shaped and belongs to the "
        "streaming stateful path; the frame SMA is the batch-exact "
        "variant). lag + frame average share one symbol exchange."
    ),
)
def q_atr(spark: SparkSession, sf_dir: str):
    candles = _candles(spark, sf_dir)
    ws = Window.partitionBy("symbol").orderBy("minute")
    prev_close = F.lag("close").over(ws)
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - F.coalesce(prev_close, F.col("high"))),
        F.abs(F.col("low") - F.coalesce(prev_close, F.col("low"))),
    )
    w14 = ws.rowsBetween(-13, 0)
    out = candles.select("symbol", "minute", tr.alias("tr")).select(
        "symbol",
        "minute",
        F.round(F.avg("tr").over(w14), 4).alias("atr"),
        F.count(F.lit(1)).over(w14).alias("n"),
    )
    return out.filter(F.col("n") >= 14).drop("n")


@query(
    "q_obv",
    oracle=f"""
    WITH candles AS (
      {_SQL_CANDLES}
    ), signed AS (
      SELECT symbol, minute,
             CASE WHEN lag(close) OVER ws IS NULL THEN 0
                  WHEN close > lag(close) OVER ws THEN volume
                  WHEN close < lag(close) OVER ws THEN -volume
                  ELSE 0 END AS dv
      FROM candles
      WINDOW ws AS (PARTITION BY symbol ORDER BY minute)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           CAST(sum(dv) OVER (PARTITION BY symbol ORDER BY minute
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM signed
    """,
    doc=(
        "On-balance volume: per-bar volume signed by the close-to-close "
        "direction, accumulated as a running sum (growing frame — one "
        "pass, no self-join). Tick count stands in for volume (fixture "
        "has no quantity), keeping the arithmetic exact integer math so "
        "the oracle hash-matches without rounding."
    ),
)
def q_obv(spark: SparkSession, sf_dir: str):
    candles = _candles(spark, sf_dir)
    ws = Window.partitionBy("symbol").orderBy("minute")
    prev_close = F.lag("close").over(ws)
    dv = (
        F.when(prev_close.isNull(), F.lit(0))
        .when(F.col("close") > prev_close, F.col("volume"))
        .when(F.col("close") < prev_close, -F.col("volume"))
        .otherwise(F.lit(0))
    )
    signed = candles.select("symbol", "minute", dv.alias("dv"))
    wrun = ws.rowsBetween(Window.unboundedPreceding, 0)
    return signed.select(
        "symbol",
        "minute",
        F.sum("dv").over(wrun).cast("bigint").alias("obv"),
    )


@query(
    "q_return_corr",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), ret AS (
      SELECT symbol, minute,
             ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY minute)) AS r
      FROM closes
    )
    SELECT a.symbol AS sym_a, b.symbol AS sym_b,
           CAST(count(*) AS BIGINT) AS n_minutes,
           round(corr(a.r, b.r), 4) AS corr_ret
    FROM ret a JOIN ret b ON a.minute = b.minute AND a.symbol < b.symbol
    WHERE a.r IS NOT NULL AND b.r IS NOT NULL
    GROUP BY 1, 2
    """,
    doc=(
        "Pairwise correlation matrix of minute log returns across symbols "
        "(the pairs-trading / portfolio-risk statistic). Returns align via "
        "a self-join on minute with symbol < symbol de-duplicating the "
        "matrix's upper triangle; corr() is a single declarative aggregate "
        "(partial+final, one shuffle on the pair key). With k symbols the "
        "join fan-out is C(k,2) per minute — bounded by the instrument "
        "universe, never the row count; at 100 TB the per-minute closes "
        "tier this reads from is already ~5 orders smaller than raw ticks. "
        "corr's sums-of-products are order-dependent doubles: rounded to 4."
    ),
)
def q_return_corr(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    wl = Window.partitionBy("symbol").orderBy("minute")
    ret = closes.select(
        "symbol",
        "minute",
        F.log(F.col("close") / F.lag("close").over(wl)).alias("r"),
    ).filter(F.col("r").isNotNull())
    a = ret.select(
        F.col("symbol").alias("sym_a"), "minute", F.col("r").alias("ra")
    )
    b = ret.select(
        F.col("symbol").alias("sym_b"),
        F.col("minute").alias("minute_b"),
        F.col("r").alias("rb"),
    )
    return (
        a.join(b, (F.col("minute") == F.col("minute_b")) & (F.col("sym_a") < F.col("sym_b")))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_minutes"),
            # Zero-variance/degenerate pairs: Spark's corr yields NaN where
            # SQL engines yield NULL — normalize so the undefined case is
            # NULL on both sides (not hit by the fixtures, but the contract
            # must not depend on that).
            F.round(
                F.when(F.isnan(F.corr("ra", "rb")), F.lit(None)).otherwise(
                    F.corr("ra", "rb")
                ),
                4,
            ).alias("corr_ret"),
        )
    )


@query(
    "q_feature_label_matrix",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), feat AS (
      SELECT symbol, minute, close,
             close / lag(close, 1) OVER ws - 1.0 AS ret1,
             close / lag(close, 3) OVER ws - 1.0 AS ret3,
             avg(close)         OVER w5 AS ma5,
             stddev_samp(close) OVER w5 AS vol5,
             lead(close, 5) OVER ws AS fwd,
             row_number() OVER ws AS rn
      FROM closes
      WINDOW ws AS (PARTITION BY symbol ORDER BY minute),
             w5 AS (PARTITION BY symbol ORDER BY minute
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           floor(ret1 * 1000000.0 + 0.5) / 1000000.0 AS ret1,
           floor(ret3 * 1000000.0 + 0.5) / 1000000.0 AS ret3,
           floor(ma5 * 10000.0 + 0.5) / 10000.0      AS ma5,
           floor(vol5 * 1000000.0 + 0.5) / 1000000.0 AS vol5,
           CAST(CASE WHEN fwd > close THEN 1 WHEN fwd < close THEN -1
                ELSE 0 END AS INTEGER) AS label
    FROM feat WHERE rn >= 5 AND fwd IS NOT NULL
    """,
    doc=(
        "Supervised feature/label matrix generation — the training-data "
        "step between the candle tier and a model: per (symbol, minute), "
        "lagged returns (1- and 3-bar), 5-bar moving average and "
        "volatility as features, and the 5-bar-FORWARD price direction "
        "as the label (lead — the lookahead lives in the label only, "
        "features never peek). All seven columns come out of ONE "
        "symbol-partitioned window pass (lag, lead, frame agg, and "
        "row_number share the exchange); warm-up rows without a full "
        "feature frame or a realized label are dropped, which is exactly "
        "the leakage-safe truncation a backtest needs. At 100 TB this is "
        "a narrow pass over the candle tier — feature generation scales "
        "with bars, not ticks."
    ),
)
def q_feature_label_matrix(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    ws = Window.partitionBy("symbol").orderBy("minute")
    w5 = ws.rowsBetween(-4, 0)
    fwd = F.lead("close", 5).over(ws)
    feat = closes.select(
        "symbol",
        "minute",
        "close",
        (F.col("close") / F.lag("close", 1).over(ws) - 1.0).alias("ret1"),
        (F.col("close") / F.lag("close", 3).over(ws) - 1.0).alias("ret3"),
        F.avg("close").over(w5).alias("ma5"),
        F.stddev_samp("close").over(w5).alias("vol5"),
        fwd.alias("fwd"),
        F.row_number().over(ws).alias("rn"),
    )
    label = (
        F.when(F.col("fwd") > F.col("close"), F.lit(1))
        .when(F.col("fwd") < F.col("close"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    # floor(x*scale + 0.5)/scale instead of round(): engines break round()
    # ties at exact half-ulp decimals differently (one sf0.1 row landed on
    # one), while this formula is the same double ops on both sides —
    # bit-identical by construction.
    def r6(c):
        return F.floor(F.col(c) * 1000000.0 + 0.5) / 1000000.0

    return feat.filter((F.col("rn") >= 5) & F.col("fwd").isNotNull()).select(
        "symbol",
        "minute",
        r6("ret1").alias("ret1"),
        r6("ret3").alias("ret3"),
        (F.floor(F.col("ma5") * 10000.0 + 0.5) / 10000.0).alias("ma5"),
        r6("vol5").alias("vol5"),
        label.cast("int").alias("label"),
    )


@query(
    "q_twap",
    oracle="""
    WITH ticks AS (
      SELECT event_type AS symbol, ts, value AS price,
             date_trunc('hour', ts) AS hour,
             epoch_us(coalesce(
               lead(ts) OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts, event_id),
               date_trunc('hour', ts) + INTERVAL 1 HOUR
             )) - epoch_us(ts) AS dur_us
      FROM events WHERE value > 0.0
    )
    SELECT symbol, CAST(hour AS TIMESTAMP) AS hour,
           CAST(count(*) AS BIGINT) AS n_ticks,
           floor(sum(price * dur_us) / sum(dur_us) * 10000.0 + 0.5) / 10000.0 AS twap
    FROM ticks
    GROUP BY symbol, hour
    """,
    doc=(
        "Time-weighted average price per (symbol, hour): each tick's "
        "price holds until the next tick (lead within the hour; the last "
        "tick holds to the hour boundary), weight = holding duration in "
        "integer microseconds. TWAP is the execution-quality benchmark "
        "VWAP (reference processor.py:88) cannot express — VWAP weights "
        "by traded size, TWAP by elapsed time, and an illiquid hour with "
        "one early trade differs wildly between them. One exchange on "
        "(symbol, hour) serves the lead AND the aggregate; weights are "
        "exact integer us so only the final division is floating (made "
        "tie-proof with the floor-scale form)."
    ),
)
def q_twap(spark: SparkSession, sf_dir: str):
    from ..io import ts_micros

    e = read_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    hour = F.date_trunc("hour", "ts")
    w = Window.partitionBy("event_type", hour).orderBy("ts", "event_id")
    nxt = F.coalesce(F.lead("ts").over(w), hour + F.expr("INTERVAL 1 HOUR"))
    ticks = e.select(
        F.col("event_type").alias("symbol"),
        hour.alias("hour"),
        F.col("value").alias("price"),
        (ts_micros(nxt) - ts_micros("ts")).alias("dur_us"),
    )
    return ticks.groupBy("symbol", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        (
            F.floor(
                F.sum(F.col("price") * F.col("dur_us")) / F.sum("dur_us") * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("twap"),
    )


_SQL_OHLC = """
      SELECT event_type                  AS symbol,
             date_trunc('minute', ts)    AS minute,
             arg_min(value, ts)          AS open,
             max(value)                  AS high,
             min(value)                  AS low,
             arg_max(value, ts)          AS close
      FROM events WHERE value > 0.0 GROUP BY 1, 2
"""


@query(
    "q_candle_patterns",
    oracle=f"""
    WITH ohlc AS (
      {_SQL_OHLC}
    ), w AS (
      SELECT symbol, minute, open, high, low, close,
             lag(open)  OVER ws AS p_open,
             lag(close) OVER ws AS p_close
      FROM ohlc
      WINDOW ws AS (PARTITION BY symbol ORDER BY minute)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           CAST(CASE WHEN high > low
                      AND abs(close - open) <= 0.1 * (high - low)
                THEN 1 ELSE 0 END AS INTEGER) AS is_doji,
           CAST(CASE
             WHEN p_close < p_open AND close > open
                  AND open <= p_close AND close >= p_open THEN 1
             WHEN p_close > p_open AND close < open
                  AND open >= p_close AND close <= p_open THEN -1
             ELSE 0 END AS INTEGER) AS engulf
    FROM w
    """,
    doc=(
        "Candlestick pattern screen over 1-minute OHLC bars: doji (body "
        "within 10% of the bar's range — indecision) and engulfing "
        "(current body wraps the previous bar's body in the opposite "
        "direction: +1 bullish, -1 bearish — the reversal signal). OHLC "
        "from one deterministic aggregate (arg_min/arg_max by ts for "
        "open/close, the q_ohlcv_1min discipline), then a lag on the "
        "shared symbol exchange; every flag is a raw-double comparison — "
        "no rounding needed, the hash is exact. Row-local after the one "
        "window pass; at 100 TB the screen runs on the candle tier, not "
        "ticks."
    ),
)
def q_candle_patterns(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    ohlc = (
        e.filter(F.col("value") > 0.0)
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("minute", "ts").alias("minute"),
        )
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
        )
    )
    ws = Window.partitionBy("symbol").orderBy("minute")
    w = ohlc.select(
        "symbol",
        "minute",
        "open",
        "high",
        "low",
        "close",
        F.lag("open").over(ws).alias("p_open"),
        F.lag("close").over(ws).alias("p_close"),
    )
    doji = (
        (F.col("high") > F.col("low"))
        & (F.abs(F.col("close") - F.col("open")) <= 0.1 * (F.col("high") - F.col("low")))
    ).cast("int")
    engulf = (
        F.when(
            (F.col("p_close") < F.col("p_open"))
            & (F.col("close") > F.col("open"))
            & (F.col("open") <= F.col("p_close"))
            & (F.col("close") >= F.col("p_open")),
            F.lit(1),
        )
        .when(
            (F.col("p_close") > F.col("p_open"))
            & (F.col("close") < F.col("open"))
            & (F.col("open") >= F.col("p_close"))
            & (F.col("close") <= F.col("p_open")),
            F.lit(-1),
        )
        .otherwise(F.lit(0))
    )
    return w.select(
        "symbol",
        "minute",
        doji.alias("is_doji"),
        engulf.cast("int").alias("engulf"),
    )


#: Market-beta benchmark symbol (the beta denominator series). A literal so
#: both engine sides prune to it at the scan; 'click' is the fixture's most
#: liquid series.
_BETA_BENCH = "click"


@query(
    "q_market_beta",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), cents AS (
      SELECT symbol, minute, CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM closes
    ), bench AS (
      SELECT minute, c AS bx FROM cents WHERE symbol = '{_BETA_BENCH}'
    ), joined AS (
      SELECT s.symbol, CAST(date_trunc('day', s.minute) AS DATE) AS day,
             b.bx AS x, s.c AS y
      FROM cents s JOIN bench b ON s.minute = b.minute
      WHERE s.symbol <> '{_BETA_BENCH}'
    ), agg AS (
      SELECT symbol, day,
             CAST(count(*) AS BIGINT)     AS n,
             CAST(sum(x) AS BIGINT)       AS sx,
             CAST(sum(y) AS BIGINT)       AS sy,
             CAST(sum(x * x) AS BIGINT)   AS sxx,
             CAST(sum(x * y) AS BIGINT)   AS sxy
      FROM joined GROUP BY 1, 2
    )
    SELECT symbol, day, n,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE floor(1.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)
                           * 1000000.0 + 0.5) / 1000000.0 END AS beta
    FROM agg
    """,
    doc=(
        "Per-(symbol, day) market beta vs a benchmark series: "
        "cov(sym, bench)/var(bench) from the computational formula "
        "(n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) over CENT-SCALED LONG sums — "
        "every moment accumulates exactly in int64 (closes <= ~560 -> "
        "cents^2 <= 3.2e9, 1440 minutes/day keeps n*Sxy < 2^63), so the "
        "only floating-point step is one final division and the result "
        "value-hash-matches DuckDB bit-for-bit, where a naive covar_pop "
        "of doubles would drift with partial-aggregation order. Shape at "
        "scale: the benchmark side is one symbol's minutes (tiny -> "
        "broadcast); moments are classic one-exchange partial+final "
        "aggregates on (symbol, day). The exact-integer-moments trick is "
        "the same one q_lorenz/q_regression use — it is how you make "
        "second-moment statistics reproducible across engines and runs "
        "at any parallelism."
    ),
)
def q_market_beta(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    bench = cents.filter(F.col("symbol") == _BETA_BENCH).select(
        "minute", F.col("c").alias("x")
    )
    joined = (
        cents.filter(F.col("symbol") != _BETA_BENCH)
        .join(F.broadcast(bench), "minute")
        .select(
            "symbol",
            F.date_trunc("day", "minute").cast("date").alias("day"),
            "x",
            F.col("c").alias("y"),
        )
    )
    agg = joined.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "symbol",
        "day",
        "n",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.floor(num * 1.0 / den * 1000000.0 + 0.5) / 1000000.0)
        .alias("beta"),
    )


@query(
    "q_interp_linear",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), bounds AS (
      SELECT symbol, min(minute) AS lo, max(minute) AS hi FROM closes GROUP BY 1
    ), grid AS (
      SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
      FROM bounds
    ), pos AS (
      SELECT g.symbol, g.minute, c.close,
             CAST(row_number() OVER
               (PARTITION BY g.symbol ORDER BY g.minute) AS BIGINT) AS pos
      FROM grid g LEFT JOIN closes c USING (symbol, minute)
    ), j AS (
      SELECT symbol, minute, close, pos,
             last_value(close IGNORE NULLS) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
             last_value(CASE WHEN close IS NOT NULL THEN pos END
                        IGNORE NULLS) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
             first_value(close IGNORE NULLS) OVER
               (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
             first_value(CASE WHEN close IS NOT NULL THEN pos END
                         IGNORE NULLS) OVER
               (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
      FROM pos
      WINDOW w AS (PARTITION BY symbol ORDER BY minute)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           floor(CASE WHEN close IS NOT NULL THEN close
                      WHEN pc IS NULL THEN nc
                      WHEN nc IS NULL THEN pc
                      ELSE pc + (nc - pc) * (pos - pp) / (np - pp) END
                 * 10000.0 + 0.5) / 10000.0 AS close,
           close IS NULL AS is_gap
    FROM j
    """,
    doc=(
        "Linearly-interpolated close series (TimescaleDB "
        "time_bucket_gapfill + interpolate, vs q_candle_gap_fill's locf): "
        "missing minutes get the straight line between the bracketing "
        "observed closes; leading/trailing gaps fall back to the nearest "
        "observation. The interpolation parameter is the ROW OFFSET inside "
        "the 1-minute grid (integers from row_number), not timestamp "
        "arithmetic — exact in both engines, so the only FP is the final "
        "slope mul/div (tie-proof rounded). Shape: grid rows scale with "
        "TIME SPAN not trade count; both bracketing values come from the "
        "same one sort per symbol partition (last/first ignorenulls "
        "running frames) — no self-join against the next observation, "
        "which is the naive O(gap * candle) formulation."
    ),
)
def q_interp_linear(spark: SparkSession, sf_dir: str):
    closes = _closes(spark, sf_dir)
    bounds = closes.groupBy("symbol").agg(
        F.min("minute").alias("__lo"), F.max("minute").alias("__hi")
    )
    grid = bounds.select(
        "symbol",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 minute"))
        ).alias("minute"),
    )
    j = grid.join(closes, ["symbol", "minute"], "left")
    w = Window.partitionBy("symbol").orderBy("minute")
    w_prev = w.rowsBetween(Window.unboundedPreceding, 0)
    # "Next observation" via a DESC-ordered RUNNING frame, NOT a
    # (CURRENT ROW, UNBOUNDED FOLLOWING) frame: Spark evaluates
    # unbounded-FOLLOWING aggregate frames by rescanning the partition
    # remainder per row — O(n^2), measured 225 s at sf0.1 — while
    # running (unbounded-PRECEDING) frames are incremental O(n). Two
    # sorts per partition instead of one is the cheap trade.
    w_next = (
        Window.partitionBy("symbol")
        .orderBy(F.col("minute").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pos = F.row_number().over(w).cast("bigint")
    j = j.withColumn("pos", pos).withColumn(
        "obs_pos", F.when(F.col("close").isNotNull(), F.col("pos"))
    )
    j = (
        j.withColumn("pc", F.last("close", ignorenulls=True).over(w_prev))
        .withColumn("pp", F.last("obs_pos", ignorenulls=True).over(w_prev))
        .withColumn("nc", F.last("close", ignorenulls=True).over(w_next))
        .withColumn("np", F.last("obs_pos", ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(F.col("pc").isNull(), F.col("nc"))
        .when(F.col("nc").isNull(), F.col("pc"))
        .otherwise(
            F.col("pc")
            + (F.col("nc") - F.col("pc"))
            * (F.col("pos") - F.col("pp"))
            / (F.col("np") - F.col("pp"))
        )
    )
    return j.select(
        "symbol",
        "minute",
        (F.floor(interp * 10000.0 + 0.5) / 10000.0).alias("close"),
        F.col("close").isNull().alias("is_gap"),
    )


#: MACD smoothing factors — the classic 12/26/9 configuration as exact
#: IEEE doubles (both engines constant-fold the same divisions, so the
#: sequential folds below agree bit-for-bit).
_MACD_A12 = "2.0 / 13.0"
_MACD_A26 = "2.0 / 27.0"
_MACD_A9 = "2.0 / 10.0"


@query(
    "q_macd",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), days AS (
      SELECT symbol, CAST(date_trunc('day', minute) AS DATE) AS day,
             list(close ORDER BY minute) AS closes
      FROM closes GROUP BY 1, 2
    ), daily AS (
      SELECT symbol, day,
             list_reduce(closes, (acc, x) -> ({_MACD_A12}) * x + (1.0 - ({_MACD_A12})) * acc)
           - list_reduce(closes, (acc, x) -> ({_MACD_A26}) * x + (1.0 - ({_MACD_A26})) * acc)
             AS macd
      FROM days
    ), per AS (
      SELECT symbol, list(day ORDER BY day) AS ds, list(macd ORDER BY day) AS ms
      FROM daily GROUP BY symbol
    ), idx AS (
      SELECT symbol, ds, ms, unnest(range(1, len(ms) + 1)) AS i FROM per
    ), sig AS (
      SELECT symbol, ds[i] AS day, ms[i] AS macd,
             list_reduce(ms[1:i], (acc, x) -> ({_MACD_A9}) * x + (1.0 - ({_MACD_A9})) * acc)
               AS signal
      FROM idx
    )
    SELECT symbol, day, round(macd, 6) AS macd, round(signal, 6) AS signal,
           round(macd - signal, 6) AS hist
    FROM sig
    """,
    doc=(
        "MACD (12/26/9) per (symbol, day): end-of-day EMA12 - EMA26 of "
        "the day's minute closes, signal = EMA9 of the daily MACD series, "
        "histogram = MACD - signal. EMA is a RECURSIVE aggregate no "
        "window frame expresses and exp-weighted double sums drift with "
        "aggregation order — so both engines run the IDENTICAL sequential "
        "fold (Spark F.aggregate over the ordered close array, DuckDB "
        "list_reduce over the same list; seed = first element, step = "
        "a*x + (1-a)*acc with the same constant-folded IEEE literals), "
        "making an order-sensitive recursion value-hash-match exactly "
        "between Spark and DuckDB. Shape at scale: one aggregate "
        "collapses ticks to (symbol, day, ordered close array) — arrays "
        "bounded at 1440 minutes/day; the signal pass folds day-level "
        "prefixes, O(days^2) per symbol but span-bound (the same "
        "bounded-grid argument as q_candle_gap_fill) and |symbols| x days "
        "rows total. Two exchanges end to end: symbol,day then symbol."
    ),
)
def q_macd(spark: SparkSession, sf_dir: str):
    a12, a26, a9 = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0

    def ema(arr, a: float):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
        )

    closes = _closes(spark, sf_dir)
    days = (
        closes.groupBy(
            "symbol", F.date_trunc("day", "minute").cast("date").alias("day")
        )
        .agg(F.array_sort(F.collect_list(F.struct("minute", "close"))).alias("bars"))
        .select(
            "symbol",
            "day",
            F.transform("bars", lambda b: b["close"]).alias("closes"),
        )
    )
    daily = days.select(
        "symbol",
        "day",
        (ema(F.col("closes"), a12) - ema(F.col("closes"), a26)).alias("macd"),
    )
    per = daily.groupBy("symbol").agg(
        F.array_sort(F.collect_list(F.struct("day", "macd"))).alias("dm")
    )
    pos = per.select(
        "symbol",
        F.transform("dm", lambda s: s["day"]).alias("ds"),
        F.transform("dm", lambda s: s["macd"]).alias("ms"),
    ).select("symbol", "ds", "ms", F.posexplode("ms").alias("pos", "macd"))
    sig = ema(F.slice("ms", 1, F.col("pos") + 1), a9)
    return pos.select(
        "symbol",
        F.element_at("ds", F.col("pos") + 1).alias("day"),
        F.round("macd", 6).alias("macd"),
        F.round(sig, 6).alias("signal"),
        F.round(F.col("macd") - sig, 6).alias("hist"),
    )


@query(
    "q_donchian",
    oracle=f"""
    WITH candles AS (
      {_SQL_CANDLES}
    ), ch AS (
      SELECT symbol, minute, close,
             max(high) OVER w20 AS upper,
             min(low)  OVER w20 AS lower,
             count(*)  OVER w20 AS n
      FROM candles
      WINDOW w20 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), l AS (
      SELECT symbol, minute, close, upper, lower, n,
             lag(upper) OVER (PARTITION BY symbol ORDER BY minute) AS pu,
             lag(lower) OVER (PARTITION BY symbol ORDER BY minute) AS pl
      FROM ch
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           upper, lower, (upper + lower) / 2.0 AS mid,
           close > pu AS brk_up, close < pl AS brk_dn
    FROM l WHERE n >= 20 AND pu IS NOT NULL
    """,
    doc=(
        "20-period Donchian channel + breakout signals: channel top/bottom "
        "are frame max-high / min-low, midline their average, and a "
        "breakout fires when the close crosses the PREVIOUS bar's channel "
        "(lag, so the bar doesn't trigger against a boundary it itself "
        "moved — the turtle-trading entry rule). Every value is a frame "
        "max/min or one add+divide of raw ticks — no summation anywhere, "
        "so results are bit-identical with no rounding needed. Both "
        "window passes and the lag share the one symbol exchange the "
        "indicator family co-partitions on."
    ),
)
def q_donchian(spark: SparkSession, sf_dir: str):
    candles = _candles(spark, sf_dir)
    wsym = Window.partitionBy("symbol").orderBy("minute")
    w20 = wsym.rowsBetween(-19, 0)
    ch = candles.select(
        "symbol",
        "minute",
        "close",
        F.max("high").over(w20).alias("upper"),
        F.min("low").over(w20).alias("lower"),
        F.count(F.lit(1)).over(w20).alias("n"),
    )
    lagged = ch.select(
        "*",
        F.lag("upper").over(wsym).alias("pu"),
        F.lag("lower").over(wsym).alias("pl"),
    )
    return (
        lagged.filter((F.col("n") >= 20) & F.col("pu").isNotNull())
        .select(
            "symbol",
            "minute",
            "upper",
            "lower",
            ((F.col("upper") + F.col("lower")) / 2.0).alias("mid"),
            (F.col("close") > F.col("pu")).alias("brk_up"),
            (F.col("close") < F.col("pl")).alias("brk_dn"),
        )
    )


@query(
    "q_ichimoku",
    oracle=f"""
    WITH candles AS (
      {_SQL_CANDLES}
    ), w AS (
      SELECT symbol, minute, close,
             (max(high) OVER w9  + min(low) OVER w9)  / 2.0 AS conversion,
             (max(high) OVER w26 + min(low) OVER w26) / 2.0 AS base,
             (max(high) OVER w52 + min(low) OVER w52) / 2.0 AS span_b,
             lead(close, 26) OVER (PARTITION BY symbol ORDER BY minute)
               AS chikou,
             count(*) OVER w52 AS n
      FROM candles
      WINDOW w9  AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
             w26 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
             w52 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, CAST(minute AS TIMESTAMP) AS minute,
           conversion, base, (conversion + base) / 2.0 AS span_a, span_b,
           chikou, close > greatest(span_a, span_b) AS above_cloud
    FROM w WHERE n >= 52
    """,
    doc=(
        "Ichimoku indicator set over 1-minute bars: conversion (9-bar "
        "midpoint), base (26-bar), leading span A ((conversion+base)/2), "
        "leading span B (52-bar midpoint), chikou (close displaced 26 "
        "bars forward via lead), and the above-cloud position flag. "
        "Exercises FOUR window frames plus a lead offset on ONE symbol "
        "exchange — Spark evaluates all of them in a single Window node "
        "chain without re-shuffling. Midpoints are max/min plus one "
        "add+divide (no summation), so every value is bit-identical "
        "without rounding; warm-up suppressed until the longest (52-bar) "
        "frame is full. Spans are emitted at the bar that COMPUTES them "
        "(the standard tabular form; plotting displacement is a render "
        "concern, chikou shows the lead/lag machinery)."
    ),
)
def q_ichimoku(spark: SparkSession, sf_dir: str):
    candles = _candles(spark, sf_dir)
    wsym = Window.partitionBy("symbol").orderBy("minute")
    mid = lambda k: (  # noqa: E731
        F.max("high").over(wsym.rowsBetween(-(k - 1), 0))
        + F.min("low").over(wsym.rowsBetween(-(k - 1), 0))
    ) / 2.0
    w = candles.select(
        "symbol",
        "minute",
        "close",
        mid(9).alias("conversion"),
        mid(26).alias("base"),
        mid(52).alias("span_b"),
        F.lead("close", 26).over(wsym).alias("chikou"),
        F.count(F.lit(1)).over(wsym.rowsBetween(-51, 0)).alias("n"),
    )
    span_a = (F.col("conversion") + F.col("base")) / 2.0
    return w.filter(F.col("n") >= 52).select(
        "symbol",
        "minute",
        "conversion",
        "base",
        span_a.alias("span_a"),
        "span_b",
        "chikou",
        (F.col("close") > F.greatest(span_a, F.col("span_b"))).alias("above_cloud"),
    )


#: Autocorrelation lags probed per (symbol, day). Per-day grouping bounds
#: pair counts at 1440 minutes, so every exact moment stays far inside
#: int64 at ANY corpus scale: cents <= ~56000 -> c^2 <= 3.2e9, and
#: n * Sxx <= 1440^2 * 3.2e9 ~ 6.6e15 << 2^63.
_ACF_LAGS = (1, 2, 3)


@query(
    "q_autocorr",
    oracle=f"""
    WITH closes AS (
      {_SQL_CLOSES}
    ), cents AS (
      SELECT symbol, CAST(date_trunc('day', minute) AS DATE) AS day, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM closes
    ), lagged AS (
      SELECT symbol, day, c AS y,
             lag(c, 1) OVER w AS x1,
             lag(c, 2) OVER w AS x2,
             lag(c, 3) OVER w AS x3
      FROM cents
      WINDOW w AS (PARTITION BY symbol, day ORDER BY minute)
    ), pairs AS (
      SELECT symbol, day, 1 AS lag, x1 AS x, y FROM lagged WHERE x1 IS NOT NULL
      UNION ALL
      SELECT symbol, day, 2 AS lag, x2 AS x, y FROM lagged WHERE x2 IS NOT NULL
      UNION ALL
      SELECT symbol, day, 3 AS lag, x3 AS x, y FROM lagged WHERE x3 IS NOT NULL
    ), agg AS (
      SELECT symbol, day, lag,
             CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x) AS BIGINT)     AS sx,
             CAST(sum(y) AS BIGINT)     AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2, 3
    )
    SELECT symbol, day, CAST(lag AS INTEGER) AS lag, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE floor(1.0 * (n * sxy - sx * sy)
                           / (sqrt(1.0 * (n * sxx - sx * sx))
                              * sqrt(1.0 * (n * syy - sy * sy)))
                           * 1000000.0 + 0.5) / 1000000.0 END AS acf
    FROM agg
    """,
    doc=(
        "Per-(symbol, day) AUTOCORRELATION FUNCTION at lags 1/2/3 over "
        "minute closes — the mean-reversion/momentum diagnostic that sits "
        "beside q_seasonality (fixed daypart means) and q_return_corr "
        "(cross-symbol): ACF near zero says the series is "
        "martingale-like, persistent positive lags say trending. Pearson "
        "correlation of the series against its own lag from CENT-SCALED "
        "exact int64 moments (the q_market_beta discipline): the only FP "
        "steps are two IEEE-correctly-rounded sqrt calls on exact "
        "integer-valued doubles, one multiply, one divide, then the "
        "floor-scale rounding both engines write identically — "
        "value-hash bit-stable where covar/stddev aggregates of doubles "
        "drift with partial-agg order. Plan: the whole lag family rides "
        "ONE (symbol, day) window exchange (three lag columns in a "
        "single pass), the pair unpivot is a row-local explode, and the "
        "moment aggregate is partial+final on the same key — constant "
        "rows per group, no global sort anywhere."
    ),
)
def q_autocorr(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        F.date_trunc("day", "minute").cast("date").alias("day"),
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("symbol", "day").orderBy("minute")
    lagged = cents.select(
        "symbol",
        "day",
        F.col("c").alias("y"),
        *[F.lag("c", k).over(w).alias(f"x{k}") for k in _ACF_LAGS],
    )
    pairs = (
        lagged.select(
            "symbol",
            "day",
            "y",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"), F.col(f"x{k}").alias("x")
                        )
                        for k in _ACF_LAGS
                    ]
                )
            ).alias("p"),
        )
        .filter(F.col("p.x").isNotNull())
        .select("symbol", "day", F.col("p.lag").alias("lag"), F.col("p.x").alias("x"), "y")
    )
    agg = pairs.groupBy("symbol", "day", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "symbol",
        "day",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when(
            (dx != 0) & (dy != 0),
            F.floor(
                num / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
                * 1000000.0
                + 0.5
            )
            / 1000000.0,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Risk-adjusted performance (X22 extension). The indicator family above
# DESCRIBES the price series; these three queries EVALUATE it the way a
# trading desk does — risk-adjusted return (Sharpe/Sortino/hit rate),
# range-based realized-volatility estimators (Parkinson/Garman-Klass/
# Rogers-Satchell), and a full signal->position->PnL backtest. All follow
# the q_autocorr exact-integer-moment discipline: returns are quantized to
# basis points with INTEGER division (c*10000 div prev - 10000), so every
# aggregate is an exact int64 sum — the only FP anywhere is the final
# per-group metric expression, written textually identically on both
# engines with floor-scale rounding.
# ---------------------------------------------------------------------------

_RET_CLAMP_BP = 10_000  # +-100% per minute; keeps rq^2 sums in int64 headroom


def _ret_bp(spark, sf_dir):
    """Per-(symbol, minute) basis-point returns as exact int64.

    rq = (c_t * 10000) div c_{t-1} - 10000 on positive cent prices —
    integer division, identical floor semantics in Spark (`div`) and
    DuckDB (`//`) for positive operands. Clamped to +-10000 bp so
    sum(rq^2) over any fixture scale stays far inside int64 (worst case
    1e8 per row; 9e10 rows to overflow — a ~50 PB tick history).
    """
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("symbol").orderBy("minute")
    prev = F.lag("c", 1).over(w)
    rq_raw = F.expr("(c * 10000) div prev_c - 10000")
    return (
        cents.withColumn("prev_c", prev)
        .filter(F.col("prev_c").isNotNull())
        .withColumn(
            "rq",
            F.greatest(
                F.lit(-_RET_CLAMP_BP).cast("bigint"),
                F.least(F.lit(_RET_CLAMP_BP).cast("bigint"), rq_raw),
            ),
        )
        .select("symbol", "minute", "rq")
    )


_SQL_RET_BP = f"""
      SELECT symbol, minute,
             greatest(-{_RET_CLAMP_BP}, least({_RET_CLAMP_BP},
                      (c * 10000) // prev_c - 10000)) AS rq
      FROM (
        SELECT symbol, minute,
               CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c,
               lag(CAST(floor(close * 100.0 + 0.5) AS BIGINT), 1)
                 OVER (PARTITION BY symbol ORDER BY minute) AS prev_c
        FROM ({_SQL_CLOSES})
      ) WHERE prev_c IS NOT NULL
"""


@query(
    "q_risk_metrics",
    oracle=f"""
    WITH rets AS (
      {_SQL_RET_BP}
    ), agg AS (
      SELECT symbol,
             CAST(count(*) AS BIGINT)        AS n,
             CAST(sum(rq) AS BIGINT)         AS s1,
             CAST(sum(rq * rq) AS BIGINT)    AS s2,
             CAST(sum(CASE WHEN rq < 0 THEN rq * rq ELSE 0 END) AS BIGINT)
                                             AS s2d,
             CAST(sum(CASE WHEN rq > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                             AS n_pos
      FROM rets GROUP BY symbol
    )
    SELECT symbol, n AS n_ret,
           floor(s1 * 1.0 / n * 100.0 + 0.5) / 100.0 AS mean_bp,
           floor(sqrt((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                 * 100.0 + 0.5) / 100.0 AS vol_bp,
           CASE WHEN s2 * n > s1 * s1 THEN
             floor((s1 * 1.0 / n)
                   / sqrt((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                   * 1000000.0 + 0.5) / 1000000.0 END AS sharpe,
           CASE WHEN s2d > 0 THEN
             floor((s1 * 1.0 / n) / sqrt(s2d * 1.0 / n)
                   * 1000000.0 + 0.5) / 1000000.0 END AS sortino,
           floor(n_pos * 1.0 / n * 1000000.0 + 0.5) / 1000000.0 AS hit_rate
    FROM agg
    """,
    doc=(
        "Risk-adjusted performance per symbol — Sharpe, Sortino, hit "
        "rate, mean and volatility of minute returns. Returns are "
        "BASIS-POINT-QUANTIZED with integer division (the defined "
        "metric, not an approximation of an FP one), so the five "
        "moments are exact int64 sums: one partial+final aggregate "
        "per symbol after the lag window's single symbol exchange, "
        "value-hash bit-stable under any partial-agg order. The only "
        "FP is the final per-symbol expression (one sqrt on an "
        "exact-integer-derived double), floor-scale rounded "
        "identically on both engines. At 100 TB: the window and the "
        "aggregate ride the same symbol partitioning — one exchange "
        "total, constant output rows per symbol."
    ),
)
def q_risk_metrics(spark: SparkSession, sf_dir: str):
    rets = _ret_bp(spark, sf_dir)
    rq = F.col("rq")
    agg = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(rq).cast("bigint").alias("s1"),
        F.sum(rq * rq).cast("bigint").alias("s2"),
        F.sum(F.when(rq < 0, rq * rq).otherwise(F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("s2d"),
        F.sum(F.when(rq > 0, 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    n, s1, s2, s2d = F.col("n"), F.col("s1"), F.col("s2"), F.col("s2d")
    mean = s1 * 1.0 / n
    var = (s2 * 1.0 / n) - mean * mean
    return agg.select(
        "symbol",
        n.alias("n_ret"),
        (F.floor(mean * 100.0 + 0.5) / 100.0).alias("mean_bp"),
        (F.floor(F.sqrt(var) * 100.0 + 0.5) / 100.0).alias("vol_bp"),
        F.when(
            s2 * n > s1 * s1,
            F.floor(mean / F.sqrt(var) * 1000000.0 + 0.5) / 1000000.0,
        ).alias("sharpe"),
        F.when(
            s2d > 0,
            F.floor(mean / F.sqrt(s2d * 1.0 / n) * 1000000.0 + 0.5) / 1000000.0,
        ).alias("sortino"),
        (F.floor(F.col("n_pos") * 1.0 / n * 1000000.0 + 0.5) / 1000000.0).alias(
            "hit_rate"
        ),
    )


_SQL_OHLC_CENTS = """
      SELECT event_type                  AS symbol,
             date_trunc('minute', ts)    AS minute,
             CAST(floor(arg_min(value, ts) * 100.0 + 0.5) AS BIGINT) AS o,
             CAST(floor(max(value)       * 100.0 + 0.5) AS BIGINT) AS h,
             CAST(floor(min(value)       * 100.0 + 0.5) AS BIGINT) AS l,
             CAST(floor(arg_max(value, ts) * 100.0 + 0.5) AS BIGINT) AS c
      FROM events WHERE value > 0.0 GROUP BY 1, 2
"""


@query(
    "q_realized_vol",
    oracle=f"""
    WITH bars AS (
      {_SQL_OHLC_CENTS}
    ), terms AS (
      SELECT symbol, CAST(date_trunc('day', minute) AS DATE) AS day,
             CAST(floor(ln(h * 1.0 / l) * ln(h * 1.0 / l) * 1000000000000.0
                        + 0.5) AS BIGINT) AS t_park,
             CAST(floor((0.5 * ln(h * 1.0 / l) * ln(h * 1.0 / l)
                         - (2.0 * ln(2.0) - 1.0)
                           * ln(c * 1.0 / o) * ln(c * 1.0 / o))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS t_gk,
             CAST(floor((ln(h * 1.0 / c) * ln(h * 1.0 / o)
                         + ln(l * 1.0 / c) * ln(l * 1.0 / o))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS t_rs
      FROM bars
    ), agg AS (
      SELECT symbol, day, CAST(count(*) AS BIGINT) AS n_bars,
             CAST(sum(t_park) AS BIGINT) AS s_park,
             CAST(sum(t_gk) AS BIGINT)   AS s_gk,
             CAST(sum(t_rs) AS BIGINT)   AS s_rs
      FROM terms GROUP BY 1, 2
    )
    SELECT symbol, day, n_bars,
           floor(sqrt(s_park * 1.0 / n_bars / 1000000000000.0
                      / (4.0 * ln(2.0))) * 100000000.0 + 0.5)
             / 100000000.0 AS park_vol,
           CASE WHEN s_gk >= 0 THEN
             floor(sqrt(s_gk * 1.0 / n_bars / 1000000000000.0)
                   * 100000000.0 + 0.5) / 100000000.0 END AS gk_vol,
           CASE WHEN s_rs >= 0 THEN
             floor(sqrt(s_rs * 1.0 / n_bars / 1000000000000.0)
                   * 100000000.0 + 0.5) / 100000000.0 END AS rs_vol
    FROM agg
    """,
    doc=(
        "Range-based realized-volatility estimators per (symbol, day) — "
        "Parkinson (high/low), Garman-Klass (+open/close), and "
        "Rogers-Satchell (drift-robust) — the estimators that extract "
        "5-10x more efficiency from OHLC bars than close-to-close "
        "variance (q_returns_volatility). Each per-minute term is "
        "quantized to an exact int64 at 1e12 BEFORE summation, so the "
        "daily aggregate is an exact integer sum (no FP partial-agg "
        "order drift); the ln() calls operate on per-row ratios of "
        "exact cent prices, deterministic per row. GK and RS can go "
        "negative on pathological bars (close outside [low, high] "
        "cannot happen, but GK's subtraction can) — emitted NULL "
        "rather than an FP-domain error, matched in both engines. "
        "Plan: one aggregate over events, one row-local projection, "
        "one partial+final (symbol, day) aggregate."
    ),
)
def q_realized_vol(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events")
    cents = lambda col: F.floor(col * 100.0 + 0.5).cast("bigint")  # noqa: E731
    bars = (
        e.filter(F.col("value") > 0.0)
        .groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("minute", "ts").alias("minute"),
        )
        .agg(
            cents(F.min_by("value", "ts")).alias("o"),
            cents(F.max("value")).alias("h"),
            cents(F.min("value")).alias("l"),
            cents(F.max_by("value", "ts")).alias("c"),
        )
    )
    lhl = F.log(F.col("h") * 1.0 / F.col("l"))
    loc = F.log(F.col("c") * 1.0 / F.col("o"))
    lhc = F.log(F.col("h") * 1.0 / F.col("c"))
    lho = F.log(F.col("h") * 1.0 / F.col("o"))
    llc = F.log(F.col("l") * 1.0 / F.col("c"))
    llo = F.log(F.col("l") * 1.0 / F.col("o"))
    scale = 1000000000000.0
    two_ln2_m1 = 2.0 * math.log(2.0) - 1.0
    terms = bars.select(
        "symbol",
        F.date_trunc("day", "minute").cast("date").alias("day"),
        F.floor(lhl * lhl * scale + 0.5).cast("bigint").alias("t_park"),
        F.floor((0.5 * lhl * lhl - two_ln2_m1 * loc * loc) * scale + 0.5)
        .cast("bigint")
        .alias("t_gk"),
        F.floor((lhc * lho + llc * llo) * scale + 0.5).cast("bigint").alias("t_rs"),
    )
    agg = terms.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.sum("t_park").cast("bigint").alias("s_park"),
        F.sum("t_gk").cast("bigint").alias("s_gk"),
        F.sum("t_rs").cast("bigint").alias("s_rs"),
    )
    out8 = lambda x: F.floor(x * 100000000.0 + 0.5) / 100000000.0  # noqa: E731
    n = F.col("n_bars")
    return agg.select(
        "symbol",
        "day",
        n,
        out8(F.sqrt(F.col("s_park") * 1.0 / n / scale / (4.0 * math.log(2.0)))).alias(
            "park_vol"
        ),
        F.when(F.col("s_gk") >= 0, out8(F.sqrt(F.col("s_gk") * 1.0 / n / scale))).alias(
            "gk_vol"
        ),
        F.when(F.col("s_rs") >= 0, out8(F.sqrt(F.col("s_rs") * 1.0 / n / scale))).alias(
            "rs_vol"
        ),
    )


@query(
    "q_backtest_sma",
    oracle=f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM ({_SQL_CLOSES})
    ), sig AS (
      SELECT symbol, minute, c,
             CASE WHEN count(*) OVER w20 = 20 THEN
               CASE WHEN sum(c) OVER w5 * 4 > sum(c) OVER w20
                    THEN 1 ELSE 0 END
             END AS signal
      FROM cents
      WINDOW w5  AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY symbol ORDER BY minute
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), pos AS (
      SELECT symbol, minute, c, signal,
             lag(signal) OVER w AS p,
             lag(signal, 2) OVER w AS pp,
             greatest(-10000, least(10000,
               (c * 10000) // lag(c) OVER w - 10000)) AS rq
      FROM sig
      WINDOW w AS (PARTITION BY symbol ORDER BY minute)
    )
    SELECT symbol,
           CAST(count(*) AS BIGINT) AS n_bars,
           CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long_bars,
           CAST(sum(CASE WHEN p IS NOT NULL AND pp IS NOT NULL
                              AND p <> pp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_trades,
           CAST(sum(CASE WHEN p = 1 THEN rq ELSE 0 END) AS BIGINT)
             AS strat_ret_bp,
           CAST(sum(CASE WHEN p IS NOT NULL THEN rq ELSE 0 END) AS BIGINT)
             AS bh_ret_bp,
           CASE WHEN sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) > 0 THEN
             floor(sum(CASE WHEN p = 1 AND rq > 0 THEN 1 ELSE 0 END) * 1.0
                   / sum(CASE WHEN p = 1 THEN 1 ELSE 0 END)
                   * 1000000.0 + 0.5) / 1000000.0 END AS win_rate
    FROM pos GROUP BY symbol
    """,
    doc=(
        "Vectorized SMA(5)/SMA(20) crossover backtest per symbol: "
        "signal -> next-bar position -> per-bar strategy PnL vs "
        "buy-and-hold, plus trade count and long-bar win rate. The "
        "crossover compares INTEGER window sums cross-multiplied "
        "(sum5*4 > sum20 <=> sma5 > sma20 — no FP averages), the "
        "position is lag(signal) (enter on the NEXT bar: no "
        "look-ahead bias), returns are the basis-point integer "
        "quantization shared with q_risk_metrics, and every output "
        "except win_rate is an exact int64 sum — a backtest whose "
        "result is bit-reproducible across engines and partial-agg "
        "orders. Plan: both SMA frames and the lag ride ONE "
        "(symbol ORDER BY minute) window exchange (three frames, "
        "one sort), then one partial+final aggregate per symbol."
    ),
)
def q_backtest_sma(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    wo = Window.partitionBy("symbol").orderBy("minute")
    w5 = wo.rowsBetween(-4, 0)
    w20 = wo.rowsBetween(-19, 0)
    sig = cents.withColumn(
        "signal",
        F.when(
            F.count(F.lit(1)).over(w20) == 20,
            F.when(F.sum("c").over(w5) * 4 > F.sum("c").over(w20), 1).otherwise(0),
        ),
    )
    pos = sig.select(
        "symbol",
        "minute",
        "c",
        "signal",
        F.lag("signal").over(wo).alias("p"),
        F.lag("signal", 2).over(wo).alias("pp"),
        F.greatest(
            F.lit(-10000).cast("bigint"),
            F.least(
                F.lit(10000).cast("bigint"),
                F.expr(
                    "(c * 10000) div lag(c) over "
                    "(partition by symbol order by minute) - 10000"
                ),
            ),
        ).alias("rq"),
    )
    p, pp, rq = F.col("p"), F.col("pp"), F.col("rq")
    zero = F.lit(0).cast("bigint")
    n_long = F.sum(F.when(p == 1, 1).otherwise(0)).cast("bigint")
    return pos.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        n_long.alias("n_long_bars"),
        F.sum(F.when(p.isNotNull() & pp.isNotNull() & (p != pp), 1).otherwise(0))
        .cast("bigint")
        .alias("n_trades"),
        F.sum(F.when(p == 1, rq).otherwise(zero)).cast("bigint").alias("strat_ret_bp"),
        F.sum(F.when(p.isNotNull(), rq).otherwise(zero))
        .cast("bigint")
        .alias("bh_ret_bp"),
        F.when(
            n_long > 0,
            F.floor(
                F.sum(F.when((p == 1) & (rq > 0), 1).otherwise(0))
                * 1.0
                / n_long
                * 1000000.0
                + 0.5
            )
            / 1000000.0,
        ).alias("win_rate"),
    )


_PAIR_A, _PAIR_B = "view", "click"


@query(
    "q_pairs_spread",
    oracle=f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM ({_SQL_CLOSES}) WHERE symbol IN ('{_PAIR_A}', '{_PAIR_B}')
    ), pair AS (
      SELECT a.minute, a.c AS pa, b.c AS pb
      FROM (SELECT minute, c FROM cents WHERE symbol = '{_PAIR_A}') a
      JOIN (SELECT minute, c FROM cents WHERE symbol = '{_PAIR_B}') b
      USING (minute)
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT)       AS n,
             CAST(sum(pa) AS BIGINT)        AS sa,
             CAST(sum(pb) AS BIGINT)        AS sb,
             CAST(sum(pb * pb) AS BIGINT)   AS sbb,
             CAST(sum(pa * pb) AS BIGINT)   AS sab
      FROM pair
    ), beta AS (
      SELECT n, greatest(-10000, least(10000,
               CAST(floor((n * sab - sa * sb) * 1.0
                          / (n * sbb - sb * sb) * 100.0 + 0.5) AS BIGINT)))
               AS b_hecto
      FROM mom WHERE n * sbb - sb * sb <> 0
    ), spr AS (
      SELECT p.minute, p.pa * 100 - b.b_hecto * p.pb AS s, b.b_hecto, b.n
      FROM pair p CROSS JOIN beta b
    ), sagg AS (
      SELECT any_value(b_hecto) AS b_hecto,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS s1,
             CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE) AS s2
      FROM spr
    ), stats AS (
      SELECT b_hecto, n, s1 * 1.0 / n AS mean,
             sqrt(s2 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) AS sd
      FROM sagg
    )
    SELECT '{_PAIR_A}' AS symbol_a, '{_PAIR_B}' AS symbol_b,
           st.n AS n_minutes,
           floor(st.b_hecto * 1.0 / 100.0 * 100.0 + 0.5) / 100.0 AS beta,
           floor(st.mean / 100.0 * 10000.0 + 0.5) / 10000.0 AS spread_mean_c,
           floor(st.sd / 100.0 * 10000.0 + 0.5) / 10000.0 AS spread_sd_c,
           CAST(sum(CASE WHEN abs((sp.s - st.mean) / st.sd) > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sig2
    FROM spr sp CROSS JOIN stats st
    GROUP BY st.n, st.b_hecto, st.mean, st.sd
    """,
    doc=(
        "Pairs-trading spread monitor for a fixed symbol pair: OLS hedge "
        "ratio from exact int64 cent moments, hedged spread quantized to "
        "exact centi-cent int64 (beta held at 2dp so the spread stays "
        "integer), then z-scored and counted beyond 2 sigma. The hedge "
        "ratio and spread moments are exact integer sums (sum(s^2) "
        "accumulated in HUGEINT/DECIMAL(38,0) — s^2 can exceed int64 at "
        "clamped-beta extremes); mean/sd/z are computed from those exact "
        "integers with IDENTICAL FP expressions both sides, so even the "
        "z>2 comparisons agree bit-for-bit. Plan: the per-minute pair "
        "join rides the minute key; the two scalar stages (moments, "
        "stats) are 1-row broadcasts back onto the pair rows — two "
        "passes over a |minutes|-bounded table, no collect."
    ),
)
def q_pairs_spread(spark: SparkSession, sf_dir: str):
    cents = (
        _closes(spark, sf_dir)
        .filter(F.col("symbol").isin(_PAIR_A, _PAIR_B))
        .select(
            "symbol",
            "minute",
            F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
        )
    )
    pa = cents.filter(F.col("symbol") == _PAIR_A).select(
        "minute", F.col("c").alias("pa")
    )
    pb = cents.filter(F.col("symbol") == _PAIR_B).select(
        "minute", F.col("c").alias("pb")
    )
    pair = pa.join(pb, "minute")
    mom = pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pa").cast("bigint").alias("sa"),
        F.sum("pb").cast("bigint").alias("sb"),
        F.sum(F.col("pb") * F.col("pb")).cast("bigint").alias("sbb"),
        F.sum(F.col("pa") * F.col("pb")).cast("bigint").alias("sab"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    beta = mom.filter(den != 0).select(
        F.greatest(
            F.lit(-10000).cast("bigint"),
            F.least(
                F.lit(10000).cast("bigint"),
                F.floor(num * 1.0 / den * 100.0 + 0.5).cast("bigint"),
            ),
        ).alias("b_hecto")
    )
    spr = pair.crossJoin(F.broadcast(beta)).select(
        "minute",
        (F.col("pa") * 100 - F.col("b_hecto") * F.col("pb")).alias("s"),
        "b_hecto",
    )
    sagg = spr.agg(
        F.any_value("b_hecto").alias("b_hecto"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s1"),
        F.sum(F.col("s").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    stats = sagg.select(
        F.col("b_hecto").alias("bh"),
        "n",
        mean.alias("mean"),
        F.sqrt(F.col("s2") / F.col("n") - mean * mean).alias("sd"),
    )
    joined = spr.drop("b_hecto").crossJoin(F.broadcast(stats))
    return joined.groupBy("n", "bh", "mean", "sd").agg(
        F.sum(
            F.when(F.abs((F.col("s") - F.col("mean")) / F.col("sd")) > 2.0, 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_sig2")
    ).select(
        F.lit(_PAIR_A).alias("symbol_a"),
        F.lit(_PAIR_B).alias("symbol_b"),
        F.col("n").alias("n_minutes"),
        (F.floor(F.col("bh") * 1.0 / 100.0 * 100.0 + 0.5) / 100.0).alias("beta"),
        (F.floor(F.col("mean") / 100.0 * 10000.0 + 0.5) / 10000.0).alias(
            "spread_mean_c"
        ),
        (F.floor(F.col("sd") / 100.0 * 10000.0 + 0.5) / 10000.0).alias("spread_sd_c"),
        "n_sig2",
    )


_CUSUM_K = 20   # allowance per bar, basis points (slack before drift counts)
_CUSUM_H = 200  # alarm threshold, basis points


@query(
    "q_cusum",
    oracle=f"""
    WITH rets AS (
      {_SQL_RET_BP}
    ), days AS (
      SELECT symbol, CAST(date_trunc('day', minute) AS DATE) AS day,
             list(rq ORDER BY minute) AS rqs
      FROM rets GROUP BY 1, 2
    ), folded AS (
      -- Single packed-BIGINT accumulator acc = m * 2^32 + s (both bounded
      -- by 1440 bars x ~1e4 bp < 2^31): DuckDB 1.0's list_reduce returns
      -- STALE element values in the second field of a struct accumulator
      -- (verified: m picked up the previous row's x), so the recursion is
      -- encoded in ONE integer expression instead. The synthetic
      -- prepended 0-return is the seed: processing x=0 from state 0 is a
      -- fixpoint, so seed == initial state. Down-shift CUSUM on x is
      -- up-shift CUSUM on -x.
      SELECT symbol, day, CAST(len(rqs) AS BIGINT) AS n_ret,
             list_reduce(list_prepend(CAST(0 AS BIGINT), rqs),
               (acc, x) -> greatest(acc // 4294967296,
                             greatest(CAST(0 AS BIGINT),
                                      acc % 4294967296 + x - {_CUSUM_K}))
                           * 4294967296
                           + greatest(CAST(0 AS BIGINT),
                                      acc % 4294967296 + x - {_CUSUM_K})) AS up,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                                      list_transform(rqs, x -> -x)),
               (acc, x) -> greatest(acc // 4294967296,
                             greatest(CAST(0 AS BIGINT),
                                      acc % 4294967296 + x - {_CUSUM_K}))
                           * 4294967296
                           + greatest(CAST(0 AS BIGINT),
                                      acc % 4294967296 + x - {_CUSUM_K})) AS dn
      FROM days
    )
    SELECT symbol, day, n_ret,
           up // 4294967296 AS cusum_up_max,
           dn // 4294967296 AS cusum_down_max,
           up // 4294967296 >= {_CUSUM_H} AS shift_up,
           dn // 4294967296 >= {_CUSUM_H} AS shift_down
    FROM folded
    """,
    doc=(
        "Two-sided CUSUM change-point detection per (symbol, day) over "
        "basis-point minute returns: the sequential-test recursion "
        "s_t = max(0, s_(t-1) + x_t - k) plus its running max, with the "
        "down side run as the up side on -x — flags a sustained mean "
        "shift the z-score/MAD outlier screens can't see because no "
        "single observation is extreme. The recursion is order-sensitive "
        "and inexpressible as a window frame, so both engines run a "
        "sequential fold over the day's ordered return array (the q_macd "
        "technique) — but unlike MACD's FP EMA the CUSUM state is PURE "
        "INT64: (state, running max) packed into one integer accumulator "
        "m*2^32 + s (each bounded by 1440 bars x ~1e4 bp < 2^31), which "
        "both sidesteps a DuckDB 1.0 stale-element bug in multi-field "
        "struct accumulators (documented in the oracle) and needs no "
        "rounding discipline at all. Shape: the lag window and the "
        "day-array aggregate ride one symbol exchange; arrays bounded at "
        "1440 bars/day, each fold O(n) inside codegen."
    ),
)
def q_cusum(spark: SparkSession, sf_dir: str):
    rets = _ret_bp(spark, sf_dir)
    days = (
        rets.groupBy(
            "symbol", F.date_trunc("day", "minute").cast("date").alias("day")
        )
        .agg(F.array_sort(F.collect_list(F.struct("minute", "rq"))).alias("bars"))
        .select(
            "symbol",
            "day",
            F.transform("bars", lambda b: b["rq"]).alias("rqs"),
        )
    )
    zero = F.lit(0).cast("long")
    k = F.lit(_CUSUM_K).cast("long")
    mask32 = F.lit(4294967295).cast("long")

    def fold(arr):
        # acc = m << 32 | s, both fields < 2^31 and non-negative, so the
        # unpack is pure integer shifts/masks (no FP division anywhere —
        # m * 2^32 exceeds 2^53, where a double round-trip would corrupt).
        def step(acc, x):
            s2 = F.greatest(zero, acc.bitwiseAND(mask32) + x - k)
            m2 = F.greatest(F.shiftright(acc, 32), s2)
            return F.shiftleft(m2, 32) + s2

        return F.aggregate(arr, zero, step)

    folded = days.select(
        "symbol",
        "day",
        F.size("rqs").cast("bigint").alias("n_ret"),
        fold(F.col("rqs")).alias("up"),
        fold(F.transform("rqs", lambda x: -x)).alias("dn"),
    )
    up_m = F.shiftright(F.col("up"), 32)
    dn_m = F.shiftright(F.col("dn"), 32)
    return folded.select(
        "symbol",
        "day",
        "n_ret",
        up_m.alias("cusum_up_max"),
        dn_m.alias("cusum_down_max"),
        (up_m >= _CUSUM_H).alias("shift_up"),
        (dn_m >= _CUSUM_H).alias("shift_down"),
    )


# ---------------------------------------------------------------------------
# Forecasting family: the one time-series capability the indicator set
# stops short of — producing a FORWARD value and scoring forecast skill.
# Reference: n/a (extension operators; the reference's processor stops at
# raw candles, spark_processor/processor.py:77-101).
# ---------------------------------------------------------------------------

#: Holt smoothing constants as exact dyadic rationals: alpha = 1/4,
#: beta = 1/8 — the recursion stays in pure int64 (no FP, no rounding
#: discipline), the same reason q_cusum picked integer state.
_HOLT_SHIFT_L = 4194304  # 2^22 field width for the packed (level, trend)
_HOLT_B_OFF = 2097152    # 2^21 trend offset; |trend| clamped < 2^21 cents/bar
_HOLT_B_CLAMP = _HOLT_B_OFF - 1


@query(
    "q_holt_forecast",
    oracle=f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM ({_SQL_CLOSES})
    ), days AS (
      SELECT symbol, CAST(date_trunc('day', minute) AS DATE) AS day,
             list(c ORDER BY minute) AS cs
      FROM cents GROUP BY 1, 2
    ), folded AS (
      -- acc = level * 2^22 + (trend + 2^21), level >= 0 < 2^31, so acc is
      -- a single non-negative BIGINT (the q_cusum packing: DuckDB 1.0's
      -- list_reduce corrupts multi-field struct accumulators). Seed -1 is
      -- the uninitialized sentinel: the first bar sets l_1 = x, b_1 = 0.
      -- Integer division: DuckDB // and Spark div BOTH truncate toward
      -- zero (verified on negative operands), so the signed trend
      -- recursion needs no floor/offset gymnastics.
      SELECT symbol, day, CAST(len(cs) AS BIGINT) AS n_bars,
             list_reduce(list_prepend(CAST(-1 AS BIGINT), cs),
               (acc, x) -> CASE WHEN acc < 0
                 THEN x * {_HOLT_SHIFT_L} + {_HOLT_B_OFF}
                 ELSE greatest(CAST(0 AS BIGINT),
                        x + 3 * (acc // {_HOLT_SHIFT_L}
                                 + acc % {_HOLT_SHIFT_L} - {_HOLT_B_OFF})) // 4
                        * {_HOLT_SHIFT_L}
                      + greatest(CAST(-{_HOLT_B_CLAMP} AS BIGINT),
                          least(CAST({_HOLT_B_CLAMP} AS BIGINT),
                            (greatest(CAST(0 AS BIGINT),
                               x + 3 * (acc // {_HOLT_SHIFT_L}
                                        + acc % {_HOLT_SHIFT_L} - {_HOLT_B_OFF})) // 4
                             - acc // {_HOLT_SHIFT_L}
                             + 7 * (acc % {_HOLT_SHIFT_L} - {_HOLT_B_OFF})) // 8))
                      + {_HOLT_B_OFF}
               END) AS acc
      FROM days
    )
    SELECT symbol, day, n_bars,
           acc // {_HOLT_SHIFT_L} AS level_c,
           acc % {_HOLT_SHIFT_L} - {_HOLT_B_OFF} AS trend_c,
           acc // {_HOLT_SHIFT_L} + (acc % {_HOLT_SHIFT_L} - {_HOLT_B_OFF})
             AS forecast1_c,
           acc // {_HOLT_SHIFT_L} + 5 * (acc % {_HOLT_SHIFT_L} - {_HOLT_B_OFF})
             AS forecast5_c
    FROM folded
    """,
    doc=(
        "Holt double exponential smoothing (level + trend) per (symbol, "
        "day) over minute cent closes, INTEGER-QUANTIZED with dyadic "
        "smoothing constants alpha=1/4, beta=1/8: l_t = (x_t + 3(l+b)) div "
        "4, b_t = ((l_t - l) + 7b) div 8 — the whole recursion is exact "
        "int64 (both engines' integer division truncates toward zero, "
        "verified on negative operands), so the h-step forecasts l + h*b "
        "hash-match bit-for-bit with no rounding discipline. The "
        "order-sensitive fold is inexpressible as a window frame, so both "
        "engines run the q_cusum machinery: per-day ordered array (<= "
        "1440 bars), single packed-BIGINT accumulator level*2^22 + "
        "(trend + 2^21) with a -1 uninitialized-seed sentinel (l_1 = x_1, "
        "b_1 = 0), trend clamped to +-(2^21 - 1) cents/bar. Shape: one "
        "symbol exchange feeds the day-array aggregate; the fold is O(n) "
        "inside codegen; output is day-granular (rows ~ symbols x days, "
        "never ~ bars)."
    ),
)
def q_holt_forecast(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    days = (
        cents.groupBy(
            "symbol", F.date_trunc("day", "minute").cast("date").alias("day")
        )
        .agg(F.array_sort(F.collect_list(F.struct("minute", "c"))).alias("bars"))
        .select(
            "symbol", "day", F.transform("bars", lambda b: b["c"]).alias("cs")
        )
    )

    shift_l = F.lit(_HOLT_SHIFT_L).cast("long")
    b_off = F.lit(_HOLT_B_OFF).cast("long")
    b_clamp = F.lit(_HOLT_B_CLAMP).cast("long")
    zero = F.lit(0).cast("long")

    def step(acc, x):
        # acc >= 0 once initialized, so shiftright/bitwiseAND unpack the
        # packed fields exactly (floor == trunc on non-negatives).
        l_prev = F.shiftright(acc, 22)
        b_prev = acc.bitwiseAND(F.lit(_HOLT_SHIFT_L - 1).cast("long")) - b_off
        # l_new = trunc((x + 3*(l+b)) / 4), numerator clamped >= 0 so the
        # shift IS the truncating division.
        l_new = F.shiftright(F.greatest(zero, x + 3 * (l_prev + b_prev)), 2)
        # b_new = trunc(((l_new - l_prev) + 7*b_prev) / 8) on a SIGNED
        # numerator: (n - n % 8) is an exact multiple of 8 with Spark's
        # dividend-sign remainder, so the FP division is exact (|n| < 2^34)
        # and matches DuckDB's truncating // bit-for-bit.
        b_num = l_new - l_prev + 7 * b_prev
        b_new = ((b_num - b_num % 8) / 8).cast("long")
        b_new = F.greatest(-b_clamp, F.least(b_clamp, b_new))
        return F.shiftleft(l_new, 22) + b_new + b_off

    def fold(arr):
        return F.aggregate(
            arr,
            F.lit(-1).cast("long"),
            lambda acc, x: F.when(acc < 0, F.shiftleft(x, 22) + b_off).otherwise(
                step(acc, x)
            ),
        )

    folded = days.select(
        "symbol",
        "day",
        F.size("cs").cast("bigint").alias("n_bars"),
        fold(F.col("cs")).alias("acc"),
    )
    lvl = F.shiftright(F.col("acc"), 22)
    trd = F.col("acc").bitwiseAND(F.lit(_HOLT_SHIFT_L - 1).cast("long")) - F.lit(
        _HOLT_B_OFF
    ).cast("long")
    return folded.select(
        "symbol",
        "day",
        "n_bars",
        lvl.alias("level_c"),
        trd.alias("trend_c"),
        (lvl + trd).alias("forecast1_c"),
        (lvl + 5 * trd).alias("forecast5_c"),
    )


_FE_PERIOD = 60        # seasonal-naive lag: 60 minute bars = hourly cycle
_FE_ERR_CLAMP = 100_000  # cap |err| at $1000 in cents: err^2 <= 1e10, so
#                          int64 SSE survives ~9e8 scored rows (sf ~ 700)


@query(
    "q_forecast_eval",
    oracle=f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM ({_SQL_CLOSES})
    ), lagged AS (
      SELECT symbol, c,
             lag(c, 1)  OVER (PARTITION BY symbol ORDER BY minute) AS c1,
             lag(c, {_FE_PERIOD}) OVER (PARTITION BY symbol ORDER BY minute) AS cs
      FROM cents
    ), errs AS (
      SELECT symbol,
             least(abs(c - c1), {_FE_ERR_CLAMP}) AS en,
             least(abs(c - cs), {_FE_ERR_CLAMP}) AS es
      FROM lagged WHERE cs IS NOT NULL
    )
    SELECT symbol,
           CAST(count(*) AS BIGINT)  AS n_scored,
           CAST(sum(en) AS BIGINT)   AS sae_naive,
           CAST(sum(es) AS BIGINT)   AS sae_snaive,
           CAST(sum(en * en) AS BIGINT) AS sse_naive,
           CAST(sum(es * es) AS BIGINT) AS sse_snaive,
           CASE WHEN sum(en) > 0
                THEN CAST(sum(es) AS BIGINT) * 10000 // CAST(sum(en) AS BIGINT)
           END AS mase_bp
    FROM errs GROUP BY symbol
    """,
    doc=(
        "Forecast-skill evaluation per symbol: seasonal-naive (predict the "
        "close 60 bars ago) vs the naive random-walk baseline "
        "(predict the previous close), scored on the SAME row set (rows "
        "with a full seasonal history — a seasonal lag implies the naive "
        "lag exists). Errors are exact int64 cents clamped at "
        "$1000/bar, so SAE/SSE and the MASE ratio (basis points, integer "
        "division) hash-match exactly — MASE < 10000 bp means hourly "
        "seasonality carries real signal beyond the random walk. Shape: "
        "both lags and the final aggregate ride ONE symbol exchange (the "
        "indicator-family discipline); output is one row per symbol."
    ),
)
def q_forecast_eval(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("symbol").orderBy("minute")
    clamp = F.lit(_FE_ERR_CLAMP).cast("long")
    lagged = cents.select(
        "symbol",
        "c",
        F.lag("c", 1).over(w).alias("c1"),
        F.lag("c", _FE_PERIOD).over(w).alias("cs"),
    ).filter(F.col("cs").isNotNull())
    errs = lagged.select(
        "symbol",
        F.least(F.abs(F.col("c") - F.col("c1")), clamp).alias("en"),
        F.least(F.abs(F.col("c") - F.col("cs")), clamp).alias("es"),
    )
    agg = errs.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("en").cast("bigint").alias("sae_naive"),
        F.sum("es").cast("bigint").alias("sae_snaive"),
        F.sum(F.col("en") * F.col("en")).cast("bigint").alias("sse_naive"),
        F.sum(F.col("es") * F.col("es")).cast("bigint").alias("sse_snaive"),
    )
    return agg.select(
        "symbol",
        "n_scored",
        "sae_naive",
        "sae_snaive",
        "sse_naive",
        "sse_snaive",
        F.when(
            F.col("sae_naive") > 0,
            F.expr("sae_snaive * 10000 div sae_naive"),
        ).alias("mase_bp"),
    )


_RM_N = 30        # rolling frame length (bars)
_RM_MID = 15      # lower-median index, 1-based, of a full 30-bar frame
_RM_K = 5         # outlier threshold: |close - med| > K * MAD


@query(
    "q_rolling_median",
    oracle=f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM ({_SQL_CLOSES})
    ), framed AS (
      SELECT symbol, minute, c,
             list(c) OVER (PARTITION BY symbol ORDER BY minute
                           ROWS BETWEEN {_RM_N - 1} PRECEDING AND CURRENT ROW)
               AS frame,
             row_number() OVER (PARTITION BY symbol ORDER BY minute) AS rn
      FROM cents
    ), med AS (
      SELECT symbol, minute, c,
             list_sort(frame)[{_RM_MID}] AS med_c, frame
      FROM framed WHERE rn >= {_RM_N}
    )
    SELECT symbol, minute, c AS close_c, med_c,
           list_sort(list_transform(frame, x -> abs(x - med_c)))[{_RM_MID}]
             AS mad_c,
           abs(c - med_c) > {_RM_K} *
             list_sort(list_transform(frame, x -> abs(x - med_c)))[{_RM_MID}]
             AS outlier
    FROM med
    """,
    doc=(
        "Rolling EXACT median and median-absolute-deviation bands over a "
        "30-bar frame per symbol — the robust price filter whose "
        "breakdown point (50%) survives the outliers a rolling "
        "mean/stddev band is dragged by (q_bollinger's failure mode "
        "during flash events). No engine exposes an exact median as an "
        "incremental frame aggregate, so both engines materialize the "
        "30-element frame as a window LIST and take order statistics "
        "row-locally: lower median = sorted[15] of the full frame, MAD = "
        "lower median of |x - med| over the same frame, outlier = "
        "deviation > 5*MAD — all exact int64 cents, zero FP. Shape: ONE "
        "symbol exchange shared by the frame window, row_number guard "
        "and downstream expressions; per-row cost is O(n log n) on a "
        "CONSTANT n=30 inside codegen (no UDF), memory O(frame) per row "
        "exactly like any bounded frame aggregate. Warm-up rows "
        "(partial frames) are excluded — a 30-bar statistic over 3 bars "
        "is not that statistic."
    ),
)
def q_rolling_median(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("symbol").orderBy("minute")
    # Explicit-count repartition on the window key: the upstream exchange
    # is small in BYTES, so AQE coalesced it to one partition and the
    # O(30 log 30)-per-row order-statistics pass ran in a single task
    # (r10 serialization audit, 1.65 s). The explicit count pins the
    # partitioning (exempt from AQE coalescing) and the window reuses it.
    # Count = the CONFIGURED cluster width, not a literal 32 (r13: a
    # hard-coded local-core constant would under-spread a real cluster;
    # local default unchanged — shuffle.partitions == $SPARK_GRAFT_CPUS).
    from ..operators.scale import configured_shuffle_partitions

    framed = cents.repartition(configured_shuffle_partitions(spark), "symbol").select(
        "symbol",
        "minute",
        "c",
        F.collect_list("c")
        .over(w.rowsBetween(-(_RM_N - 1), Window.currentRow))
        .alias("frame"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") >= _RM_N)
    med = framed.withColumn(
        "med_c", F.element_at(F.array_sort("frame"), _RM_MID)
    )
    mad = F.element_at(
        F.array_sort(
            F.transform("frame", lambda x: F.abs(x - F.col("med_c")))
        ),
        _RM_MID,
    )
    return med.select(
        "symbol",
        "minute",
        F.col("c").alias("close_c"),
        "med_c",
        mad.alias("mad_c"),
        (F.abs(F.col("c") - F.col("med_c")) > _RM_K * mad).alias("outlier"),
    )


_BOOT_B = 32      # bootstrap resamples; CI = order stats 2 and 31 (~93.8%)
_BOOT_LO = 2
_BOOT_HI = 31


def _boot_sql() -> str:
    """Generated oracle for q_bootstrap_ci: 2x32 exact-integer partial sums
    (weight, weight*cents) per symbol, then list order statistics over the
    32 resample means. All 32 weights derive from TWO md5 digests per row
    (256 bits = 32 weights x 8 bits): resample b's weight is the popcount
    of zero 2-bit fields in hex byte b of the concatenated digests —
    Binomial(4, 1/4) per weight, and a 32x md5 cost cut vs hashing per
    resample (the per-resample form cost 5.8 s at sf0.1; the fixture's
    post-aggregate table is AQE-coalesced to one partition, so per-row
    expression cost is wall time there)."""
    key = "symbol || ':' || CAST(CAST(epoch(minute) AS BIGINT) AS VARCHAR)"
    hh = f"md5({key} || ':0') || md5({key} || ':1')"
    sums = []
    for b in range(_BOOT_B):
        byte = f"CAST('0x' || substr(hh, {2 * b + 1}, 2) AS BIGINT)"
        w = " + ".join(
            f"(CASE WHEN (({byte}) // {4 ** j}) % 4 = 0 THEN 1 ELSE 0 END)"
            for j in range(4)
        )
        sums.append(f"CAST(sum(({w})) AS BIGINT) AS sw{b}")
        sums.append(f"CAST(sum(({w}) * c) AS BIGINT) AS swv{b}")
    # An empty resample (all multiplicities 0 — only reachable for tiny
    # groups) contributes the full-sample mean: keeps every list exactly B
    # long with no NULLs, whose sort placement is engine-specific.
    means = ", ".join(
        f"CASE WHEN sw{b} > 0 THEN CAST(swv{b} AS DOUBLE) / sw{b} "
        f"ELSE CAST(sc AS DOUBLE) / n_minutes END"
        for b in range(_BOOT_B)
    )
    return f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c,
             {hh} AS hh
      FROM ({_SQL_CLOSES})
    ), partials AS (
      SELECT symbol,
             CAST(count(*) AS BIGINT) AS n_minutes,
             CAST(sum(c) AS BIGINT) AS sc,
             {', '.join(sums)}
      FROM cents GROUP BY symbol
    ), sorted AS (
      SELECT symbol, n_minutes, sc,
             list_sort([{means}]) AS ms
      FROM partials
    )
    SELECT symbol, n_minutes,
           CAST(sc AS DOUBLE) / n_minutes AS mean_c,
           ms[{_BOOT_LO}] AS ci_lo_c,
           ms[{_BOOT_HI}] AS ci_hi_c
    FROM sorted
    """


@query(
    "q_bootstrap_ci",
    oracle=_boot_sql(),
    doc=(
        "Deterministic Poisson-style bootstrap confidence interval for the "
        "per-symbol mean close (cents): 32 resamples where each row's "
        "multiplicity in resample b is Binomial(4, 1/4) (mean 1 — the "
        "Poisson-bootstrap approximation) read from hex byte b of TWO "
        "md5 digests of the stable row id (256 bits = 32 resamples x 4 "
        "two-bit draws), NOT an RNG — so the resampling is reproducible "
        "across runs, "
        "engines, partitionings, and appends, the q_sample_hash "
        "discipline applied to uncertainty quantification. The "
        "single-pass trick (Chamandy et al., 'Estimating uncertainty for "
        "massive data streams', Google 2012): per (symbol, resample) "
        "weighted sums accumulate as 64 exact-int64 partial aggregates "
        "in ONE partial+final aggregate over the close table — no "
        "B-fold data blow-up, no reshuffling per resample; the CI is "
        "order statistics 2/31 of the 32 resample means, computed "
        "row-locally on the one-row-per-symbol result. The only FP is "
        "the final mean divisions on exact integers — bit-identical in "
        "both engines. State per group is 2B+2 longs regardless of "
        "corpus size, so the same plan prices identically at 100 TB."
    ),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str):
    # r14 (VERDICT r13 #4, guide §1.2 step 2 applied to the DRIVER): this
    # was the registry's chattiest constructor — the Column-object form
    # issued ~14,600 py4j round-trips building the 32x(4 CASE)+66-agg
    # expression forest (~2.6 s of the 3.16 s driver wall; cProfile in
    # OPTIMIZATION_r14.md). The SAME expressions are now rendered as SQL
    # text and parsed JVM-side in a handful of calls. The analyzed plan
    # is IDENTICAL (asserted expression-by-expression at change time via
    # plan-text equality, tests/test_plan_quality.py keeps the shape
    # gates) so every value, and the oracle hash, is unchanged.
    #
    # TWO md5 digests per row carry all 32 weights (256 bits = 32 x 8):
    # hex byte b of the concatenation is resample b's 4 x 2-bit draw. The
    # per-resample-hash form cost 5.8 s at sf0.1 — 64 md5 trees per row,
    # evaluated on the post-aggregate table AQE coalesces to ONE partition
    # at fixture size, so per-row expression cost was wall time.
    key = (
        "concat_ws(':', symbol, "
        "CAST(CAST(CAST(minute AS timestamp) AS bigint) AS string))"
    )
    hh = (
        f"concat(md5(CAST(concat({key}, ':0') AS binary)), "
        f"md5(CAST(concat({key}, ':1') AS binary)))"
    )
    # Spread the close table BEFORE the digest/weight projection: the
    # upstream aggregate's exchange AQE-coalesces to one partition at
    # fixture size, serializing all per-row hash work onto one core. A
    # repartition on (symbol, minute) is REMOVED by the optimizer (same
    # partitioning as that exchange), so this must be a ROUND-ROBIN
    # repartition with an explicit count — user-specified numPartitions
    # survives AQE. The count comes from spark.sql.shuffle.partitions
    # (the CONFIGURED cluster width) rather than defaultParallelism: the
    # latter is the executor count alive at plan-build time, which
    # under-counts on a dynamic-allocation cluster that scales up after
    # submission. A floor keeps the spread meaningful when the config is
    # set low for tiny fixtures. The exchanged table is bounded by
    # minutes x symbols, orders below tick count at any SF, so the extra
    # exchange stays negligible at 100 TB while the weight computation
    # scales with cores.
    from ..operators.scale import configured_shuffle_partitions

    spread = _closes(spark, sf_dir).repartition(
        configured_shuffle_partitions(spark)
    )
    cents = spread.selectExpr(
        "symbol",
        "minute",
        "CAST(floor(close * 100.0 + 0.5) AS bigint) AS c",
        f"{hh} AS hh",
    )

    def w(b: int) -> str:
        byte = f"CAST(conv(substring(hh, {2 * b + 1}, 2), 16, 10) AS bigint)"
        return " + ".join(
            f"(CASE WHEN (shiftright({byte}, {2 * j}) & 3) = 0 "
            "THEN 1 ELSE 0 END)"
            for j in range(4)
        )

    # Weights as a narrow projection feeding a 66-buffer partial+final
    # aggregate. The buffer width is fine once the work is SPREAD (see the
    # round-robin note above): a long-form posexplode variant measured
    # 2x slower (explode duplicates the array expr per the q_contamination
    # trap even as OUTER, plus a second pass for the per-symbol stats).
    weighted = cents.selectExpr(
        "symbol", "c", *[f"{w(b)} AS w{b}" for b in range(_BOOT_B)]
    )
    aggs = [
        F.expr("CAST(count(1) AS bigint)").alias("n_minutes"),
        F.expr("CAST(sum(c) AS bigint)").alias("sc"),
    ]
    for b in range(_BOOT_B):
        aggs.append(F.expr(f"CAST(sum(w{b}) AS bigint)").alias(f"sw{b}"))
        aggs.append(
            F.expr(f"CAST(sum(w{b} * c) AS bigint)").alias(f"swv{b}")
        )
    partials = weighted.groupBy("symbol").agg(*aggs)

    means = ", ".join(
        f"CASE WHEN sw{b} > 0 THEN CAST(swv{b} AS double) / sw{b} "
        "ELSE CAST(sc AS double) / n_minutes END"
        for b in range(_BOOT_B)
    )
    return partials.selectExpr(
        "symbol",
        "n_minutes",
        "CAST(sc AS double) / n_minutes AS mean_c",
        f"element_at(array_sort(array({means})), {_BOOT_LO}) AS ci_lo_c",
        f"element_at(array_sort(array({means})), {_BOOT_HI}) AS ci_hi_c",
    )


_SD_HALF = 30  # centered trend half-window: 61-bar moving average


@query(
    "q_seasonal_decompose",
    oracle=f"""
    WITH cents AS (
      SELECT symbol, minute,
             CAST(floor(close * 100.0 + 0.5) AS BIGINT) AS c
      FROM ({_SQL_CLOSES})
    ), framed AS (
      SELECT symbol, minute, c,
             sum(c) OVER (PARTITION BY symbol ORDER BY minute
                          ROWS BETWEEN {_SD_HALF} PRECEDING
                          AND {_SD_HALF} FOLLOWING) AS s61,
             count(*) OVER (PARTITION BY symbol ORDER BY minute
                            ROWS BETWEEN {_SD_HALF} PRECEDING
                            AND {_SD_HALF} FOLLOWING) AS nf
      FROM cents
    ), dev AS (
      SELECT symbol, CAST(date_part('minute', minute) AS BIGINT) AS moh,
             {2 * _SD_HALF + 1} * c - s61 AS dev61
      FROM framed WHERE nf = {2 * _SD_HALF + 1}
    )
    SELECT symbol, moh,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(dev61) AS BIGINT) AS sum_dev61,
           CAST(sum(dev61) AS DOUBLE) / ({2 * _SD_HALF + 1}.0 * count(*))
             AS seasonal_c
    FROM dev GROUP BY 1, 2
    """,
    doc=(
        "Classical additive seasonal decomposition of the close series: "
        "detrend with a CENTERED 61-bar moving average, then estimate the "
        "minute-of-hour seasonal index as the mean detrended deviation "
        "per (symbol, minute-of-hour) — the decomposition q_seasonality's "
        "raw hour-of-day activity profile doesn't give (it counts events; "
        "this isolates the PRICE cycle after removing trend). The exact "
        "trick: the deviation c - s61/61 is rational, so it is scaled to "
        "the EXACT INTEGER dev61 = 61*c - sum61 and summed in int64; the "
        "only FP is one final division by 61*n per output row, making the "
        "whole decomposition hash-exact (the q_market_beta moment "
        "discipline applied to detrending). Partial trend frames are "
        "excluded — a centered MA at the series edge is not the trend. "
        "Shape: trend frame, full-frame guard, and the final aggregate "
        "all ride ONE symbol exchange; output is |symbols| x 60 rows at "
        "any corpus size."
    ),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str):
    cents = _closes(spark, sf_dir).select(
        "symbol",
        "minute",
        F.floor(F.col("close") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("minute")
        .rowsBetween(-_SD_HALF, _SD_HALF)
    )
    n_full = 2 * _SD_HALF + 1
    framed = cents.select(
        "symbol",
        "minute",
        "c",
        F.sum("c").over(w).alias("s61"),
        F.count(F.lit(1)).over(w).alias("nf"),
    ).filter(F.col("nf") == n_full)
    dev = framed.select(
        "symbol",
        F.minute("minute").cast("bigint").alias("moh"),
        (F.lit(n_full) * F.col("c") - F.col("s61")).alias("dev61"),
    )
    return dev.groupBy("symbol", "moh").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("dev61").cast("bigint").alias("sum_dev61"),
        (
            F.sum("dev61").cast("double")
            / (F.lit(float(n_full)) * F.count(F.lit(1)))
        ).alias("seasonal_c"),
    )


@query(
    "q_order_flow",
    oracle="""
    WITH ticks AS (
      SELECT event_type AS symbol, ts, event_id, value AS v
      FROM events WHERE value > 0.0
    ), signed AS (
      SELECT symbol, ts, event_id,
             CASE WHEN v > lag(v) OVER w THEN 1
                  WHEN v < lag(v) OVER w THEN -1 END AS sgn
      FROM ticks
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)
    ), carried AS (
      SELECT symbol, CAST(date_trunc('day', ts) AS DATE) AS day,
             last_value(sgn IGNORE NULLS)
               OVER (PARTITION BY symbol ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS side
      FROM signed
    )
    SELECT symbol, day,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(CASE WHEN side = 1  THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
           CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
           CAST(sum(CASE WHEN side IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unclassified,
           CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
              - sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS imbalance,
           CASE WHEN sum(CASE WHEN side IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                        - sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT)
                     * 1000000
                     // CAST(sum(CASE WHEN side IS NOT NULL THEN 1 ELSE 0 END)
                             AS BIGINT)
           END AS imbalance_ppm
    FROM carried GROUP BY 1, 2
    """,
    doc=(
        "Tick-rule trade classification and daily order-flow imbalance "
        "(the tick-test half of Lee-Ready, the standard when quote data "
        "is absent): each tick is a BUY if it printed above the previous "
        "tick's price, SELL below, and on an equal print CARRIES the "
        "last classified side forward (zero-tick rule) — per (symbol, "
        "day): buy/sell counts, net imbalance, imbalance in exact ppm of "
        "classified ticks. The carry-forward is last(sgn, ignorenulls) "
        "over the ASCENDING RUNNING frame — incremental O(n) per "
        "partition (the q_interp_linear lesson: never an UNBOUNDED "
        "FOLLOWING aggregate frame). Ticks are totally ordered by (ts, "
        "event_id) so the classification is deterministic under any "
        "partitioning. Shape: both windows and the day aggregate ride "
        "ONE symbol exchange; leading unclassified ticks are counted, "
        "not guessed."
    ),
)
def q_order_flow(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    ticks = e.select(
        F.col("event_type").alias("symbol"), "ts", "event_id",
        F.col("value").alias("v"),
    )
    w = Window.partitionBy("symbol").orderBy("ts", "event_id")
    prev = F.lag("v").over(w)
    sgn = F.when(F.col("v") > prev, 1).when(F.col("v") < prev, -1)
    signed = ticks.withColumn("sgn", sgn)
    side = F.last("sgn", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = signed.select(
        "symbol",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        side.alias("side"),
    )
    n_buy = F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("bigint")
    n_sell = F.sum(F.when(F.col("side") == -1, 1).otherwise(0)).cast("bigint")
    n_cls = F.sum(F.when(F.col("side").isNotNull(), 1).otherwise(0)).cast(
        "bigint"
    )
    return carried.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        n_buy.alias("n_buy"),
        n_sell.alias("n_sell"),
        F.sum(F.when(F.col("side").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unclassified"),
        (n_buy - n_sell).alias("imbalance"),
        F.when(
            n_cls > 0, F.expr(
                "CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)"
                " - sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT)"
                " * 1000000"
                " div CAST(sum(CASE WHEN side IS NOT NULL THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            )
        ).alias("imbalance_ppm"),
    )


_XC_LAGS = (-3, -2, -1, 0, 1, 2, 3)


@query(
    "q_cross_corr",
    oracle=f"""
    WITH rets AS (
      {_SQL_RET_BP}
    ), aligned AS (
      SELECT a.minute, CAST(date_trunc('day', a.minute) AS DATE) AS day,
             a.rq AS ra, b.rq AS rb
      FROM (SELECT minute, rq FROM rets WHERE symbol = '{_PAIR_A}') a
      JOIN (SELECT minute, rq FROM rets WHERE symbol = '{_PAIR_B}') b
        USING (minute)
    ), lagged AS (
      SELECT day, ra AS y,
             lag(rb, 3)  OVER w AS xm3, lag(rb, 2)  OVER w AS xm2,
             lag(rb, 1)  OVER w AS xm1, rb          AS x0,
             lead(rb, 1) OVER w AS xp1, lead(rb, 2) OVER w AS xp2,
             lead(rb, 3) OVER w AS xp3
      FROM aligned
      WINDOW w AS (PARTITION BY day ORDER BY minute)
    ), pairs AS (
      SELECT 3 AS lag, xm3 AS x, y FROM lagged WHERE xm3 IS NOT NULL
      UNION ALL SELECT 2, xm2, y FROM lagged WHERE xm2 IS NOT NULL
      UNION ALL SELECT 1, xm1, y FROM lagged WHERE xm1 IS NOT NULL
      UNION ALL SELECT 0, x0, y FROM lagged WHERE x0 IS NOT NULL
      UNION ALL SELECT -1, xp1, y FROM lagged WHERE xp1 IS NOT NULL
      UNION ALL SELECT -2, xp2, y FROM lagged WHERE xp2 IS NOT NULL
      UNION ALL SELECT -3, xp3, y FROM lagged WHERE xp3 IS NOT NULL
    ), agg AS (
      SELECT lag,
             CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x) AS BIGINT)     AS sx,
             CAST(sum(y) AS BIGINT)     AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE floor(1.0 * (n * sxy - sx * sy)
                           / (sqrt(1.0 * (n * sxx - sx * sx))
                              * sqrt(1.0 * (n * syy - sy * sy)))
                           * 1000000.0 + 0.5) / 1000000.0 END AS xcorr
    FROM agg
    """,
    doc=(
        "Lead-lag CROSS-correlation between the benchmark pair's minute "
        "basis-point returns: corr(ra_t, rb_(t-l)) for l in -3..3 — the "
        "price-discovery diagnostic (a peak at l>0 says B leads A by l "
        "minutes; q_return_corr and q_pairs_spread only see the "
        "contemporaneous l=0 cell). The q_autocorr machinery applied "
        "across series: exact int64 basis-point returns (integer "
        "division, clamped), minute-aligned inner join, all seven lag "
        "columns from ONE per-(day) window pass (lags stay inside the "
        "day, losing at most 3 boundary pairs), moments as exact int64 "
        "sums grouped by lag ACROSS days — no global sort, no "
        "single-partition window, output exactly 7 rows. FP only in the "
        "final sqrt/divide/floor-scale written identically on both "
        "engines."
    ),
)
def q_cross_corr(spark: SparkSession, sf_dir: str):
    rets = _ret_bp(spark, sf_dir)
    a = rets.filter(F.col("symbol") == _PAIR_A).select(
        "minute", F.col("rq").alias("ra")
    )
    b = rets.filter(F.col("symbol") == _PAIR_B).select(
        "minute", F.col("rq").alias("rb")
    )
    aligned = a.join(b, "minute").select(
        "minute",
        F.date_trunc("day", "minute").cast("date").alias("day"),
        "ra",
        "rb",
    )
    w = Window.partitionBy("day").orderBy("minute")

    def shifted(l: int):
        if l > 0:
            return F.lag("rb", l).over(w)
        if l < 0:
            return F.lead("rb", -l).over(w)
        return F.col("rb")

    lagged = aligned.select(
        F.col("ra").alias("y"),
        *[shifted(l).alias(f"x_{l}") for l in _XC_LAGS],
    )
    pairs = (
        lagged.select(
            "y",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(l).alias("lag"), F.col(f"x_{l}").alias("x")
                        )
                        for l in _XC_LAGS
                    ]
                )
            ).alias("p"),
        )
        .filter(F.col("p.x").isNotNull())
        .select(F.col("p.lag").alias("lag"), F.col("p.x").alias("x"), "y")
    )
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when(
            (dx != 0) & (dy != 0),
            F.floor(
                num / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
                * 1000000.0
                + 0.5
            )
            / 1000000.0,
        ).alias("xcorr"),
    )


_TB_N = 100  # ticks per bar


@query(
    "q_tick_bars",
    oracle=f"""
    WITH ticks AS (
      SELECT event_type AS symbol, ts, event_id, value AS v
      FROM events WHERE value > 0.0
    ), rn AS (
      SELECT symbol, ts, event_id, v,
             (row_number() OVER (PARTITION BY symbol
                                 ORDER BY ts, event_id) - 1) // {_TB_N} AS bar
      FROM ticks
    ), numbered AS (
      SELECT symbol, ts, v, bar,
             row_number() OVER (PARTITION BY symbol, bar
                                ORDER BY ts, event_id) AS rk_in_bar
      FROM rn
    )
    SELECT symbol, CAST(bar AS BIGINT) AS bar,
           CAST(count(*) AS BIGINT) AS n_ticks,
           arg_min(v, rk_in_bar)  AS open,
           max(v)                 AS high,
           min(v)                 AS low,
           arg_max(v, rk_in_bar)  AS close,
           min(ts)                AS ts_start,
           max(ts)                AS ts_end
    FROM numbered GROUP BY 1, 2
    """,
    doc=(
        "Tick-bar construction: OHLC bars of exactly 100 TICKS each "
        "(the last partial bar included) instead of fixed wall-clock "
        "minutes — the event-driven bar family (tick/volume/dollar "
        "bars): activity-proportional sampling gives bars with far more "
        "homogeneous information content than time bars, which "
        "oversample quiet periods and undersample bursts. Ticks get a "
        "total (ts, event_id) order, the bar id is an integer division "
        "of the per-symbol row number, and open/close are arg_min/"
        "arg_max by the rank WITHIN the bar — deterministic under any "
        "partitioning with no first/last order sensitivity. Shape: both "
        "row-number passes and the bar aggregate ride ONE symbol "
        "exchange; bar count scales with ticks/100, never materializing "
        "anything beyond the tick table's own cardinality."
    ),
)
def q_tick_bars(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    ticks = e.select(
        F.col("event_type").alias("symbol"), "ts", "event_id",
        F.col("value").alias("v"),
    )
    numbered = ticks.withColumn(
        "bar", F.expr(f"(row_number() OVER (PARTITION BY symbol ORDER BY ts, event_id) - 1) div {_TB_N}")
    )
    wb = Window.partitionBy("symbol", "bar").orderBy("ts", "event_id")
    numbered = numbered.withColumn("rk_in_bar", F.row_number().over(wb))
    return numbered.groupBy("symbol", F.col("bar").cast("bigint").alias("bar")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        F.min_by("v", "rk_in_bar").alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max_by("v", "rk_in_bar").alias("close"),
        F.min("ts").alias("ts_start"),
        F.max("ts").alias("ts_end"),
    )


_DB_THRESH = 1_000_000  # dollar-bar size: $10,000 of traded value in cents


@query(
    "q_dollar_bars",
    oracle=f"""
    WITH ticks AS (
      SELECT event_type AS symbol, ts, event_id, value AS v,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      FROM events WHERE value > 0.0
    ), running AS (
      SELECT symbol, ts, event_id, v, c,
             (sum(c) OVER (PARTITION BY symbol ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) - c) // {_DB_THRESH}
               AS bar
      FROM ticks
    ), numbered AS (
      SELECT symbol, ts, v, c, bar,
             row_number() OVER (PARTITION BY symbol, bar
                                ORDER BY ts, event_id) AS rk_in_bar
      FROM running
    )
    SELECT symbol, CAST(bar AS BIGINT) AS bar,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(c) AS BIGINT)   AS value_c,
           arg_min(v, rk_in_bar)    AS open,
           max(v)                   AS high,
           min(v)                   AS low,
           arg_max(v, rk_in_bar)    AS close,
           min(ts)                  AS ts_start,
           max(ts)                  AS ts_end
    FROM numbered GROUP BY 1, 2
    """,
    doc=(
        "Dollar-bar construction: OHLC bars that each close after ~$10k "
        "of TRADED VALUE, completing the event-driven bar trio beside "
        "q_tick_bars (fixed tick count) and the wall-clock q_ohlcv_1min — "
        "dollar bars are the variant with the most stable statistical "
        "properties because they normalize for both activity AND price "
        "level (a price doubling halves tick counts per bar but not "
        "value). Mechanically distinct from tick bars: the boundary is a "
        "RUNNING-SUM threshold, not a row count — each tick's bar id is "
        "the integer division of the exact cent value accumulated BEFORE "
        "it, so bars are deterministic under any partitioning and a "
        "single oversized tick simply owns its own bar. Both the prefix "
        "sum and the within-bar rank ride ONE symbol exchange; all "
        "arithmetic exact int64 cents."
    ),
)
def q_dollar_bars(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    ticks = e.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        F.col("value").alias("v"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    running = ticks.withColumn(
        "bar",
        F.expr(
            f"(sum(c) OVER (PARTITION BY symbol ORDER BY ts, event_id"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)"
            f" div {_DB_THRESH}"
        ),
    )
    wb = Window.partitionBy("symbol", "bar").orderBy("ts", "event_id")
    numbered = running.withColumn("rk_in_bar", F.row_number().over(wb))
    return numbered.groupBy(
        "symbol", F.col("bar").cast("bigint").alias("bar")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        F.sum("c").cast("bigint").alias("value_c"),
        F.min_by("v", "rk_in_bar").alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max_by("v", "rk_in_bar").alias("close"),
        F.min("ts").alias("ts_start"),
        F.max("ts").alias("ts_end"),
    )


@query(
    "q_kyle_lambda",
    oracle="""
    WITH ticks AS (
      SELECT event_type AS symbol, ts, event_id, value AS v,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      FROM events WHERE value > 0.0
    ), signed AS (
      SELECT symbol, ts, event_id, c,
             CASE WHEN v > lag(v) OVER w THEN 1
                  WHEN v < lag(v) OVER w THEN -1 END AS sgn
      FROM ticks
      WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)
    ), carried AS (
      SELECT symbol, ts, event_id, c, date_trunc('minute', ts) AS minute,
             last_value(sgn IGNORE NULLS)
               OVER (PARTITION BY symbol ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS side
      FROM signed
    ), ranked AS (
      SELECT symbol, minute, c, side,
             row_number() OVER (PARTITION BY symbol, minute
                                ORDER BY ts, event_id) AS rk
      FROM carried
    ), minutes AS (
      SELECT symbol, minute,
             sum(coalesce(side, 0)) AS x,
             arg_max(c, rk) - arg_min(c, rk) AS y
      FROM ranked GROUP BY 1, 2
    ), sums AS (
      SELECT symbol,
             count(*)   AS n,
             sum(x)     AS sx,
             sum(y)     AS sy,
             sum(x * y) AS sxy,
             sum(x * x) AS sxx
      FROM minutes GROUP BY symbol
    )
    SELECT symbol, CAST(n AS BIGINT) AS n_minutes,
           CAST(n * sxx - sx * sx AS BIGINT) AS den,
           CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                AS BIGINT) AS lambda_micro
    FROM sums WHERE n * sxx - sx * sx > 0
    """,
    doc=(
        "Kyle's lambda (price-impact coefficient), tick-count variant: "
        "per symbol, regress the within-minute price move (close - open, "
        "exact cents) on the minute's NET tick-rule order flow "
        "(n_buy - n_sell, the q_order_flow classification) — the OLS "
        "slope is the cents a unit of net order flow moves the price, "
        "THE microstructure liquidity measure (Kyle 1985; the "
        "tick-imbalance regressor is the standard proxy when size data "
        "is absent). Everything before the final division is exact "
        "int64: x is a signed tick count, y exact cents, and the slope "
        "numerator/denominator (n*Sxy - Sx*Sy, n*Sxx - Sx^2) are BIGINT "
        "products of per-symbol sums (headroom: |x| <= ticks/minute, "
        "|y| <= max price in cents — n*Sxy stays under 2^63 while "
        "minutes x tpm x price_c x tpm < 9.2e18, i.e. to ~1e5 ticks/"
        "minute at TPC-H-ish price levels; beyond that, scale x to "
        "per-minute kilo-ticks first). One truncating integer division "
        "at the end (both engines truncate toward zero). Shape: tick "
        "rule + minute rank share ONE symbol exchange; the regression "
        "is a |symbols|-row aggregate. Degenerate symbols (constant "
        "flow, den = 0) are excluded rather than emitted as NULL."
    ),
)
def q_kyle_lambda(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    ticks = e.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        F.col("value").alias("v"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("symbol").orderBy("ts", "event_id")
    prev = F.lag("v").over(w)
    sgn = F.when(F.col("v") > prev, 1).when(F.col("v") < prev, -1)
    side = F.last(sgn, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ticks.select(
        "symbol",
        "ts",
        "event_id",
        "c",
        F.date_trunc("minute", "ts").alias("minute"),
        side.alias("side"),
    )
    wb = Window.partitionBy("symbol", "minute").orderBy("ts", "event_id")
    ranked = carried.withColumn("rk", F.row_number().over(wb))
    minutes = ranked.groupBy("symbol", "minute").agg(
        F.sum(F.coalesce(F.col("side"), F.lit(0))).alias("x"),
        (F.max_by("c", "rk") - F.min_by("c", "rk")).alias("y"),
    )
    sums = minutes.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        sums.filter(den > 0)
        .select(
            "symbol",
            F.col("n").cast("bigint").alias("n_minutes"),
            den.cast("bigint").alias("den"),
            F.expr(
                "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
                " AS BIGINT)"
            ).alias("lambda_micro"),
        )
    )


@query(
    "q_amihud",
    oracle="""
    WITH ticks AS (
      SELECT event_type AS symbol, ts, event_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             date_trunc('minute', ts) AS minute,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      FROM events WHERE value > 0.0
    ), ranked AS (
      SELECT symbol, day, minute, c,
             row_number() OVER (PARTITION BY symbol, day, minute
                                ORDER BY ts, event_id) AS rk
      FROM ticks
    ), closes AS (
      SELECT symbol, day, minute, arg_max(c, rk) AS close_c,
             sum(c) AS vol_c
      FROM ranked GROUP BY 1, 2, 3
    ), moves AS (
      SELECT symbol, day, vol_c,
             abs(close_c - lag(close_c)
                   OVER (PARTITION BY symbol, day ORDER BY minute)) AS mv
      FROM closes
    )
    SELECT symbol, day,
           CAST(count(*) AS BIGINT)            AS n_minutes,
           CAST(sum(coalesce(mv, 0)) AS BIGINT) AS move_c,
           CAST(sum(vol_c) AS BIGINT)           AS vol_c,
           CAST(sum(coalesce(mv, 0)) * 1000000000 // sum(vol_c) AS BIGINT)
             AS illiq_ppb
    FROM moves GROUP BY 1, 2
    HAVING sum(vol_c) > 0
    """,
    doc=(
        "Amihud illiquidity (2002), intraday form: per (symbol, day), "
        "absolute minute-to-minute price movement per unit of traded "
        "value — the standard coarse liquidity proxy when the book is "
        "not observable (large = the price moves a lot per dollar, i.e. "
        "illiquid). Traded value per minute reuses the q_dollar_bars "
        "convention (sum of tick cents); moves are exact |close_c - "
        "prev_close_c| within the day (the day's first minute "
        "contributes volume but no move, like the canonical estimator's "
        "first return). All sums exact int64 cents; the ratio is ONE "
        "parts-per-billion integer division, guarded on BOTH engines by "
        "sum(vol_c) > 0 — the value > 0.0 tick filter still admits "
        "sub-half-cent prices that quantize to c = 0, and an all-zero "
        "(symbol, day) would error DuckDB's // while Spark's div returns "
        "NULL (the q_kyle_lambda den > 0 discipline). Shape: minute "
        "aggregate + "
        "lag window + day aggregate ride one symbol exchange; output is "
        "|symbols| x |days| regardless of tick count."
    ),
)
def q_amihud(spark: SparkSession, sf_dir: str):
    e = read_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    ticks = e.select(
        F.col("event_type").alias("symbol"),
        "ts",
        "event_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("minute", "ts").alias("minute"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    # Minute close by the TOTAL (ts, event_id) order, not bare ts: two
    # ticks sharing a timestamp would make max_by(c, ts) partition-order
    # nondeterministic (the q_tick_bars/q_kyle_lambda rk discipline).
    wr = Window.partitionBy("symbol", "day", "minute").orderBy(
        "ts", "event_id"
    )
    ranked = ticks.withColumn("rk", F.row_number().over(wr))
    closes = ranked.groupBy("symbol", "day", "minute").agg(
        F.max_by("c", "rk").alias("close_c"), F.sum("c").alias("vol_c")
    )
    wd = Window.partitionBy("symbol", "day").orderBy("minute")
    moves = closes.select(
        "symbol",
        "day",
        "vol_c",
        F.abs(F.col("close_c") - F.lag("close_c").over(wd)).alias("mv"),
    )
    return (
        moves.groupBy("symbol", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_minutes"),
            F.sum(F.coalesce(F.col("mv"), F.lit(0)))
            .cast("bigint")
            .alias("move_c"),
            F.sum("vol_c").cast("bigint").alias("vol_c"),
            F.expr(
                "CAST(sum(coalesce(mv, 0)) * 1000000000 div sum(vol_c) AS BIGINT)"
            ).alias("illiq_ppb"),
        )
        .filter(F.col("vol_c") > 0)
    )
