"""Table IO: the parquet fixture reader and its timestamp helpers.

The reference's only batch input is an implicit JDBC staging table; its
streaming input is Kafka (reference spark_processor/processor.py:54-60).
Our engine reads the driver's parquet fixtures for batch queries and wraps
Kafka/file sources for streaming (see sources.py / streaming/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .session import apply_runtime_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Columns stored as parquet TIMESTAMP(NANOS), which Spark's reader rejects.
#: With spark.sql.legacy.parquet.nanosAsLong they arrive as epoch-nanos LONG;
#: we convert to microsecond TimestampType with exact integer division
#: (a double division would lose precision: epoch-nanos ~1.7e18 >> 2^53).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _as_timestamp(col: Column | str) -> Column:
    """Type-agnostic TIMESTAMP view of a timestamp-ish column.

    A no-op on TimestampType; on TIMESTAMP_NTZ it reinterprets the wall
    clock in the session timezone (pinned UTC in RUNTIME_CONF, so values
    are identical). Lets epoch math (unix_micros/unix_millis, long/double
    casts) work regardless of which type the parquet reader produced —
    those expressions reject NTZ inputs at plan time on Spark >= 3.4.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp")


def ts_micros(col: Column | str) -> Column:
    """Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column (UTC)."""
    return F.unix_micros(_as_timestamp(col))


def ts_millis() -> Column:
    """Epoch milliseconds of the timestamp-ish ``ts`` column (UTC)."""
    return F.unix_millis(_as_timestamp("ts"))


def ts_seconds() -> Column:
    """Epoch seconds (LONG, truncated) of the timestamp-ish ``ts`` column (UTC)."""
    return _as_timestamp("ts").cast("long")


def ts_seconds_d() -> Column:
    """Epoch seconds (DOUBLE, fractional) of the timestamp-ish ``ts`` column (UTC)."""
    return _as_timestamp("ts").cast("double")


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (session tz is UTC, so
    values are unchanged). Normally dead: inferTimestampNTZ=false makes the
    scan produce TIMESTAMP directly, which also keeps filter pushdown on the
    raw column. This is the fallback for sessions where that conf is static
    or pre-set — a post-scan cast beats a plan-time AnalysisException."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for name in ntz:
        df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def parquet_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from parquet FOOTERS only —
    driver-side, O(footer read), no Spark job. Handles both the driver's
    single-file layout and Spark-written directories of part files (e.g.
    the scale-probe output). Returns None for unknown layouts so callers
    can fall back to `df.count()` (an eager count here would run a full
    job for every plan-only consumer — .explain, plan-shape gates)."""
    import glob as _glob
    import os as _os

    try:
        import pyarrow.parquet as _pq

        path = f"{sf_dir}/{name}.parquet"
        if _os.path.isdir(path):
            parts = _glob.glob(_os.path.join(path, "*.parquet"))
            if not parts:
                return None
            return sum(_pq.read_metadata(p).num_rows for p in parts)
        return _pq.read_metadata(path).num_rows
    except Exception:  # noqa: BLE001 — unknown layout: let the caller count
        return None


#: In-process cache of INFERRED parquet schemas, keyed by (path, mtime_ns, size).
#: Metadata only — a StructType, never data: every query still computes
#: from the parquet files on every invocation. Footer schema inference +
#: file-index setup cost ~0.10-0.13 s of driver time PER spark.read call
#: (FLOOR_PROBE.json: infer 0.099 s vs 0.020 s with an explicit schema),
#: and the bench re-reads each fixture hundreds of times; production
#: engines never re-infer either — the catalog carries the schema
#: (spark.read.table). The key invalidates the entry when a test or probe
#: overwrites the path with a re-written table (overwrite recreates the
#: file/dir, bumping mtime). Integer nanoseconds plus the size, from one
#: stat: a float mtime can round two writes to one value, and a rewrite
#: that keeps (or restores) the mtime is still caught when its size differs.
_SCHEMA_CACHE: dict[tuple[str, int, int], "object"] = {}


def _read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    import os as _os

    try:
        st = _os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # missing path: let Spark error out
    key = (path, st.st_mtime_ns, st.st_size)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Applies engine runtime conf (UTC tz, AQE) so
    queries behave identically whether the session is ours or the driver's."""
    apply_runtime_conf(spark)
    df = _read_parquet_cached_schema(spark, f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _normalize_ntz(df)


def events_between(
    spark: SparkSession,
    sf_dir: str,
    ts_from: str | None = None,
    ts_to: str | None = None,
) -> DataFrame:
    """Events table with a time-range predicate pushed down to the parquet scan.

    A filter applied AFTER the nanos->timestamp conversion lands on a derived
    column, so parquet sees only IsNotNull and reads every row group — at
    100 TB that is the difference between a pruned scan and a full scan.
    This helper translates the bounds to raw epoch-nanos and filters the
    underlying LONG column first (PushedFilters: GreaterThanOrEqual/LessThan),
    then converts. Bounds are ISO strings interpreted as UTC.
    """
    from datetime import datetime, timezone

    apply_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")

    def _ns(iso: str) -> int:
        dt = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
        return int(dt.timestamp()) * 1_000_000_000 + dt.microsecond * 1000

    if isinstance(df.schema["ts"].dataType, LongType):
        if ts_from is not None:
            df = df.filter(F.col("ts") >= F.lit(_ns(ts_from)))
        if ts_to is not None:
            df = df.filter(F.col("ts") < F.lit(_ns(ts_to)))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Literal cast to the column's OWN type so the comparison stays on the
    # raw scan column and pushes down (a cast on the column side would not).
    ts_type = "timestamp_ntz" if isinstance(df.schema["ts"].dataType, TimestampNTZType) else "timestamp"
    if ts_from is not None:
        df = df.filter(F.col("ts") >= F.lit(ts_from).cast(ts_type))
    if ts_to is not None:
        df = df.filter(F.col("ts") < F.lit(ts_to).cast(ts_type))
    return _normalize_ntz(df)
