"""Scale utilities: skew salting, literal rendering, layout keys and
distribution helpers. These are the knobs a 100 TB deployment turns; none
change query semantics.

Context: the reference runs 1 worker / 1 core / 1 GB and sets zero Spark
configs (SURVEY.md §6). Our engine targets 1000-executor clusters, where
the three killers are (a) skewed shuffle keys, (b) unpartitioned table
layouts forcing full scans, and (c) too-few/too-many shuffle partitions.
AQE (enabled in session.py) handles (c) and moderate (a) at runtime; these
helpers cover deliberate layout and pathological skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def render_sql_literal(value) -> str:
    """Render a (nested) Python value — int / float / str / bool / list /
    (name, value) dict for named_struct — as ONE Spark SQL literal string.

    Why this exists (r12 verdict #7): the idiomatic per-element form
    ``F.array(*[F.lit(x) for x in xs])`` costs one driver↔JVM py4j round
    trip PER ELEMENT — a k×dim centroid matrix or an m×k×dsub PQ codebook
    is 512–1024 hops (~1 s of pure driver latency) EVERY time the plan is
    built, and trainers rebuild it per Lloyd iteration. One F.expr string
    is one hop; the JVM SQL parser eats a ~20 KB array literal in
    milliseconds, and whole-stage codegen sees the identical Literal.

    Exactness contract (the oracle-parity suite depends on it): ints render
    as BIGINT (`L` suffix), floats as ``CAST(repr(x) AS DOUBLE)`` — Python
    repr() is the shortest round-tripping decimal, and decimal→binary64
    conversion is correctly rounded in Spark, so the parsed Literal is
    bit-identical to ``F.lit(float(x))``. Strings are single-quote escaped.
    NaN/Inf are rejected (no portable SQL literal) — no caller emits them.
    """
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return f"{value}L"
    if isinstance(value, float):
        if value != value or value in (float("inf"), float("-inf")):
            raise ValueError(f"no portable SQL literal for {value!r}")
        return f"CAST({value!r} AS DOUBLE)"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, dict):
        parts = []
        for name, v in value.items():
            if not str(name).isidentifier():
                raise ValueError(f"struct field name {name!r} is not an identifier")
            parts.append(f"'{name}', {render_sql_literal(v)}")
        return "named_struct(" + ", ".join(parts) + ")"
    if isinstance(value, (list, tuple)):
        return "array(" + ",".join(render_sql_literal(v) for v in value) + ")"
    raise TypeError(f"unsupported literal type {type(value).__name__}")


def inline_literal(value) -> Column:
    """``F.expr(render_sql_literal(value))`` — the one-hop Column form."""
    return F.expr(render_sql_literal(value))


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a CPU-bound narrow pipeline's input UP to cluster
    parallelism — only when the scan gives fewer splits than cores.

    Rationale: per-row expression cost (md5 shingle hashing, 32-pass
    SimHash, vector dot products) can dwarf scan cost. Parallelism of a
    narrow plan == number of input splits, so a table that arrives as one
    split (small file, one row group) runs one task no matter how many
    cores exist. At 100 TB the scan has thousands of splits and this helper
    is a no-op (no shuffle added); on skinny inputs it buys a cores-fold
    speedup for a shuffle of the raw rows.

    The already-parallel probe uses ``inputFiles()`` (pure metadata), not
    ``df.rdd.getNumPartitions()`` — the latter forces a DataFrame->RDD plan
    conversion on every call. File count slightly undercounts splits for
    multi-row-group files, which only makes the check conservative: a scan
    wide enough to exceed core count by files alone never needed help.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source: assume skinny, let repartition decide
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def configured_shuffle_partitions(spark) -> int:
    """The CONFIGURED cluster width for explicit-count repartitions that
    must survive AQE coalescing (q_bootstrap_ci / q_entity_match): reads
    spark.sql.shuffle.partitions rather than plan-time defaultParallelism
    (which under-counts on a dynamic-allocation cluster that scales up
    after submission), falls back to defaultParallelism where the config
    is non-numeric (Databricks sets it to 'auto' under auto-optimized
    shuffle), and floors at 16 so the spread stays meaningful when the
    config is set low for tiny fixtures."""
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        n = int(spark.sparkContext.defaultParallelism)
    return max(n, 16)


#: Salt buckets of with_salt: the first shuffle of a salted aggregate
#: spreads each hot key over this many reducers.
_SALT_BUCKETS = 16


def with_salt(df: DataFrame) -> DataFrame:
    """Add a deterministic-per-row salt column ``__salt`` in [0, _SALT_BUCKETS).

    Use for hot-key aggregation: groupBy(key, salt) -> partial agg ->
    groupBy(key) -> final agg. Two small shuffles instead of one skewed one.
    The salt derives from a hash of the whole row (monotonically_increasing_id
    would break determinism under retries).
    """
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn("__salt", F.pmod(h, F.lit(_SALT_BUCKETS)))


#: Bits per dimension of a Z-order key.
_ZORDER_BITS = 8


def zorder_key(x, y):
    """Morton (Z-order) interleave of two bucketized dimensions — the
    multi-dimensional data-layout key: sorting/partitioning files by this
    key clusters rows so per-file min/max statistics on BOTH columns stay
    tight, and scans filtered on either dimension skip most files
    (Delta/Iceberg OPTIMIZE ZORDER semantics, expressed as plain integer
    arithmetic — no engine extension needed).

    `x`, `y` must already be integer bucket ids in [0, 2^8); the
    result interleaves x into the even bit positions and y into the odd
    ones. Pure row-local codegen'd bit math.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("bigint")
    for b in range(_ZORDER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("bigint"), b).bitwiseAND(F.lit(1)), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("bigint"), b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def zorder_key_sql() -> str:
    """DuckDB/ANSI twin of zorder_key over the columns ``px`` and ``sx`` —
    textually generated from the same bit layout so both engines compute
    the identical key."""
    terms = []
    for b in range(_ZORDER_BITS):
        terms.append(f"(((CAST(px AS BIGINT) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((CAST(sx AS BIGINT) >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


def exact_global_rank(
    df: DataFrame,
    *,
    value_col: str,
    tiebreak_col: str,
    rank_col: str = "rk",
    n_col: str | None = None,
    buckets: int = 256,
    extra_stats: dict[str, Column] | None = None,
) -> DataFrame:
    """Exact 1-based global rank by ``(value_col, tiebreak_col)`` ascending
    without passing the table through one task — the q_lorenz / q_global_shuffle
    two-phase machinery, factored for reuse.

    Phase 1: a one-row ``(min, max, n)`` stats aggregate is broadcast and
    derives ``buckets`` ORDER-PRESERVING integer range buckets (value must be
    an integer column — double values could flip near-tie bucket boundaries).
    Phase 2: ``row_number`` within each bucket in parallel, then the
    ``<= buckets``-row per-bucket count cumsum (bounded single-partition
    window) is broadcast back as rank offsets. The result equals the naive
    ``row_number() OVER (ORDER BY value, tiebreak)`` bit-for-bit while every
    corpus-sized exchange stays key-partitioned.

    ``n_col``: also attach the total row count (phase 1 already has it; saves
    callers that need ``rank/n`` quantile arithmetic a second global scan).
    ``extra_stats``: additional whole-table aggregates (name -> aggregate
    Column) to ride the SAME phase-1 stats row and broadcast — a caller
    that also needs e.g. a global sum (q_lorenz's revenue total) would
    otherwise aggregate the un-materialized input a third time, which
    measurably doubled q_lorenz's scan count before this hook existed.
    Internal columns are dropped; all input columns pass through.
    """
    from pyspark.sql import Window

    stats = df.agg(
        F.min(value_col).alias("__mn"),
        F.max(value_col).alias("__mx"),
        F.count(F.lit(1)).alias("__n"),
        *[c.alias(name) for name, c in (extra_stats or {}).items()],
    )
    keyed = df.join(F.broadcast(stats)).withColumn(
        "__bkt",
        F.least(
            F.expr(
                f"CAST(({value_col} - __mn) div "
                f"(((__mx - __mn) div {buckets}) + 1) AS INT)"
            ),
            F.lit(buckets - 1),
        ),
    )
    within = F.row_number().over(
        Window.partitionBy("__bkt").orderBy(value_col, tiebreak_col)
    )
    counts = keyed.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__cnt"))
    off = F.sum("__cnt").over(
        Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select("__bkt", F.coalesce(off, F.lit(0)).alias("__off"))
    out = (
        keyed.withColumn("__pos", within)
        .join(F.broadcast(offsets), "__bkt")
        .withColumn(rank_col, F.col("__off") + F.col("__pos"))
    )
    if n_col is not None:
        out = out.withColumn(n_col, F.col("__n"))
    return out.drop("__bkt", "__pos", "__off", "__mn", "__mx", "__n")
