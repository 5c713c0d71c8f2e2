"""Scale utilities: skew salting, partitioned layout writers, distribution
helpers. These are the knobs a 100 TB deployment turns; none change query
semantics.

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


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition a CPU-bound narrow pipeline's input UP to cluster
    parallelism — only when the scan gives fewer splits than cores.

    Rationale: per-row expression cost (md5 shingle hashing, 32-pass
    SimHash, vector dot products) can dwarf scan cost. Parallelism of a
    narrow plan == number of input splits, so a table that arrives as one
    split (small file, one row group) runs one task no matter how many
    cores exist. At 100 TB the scan has thousands of splits and this helper
    is a no-op (no shuffle added); on skinny inputs it buys a cores-fold
    speedup for a shuffle of the raw rows.

    ``factor`` multiplies the target (use >1 when downstream work per row is
    very uneven, so stragglers smooth out).

    The already-parallel probe uses ``inputFiles()`` (pure metadata), not
    ``df.rdd.getNumPartitions()`` — the latter forces a DataFrame->RDD plan
    conversion on every call. File count slightly undercounts splits for
    multi-row-group files, which only makes the check conservative: a scan
    wide enough to exceed core count by files alone never needed help.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source: assume skinny, let repartition decide
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def configured_shuffle_partitions(spark, *, floor: int = 16) -> int:
    """The CONFIGURED cluster width for explicit-count repartitions that
    must survive AQE coalescing (q_bootstrap_ci / q_entity_match): reads
    spark.sql.shuffle.partitions rather than plan-time defaultParallelism
    (which under-counts on a dynamic-allocation cluster that scales up
    after submission), falls back to defaultParallelism where the config
    is non-numeric (Databricks sets it to 'auto' under auto-optimized
    shuffle), and floors so the spread stays meaningful when the config
    is set low for tiny fixtures."""
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        n = int(spark.sparkContext.defaultParallelism)
    return max(n, floor)


def with_salt(df: DataFrame, *, buckets: int, col_name: str = "__salt") -> DataFrame:
    """Add a deterministic-per-row salt column in [0, buckets).

    Use for hot-key aggregation: groupBy(key, salt) -> partial agg ->
    groupBy(key) -> final agg. Two small shuffles instead of one skewed one.
    The salt derives from a hash of the whole row (monotonically_increasing_id
    would break determinism under retries).
    """
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets))
    )


def salted_group_sum(
    df: DataFrame, *, keys: list[str], agg_cols: dict[str, str], buckets: int = 16
) -> DataFrame:
    """Two-phase salted sum/count aggregation for skewed keys.

    agg_cols: {output_name: input_col} summed exactly (sums and counts
    re-aggregate losslessly; avg/min_by need their own decomposition).
    """
    salted = with_salt(df, buckets=buckets)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[F.sum(src).alias(out) for out, src in agg_cols.items()],
        F.count(F.lit(1)).alias("__n"),
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(out).alias(out) for out in agg_cols],
        F.sum("__n").alias("n"),
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a parquet table partitioned by low-cardinality columns
    (e.g. date, symbol) so readers get partition pruning for free.

    ``sort_by`` orders rows within each file — tight min/max row-group
    stats turn point/range predicates into row-group skips.
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed table (hash-clustered files + metastore
    metadata). Two tables bucketed the same way on the join key give a
    co-located join: zero Exchange on either side — at 100 TB that removes
    the dominant cost of every fact-fact join touching the key.

    Bucketing requires saveAsTable (the bucket spec lives in the catalog,
    not the parquet files). Readers must keep
    spark.sql.sources.bucketing.enabled=true (default).
    """
    w = df.write.mode(mode).bucketBy(buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.format("parquet").saveAsTable(table)


def recover_swap(path: str) -> None:
    """Finish or undo a ``swap_dir`` a crash cut short. A run that died
    between rename-aside and move-in leaves the table at <path>.old and
    nothing at <path>: restore it. A leftover .old next to an intact table
    is completed-swap garbage: clear it, or the next rename-aside raises on
    the non-empty directory."""
    import os
    import shutil

    old = path + ".old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)


def swap_dir(staging: str, path: str) -> None:
    """Replace directory ``path`` with ``staging`` by rename-aside: the
    table moves to <path>.old BEFORE the new one moves in, so a crash at
    any point leaves a table ``recover_swap`` can restore (rmtree-then-move
    would lose it in between). ``staging`` must sit beside ``path`` so both
    moves are same-filesystem renames."""
    import os
    import shutil

    old = path + ".old"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def compact_files(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    output file count.

    The small-files problem is the silent killer of long-lived ingest
    tables: a streaming sink emitting one file per micro-batch per
    partition turns a year of 60 s triggers into ~500k tiny files, and
    every reader pays open/footer/seek costs per file plus a scheduler
    task per split. Compaction = one read + coalesce to
    ceil(bytes/target) + atomic swap. ``sort_by`` additionally clusters
    rows so min/max row-group stats prune (cheap Z-order stand-in for a
    single key).

    Uses coalesce (narrow, no shuffle) unless sorting is requested —
    sortWithinPartitions after repartition gives globally useful file
    clustering at the cost of one shuffle.
    """
    import math
    import os
    import tempfile

    # Crash recovery BEFORE touching anything (ADVICE r2).
    recover_swap(path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    parent = os.path.dirname(os.path.abspath(path))
    staging = tempfile.mkdtemp(prefix="compact_", dir=parent)
    if sort_by:
        out = df.repartition(n_out).sortWithinPartitions(*sort_by)
    else:
        out = df.coalesce(n_out)
    out.write.mode("overwrite").parquet(staging)
    swap_dir(staging, path)
    return n_out


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the BIG side, replicate the SMALL
    side across all salt values, join on (keys + salt).

    A hot join key puts its entire fact-side volume into one shuffle
    partition; AQE's skew split helps sort-merge joins but cannot split a
    hash partition consumed by a single stateful consumer. Salting spreads
    each key over ``buckets`` partitions deterministically; the small side
    is exploded x buckets (bounded: |small| * buckets rows), so the join
    result is identical while the worst partition shrinks ~buckets-fold.

    Semantics-preserving ONLY for big-side-preserving joins (inner/left/
    semi/anti on equi-keys): with how='right'/'full' every UNMATCHED
    small-side row would survive once per salt replica — buckets-fold
    duplicated output — so those are rejected rather than silently wrong
    (ADVICE r2). For right/full skew, swap the sides or fall back to AQE
    skew-join.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}) would duplicate unmatched small-side "
            f"rows once per salt bucket; only big-side-preserving joins are "
            f"supported: {sorted(allowed)}"
        )
    salted_big = with_salt(big, buckets=buckets)
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = salted_big.join(replicated, [*on, "__salt"], how)
    return out.drop("__salt")


def zorder_key(x, y, *, bits: int = 8):
    """Morton (Z-order) interleave of two bucketized dimensions — the
    multi-dimensional data-layout key: sorting/partitioning files by this
    key clusters rows so per-file min/max statistics on BOTH columns stay
    tight, and scans filtered on either dimension skip most files
    (Delta/Iceberg OPTIMIZE ZORDER semantics, expressed as plain integer
    arithmetic — no engine extension needed).

    `x`, `y` must already be integer bucket ids in [0, 2^bits); the
    result interleaves x into the even bit positions and y into the odd
    ones. Pure row-local codegen'd bit math.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("bigint")
    for b in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("bigint"), b).bitwiseAND(F.lit(1)), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("bigint"), b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def zorder_key_sql(x: str, y: str, *, bits: int = 8) -> str:
    """DuckDB/ANSI twin of zorder_key — textually generated from the same
    bit layout so both engines compute the identical key."""
    terms = []
    for b in range(bits):
        terms.append(f"(((CAST({x} AS BIGINT) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((CAST({y} AS BIGINT) >> {b}) & 1) << {2 * b + 1})")
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
