"""SparkSession factory with scale-sane defaults.

The reference sets no Spark configs at all (only master URL + app name,
reference spark_processor/processor.py:34-38). We pin the configs that make
results reproducible (UTC session timezone) and the ones that matter at
100 TB (AQE, skew-join handling, pushdown, Arrow for any Pandas-UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs safe to apply at runtime (spark.conf.set) on an existing session.
RUNTIME_CONF = {
    # Reproducibility: all timestamp math in UTC (SURVEY.md §5 pitfall 4).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing + skew-join splitting.
    # At 100 TB this is the difference between a tuned job and a stuck one.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Scan efficiency: keep filters/column pruning at the parquet reader.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Arrow transfer for any toPandas / pandas_udf path (10-100x vs pickle).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Auto-broadcast small join sides (dims like region/nation/supplier).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Prefer shuffled-hash over sort-merge when a side is small enough to
    # hash per partition (r13, guide §3.1/§9): skips the per-side sorts.
    # The static flag only flips when the planner KNOWS a side satisfies
    # the size conditions; the AQE threshold converts SMJ->SHJ at runtime
    # when every post-shuffle partition of the build side is under 64 MB
    # (same bound as autoBroadcastJoinThreshold), which is what actually
    # fires behind our unknown-stats checkpointed RDDs. Risk note (r13
    # ADVICE #1): the per-partition 64 MB cap holds for the AQE path
    # ONLY — the static flip's canBuildLocalHashMap divides a TOTAL size
    # estimate by the partition count assuming uniform keys, so one
    # skewed key can overfill a build partition (SHJ has no sort-merge
    # fallback). Mitigations kept alongside: AQE skew-join splitting is
    # on above, and the static flag only fires where the planner can
    # prove the size conditions from known stats; revisit the flip if a
    # production profile shows hot-key joins on low-stats inputs. Interleaved
    # same-box A/B on a 12-query join-heavy set (3 runs per tree per
    # mode, alternating): every adjacent pair favored SHJ, best totals
    # 13.6 s vs 16.7 s (-18%) — OPTIMIZATION_r13.md.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 * 1024 * 1024),
    # Parquet TIMESTAMP(NANOS) (events.ts fixture) is rejected by Spark's
    # schema converter; read as epoch-nanos LONG and convert in read_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamp[us] with isAdjustedToUTC=false would otherwise infer
    # as TIMESTAMP_NTZ (Spark >= 3.4 default true), and TIMESTAMP-only
    # expressions (unix_micros/unix_millis, long casts) reject NTZ at plan
    # time. Session tz is pinned UTC above, so reading NTZ fixtures as
    # TIMESTAMP is value-identical and keeps the whole epoch-math surface
    # available. read_table additionally normalizes any NTZ column that
    # slips through (e.g. a session where this conf is static).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Split size for file scans. 128 MB (the default, pinned deliberately):
    # big enough that per-task overhead amortizes, small enough that a
    # task's working set fits executor memory alongside shuffle buffers.
    # Raise toward 256-512 MB only for narrow scan-heavy jobs on fat
    # executors; lower it when per-row compute dominates (see
    # scale.fan_out for the under-split case).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}

#: Configs that must be set before the JVM starts.
STARTUP_CONF = {
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # local[32] runs all 32 task threads inside ONE JVM whose default heap
    # is 1 GB — 32 MB/thread, an OOM waiting for the first wide stage (the
    # 10x scale probe found it). On a cluster this is per-executor memory
    # and spark-submit overrides it; locally size it to the thread count.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
}


#: Sessions this process has already configured. apply_runtime_conf is
#: called by EVERY read_table and each of its 11 conf.set calls is a
#: ~2 ms py4j round trip (~21 ms/call, FLOOR_PROBE.json) — across a
#: 164-query bench run that is tens of seconds of pure driver chatter.
#: The fast path is ONE round trip: if this wrapper was already
#:  configured AND the timezone canary still reads UTC, skip the
#: re-apply. A hostile mid-process `spark.conf.set("...timeZone", ...)`
#: flips the canary and forces the full re-apply (pinned by
#: test_runtime_conf_fast_path_repins_hostile_timezone in
#: tests/test_ops_hardening.py); a hostile flip
#: of one of the OTHER runtime confs between reads is not re-defended —
#: tests that probe conf-sensitive behavior already set their knobs
#: AFTER the last read_table call for exactly this reason.
import weakref

_CONF_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-safe configs to an existing session (e.g. one handed to
    us by a driver harness). Idempotent and cheap."""
    try:
        if spark in _CONF_APPLIED and (
            spark.conf.get("spark.sql.session.timeZone", None) == "UTC"
        ):
            return spark
    except Exception:
        pass  # canary probe failed: fall through to the full apply
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some configs may be marked static on exotic builds; the session
            # still works, just without that knob.
            pass
    try:
        _CONF_APPLIED.add(spark)
    except TypeError:
        pass  # non-weakref-able session stub (tests): always full-apply
    return spark


def get_spark(
    app_name: str = "crypto-trading-data-pipeline-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster session exists — production deploys pass their own master/conf
    via spark-submit, exactly like the reference's Airflow DAG does
    (reference airflow/dags/crypto_pipeline_submit_dag.py:34-44).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    for k, v in STARTUP_CONF.items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_conf(spark)
