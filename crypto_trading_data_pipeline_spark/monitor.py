"""Data-freshness monitoring (reference entry point 3: the Airflow
SQLCheckOperator at reference airflow/dags/crypto_pipeline_monitor_dag.py:22-28
fails the pipeline when no serving row is newer than NOW() - 3 minutes).

Ours is sink-agnostic: the check runs on any DataFrame (JDBC-read serving
table, parquet sink, memory table). The predicate is pushed down — on a
JDBC source it ships to the database as WHERE, on parquet it prunes row
groups — so the check reads almost nothing, exactly like the reference's
index-backed COUNT (reference postgres/init/init.sql:20).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The serving table's timestamp and the staleness horizon, as in the
#: reference's check (crypto_pipeline_monitor_dag.py:26).
_TS_COL = "window_start"
_MAX_STALENESS = "3 minutes"


def fresh_row_count(df: DataFrame, *, now: datetime | None = None) -> int:
    """Rows with ``window_start`` within 3 minutes of ``now``.

    ``now`` defaults to the cluster clock (current_timestamp); pass a fixed
    datetime for deterministic tests/backfills.
    """
    anchor: Column
    if now is None:
        anchor = F.current_timestamp()
    else:
        # Aware datetimes must be normalized to UTC before the cast: the
        # string literal is reinterpreted in the session timezone (pinned
        # UTC), so a non-UTC tzinfo would silently shift the cutoff by the
        # whole UTC offset. Sub-second precision is kept (isoformat, not a
        # seconds-only strftime).
        if now.tzinfo is not None:
            now = now.astimezone(timezone.utc).replace(tzinfo=None)
        anchor = F.lit(now.isoformat(sep=" ", timespec="microseconds")).cast("timestamp")
    cutoff = anchor - F.expr(f"INTERVAL {_MAX_STALENESS}")
    return df.filter(F.col(_TS_COL) >= cutoff).count()


def freshness_ok(df: DataFrame, *, now: datetime | None = None) -> bool:
    """True when at least one row is fresh — the reference's check
    semantics (first cell of the COUNT must be truthy)."""
    return fresh_row_count(df, now=now) > 0
