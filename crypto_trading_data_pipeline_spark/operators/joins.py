"""Join-family operators, including the as-of join Spark lacks natively.

The reference contains no joins at all (SURVEY.md §2.5); these are the X5
capability extensions. Everything is expressed with DataFrame ops so Catalyst
picks broadcast/sort-merge/shuffled-hash per statistics + AQE.

As-of join strategy (time-series point-in-time lookup): Spark has no ASOF
JOIN operator, and the naive inequality join (l.ts >= r.ts, pick max) is a
cross-product-per-key — quadratic and unusable at scale. We use the
union + keyed-window trick instead:

  1. tag left rows (1) and right rows (0), union by name;
  2. one shuffle: partition by the join key, sort by (ts, tag);
  3. ``last(right_value, ignorenulls=True)`` over rows UNBOUNDED PRECEDING..
     CURRENT ROW carries the most recent right-hand value forward;
  4. keep left rows.

Cost: ONE shuffle + per-partition sort — identical shape to a sort-merge
join, linear in input, no state blowup; survives 100 TB if the key space
does (salt hot keys upstream if a single key dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__asof_is_left"
_TS = "__asof_ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Point-in-time (as-of) left join.

    For each left row, attach ``value_cols`` from the right row with the
    largest ``right_ts`` <= ``left_ts`` (a backward as-of join; ties on the
    timestamp match, i.e. inclusive — same semantics as DuckDB/pandas ASOF)
    sharing the same key columns ``on``. Unmatched left rows keep NULLs.
    """
    carried = [f"__asof_{c}" for c in value_cols]
    l_tagged = left.withColumn(_TAG, F.lit(1)).withColumn(_TS, F.col(left_ts))
    for c, cc in zip(value_cols, carried):
        l_tagged = l_tagged.withColumn(cc, F.lit(None).cast(right.schema[c].dataType))
    r_tagged = right.select(
        *on,
        F.lit(0).alias(_TAG),
        F.col(right_ts).alias(_TS),
        *[F.col(c).alias(cc) for c, cc in zip(value_cols, carried)],
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    # Right rows sort before left rows at an equal timestamp => inclusive.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for c, cc in zip(value_cols, carried):
        filled = filled.withColumn(c + "_asof", F.last(F.col(cc), ignorenulls=True).over(w))
    return filled.filter(F.col(_TAG) == 1).drop(_TAG, _TS, *carried)
