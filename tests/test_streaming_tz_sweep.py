"""Hostile-session-timezone sweep across ALL pandas-state streaming twins.

The decay twin's UTC-day bug (r6: Arrow localizes a TIMESTAMP column to
spark.sql.session.timeZone before handing pandas its wall clock, shifting
events near UTC midnight onto the wrong day) is a PATTERN, not a one-off:
every applyInPandasWithState twin that keys or floors on time shares the
same exposure. Each twin defends with the utc_wall_ntz rebuild
(streaming/stateful.py); this module proves the defense holds for every
twin — holt, order_flow, scd2, attribution — by running the SAME pinned
instants (tz-aware UTC datetimes, so the stored instants cannot drift with
the session zone) under session tz UTC and America/New_York and asserting
the final streaming outputs are IDENTICAL. Inputs deliberately straddle
UTC midnight inside the NY offset window (00:00–05:00 UTC), where a
session-wall day floor lands on the previous day and a missing
normalization changes day keys, day rollovers, or run boundaries.

Output comparability: emitted day keys are STRINGS (holt/order_flow) and
scd2's TIMESTAMP bounds are compared as unix_micros — both renderings are
session-tz-independent, so any cross-tz difference is a real behavioral
divergence, not a display artifact.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest


def _utc(y, mo, d, h, mi=0, s=0):
    return datetime(y, mo, d, h, mi, s, tzinfo=timezone.utc)


def _drain(spark, tmpdir, batches, schema, make_stream, collect_row_key):
    """Write each batch as parquet, stream through the twin, fold the
    update-mode output into a last-write-wins dict keyed by
    collect_row_key; return the final table as plain comparable tuples."""
    indir = tmpdir / "in"
    indir.mkdir()
    latest: dict = {}

    def absorb(df, _eid):
        for r in df.collect():
            latest[collect_row_key(r)] = tuple(r)

    def land(i, rows):
        # Write outside the watched glob, then rename in: the rename is
        # atomic, so a background trigger never lists a half-committed
        # batch and splits it over two micro-batches (index_append's
        # n_new column depends on the batch boundaries).
        staged = tmpdir / "staging" / f"b{i}.parquet"
        spark.createDataFrame(rows, schema).write.parquet(str(staged))
        os.rename(staged, indir / f"b{i}.parquet")

    land(0, batches[0])
    stream = spark.readStream.schema(schema).parquet(str(indir / "*.parquet"))
    q = (
        make_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(absorb)
        .option("checkpointLocation", str(tmpdir / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, b in enumerate(batches[1:], start=1):
            land(i, b)
            q.processAllAvailable()
    finally:
        q.stop()
    return latest


def _run_twin(spark, tmpdir, twin: str):
    from crypto_trading_data_pipeline_spark.streaming import stateful as stf

    if twin == "holt":
        # Minute bars hugging UTC midnight: a session-wall day floor under
        # NY moves the 00:0x bars to the previous day and merges the
        # Mar-02 rollover back into Mar-01.
        schema = "symbol string, minute timestamp, close double"
        batches = [
            [
                ("BTC", _utc(2024, 3, 1, 0, 0), 100.00),
                ("BTC", _utc(2024, 3, 1, 0, 1), 101.50),
            ],
            [
                ("BTC", _utc(2024, 3, 1, 23, 59), 99.75),
                ("BTC", _utc(2024, 3, 2, 0, 1), 98.00),  # next UTC day
            ],
        ]
        return _drain(
            spark, tmpdir, batches, schema,
            stf.streaming_holt, lambda r: (r.symbol, r.day),
        )
    if twin == "order_flow":
        schema = (
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double"
        )
        batches = [
            [
                (1, _utc(2024, 3, 1, 23, 58), 1, "BTC", 100.0),
                (2, _utc(2024, 3, 1, 23, 59), 1, "BTC", 101.0),  # up: buy
            ],
            [
                # Day rollover INSIDE the NY offset window: UTC day flips
                # to Mar-02, NY wall stays Mar-01 -> no rollover at all
                # under a session-wall floor.
                (3, _utc(2024, 3, 2, 0, 1), 1, "BTC", 100.5),   # down: sell
                (4, _utc(2024, 3, 2, 0, 2), 1, "BTC", 100.5),   # equal: carry
            ],
        ]
        return _drain(
            spark, tmpdir, batches, schema,
            lambda s: stf.streaming_order_flow(s, key_col="event_type"),
            lambda r: (r.symbol, r.day),
        )
    if twin == "scd2":
        schema = "event_id long, ts timestamp, user_id long, event_type string"
        batches = [
            [
                (1, _utc(2024, 1, 1, 23, 0), 1, "view"),
                (2, _utc(2024, 1, 2, 1, 0), 1, "view"),
            ],
            [
                (3, _utc(2024, 1, 2, 2, 0), 1, "click"),  # closes the view run
                (4, _utc(2024, 1, 2, 3, 0), 2, "view"),
            ],
        ]
        latest = _drain(
            spark, tmpdir, batches, schema,
            # Interval bounds are TIMESTAMP_NTZ (UTC wall) — rendered as
            # strings they are session-tz-independent by construction,
            # and the EXPECTED rendering is asserted below.
            lambda s: stf.streaming_scd2(s).selectExpr(
                "user_id", "version", "event_type",
                "CAST(valid_from AS STRING) AS from_s",
                "CAST(valid_to AS STRING) AS to_s",
                "n_events", "is_current",
            ),
            lambda r: (r.user_id, r.version),
        )
        return latest
    if twin == "attribution":
        schema = "event_id long, ts timestamp, user_id long, event_type string"
        batches = [
            [
                (1, _utc(2024, 1, 1, 23, 30), 1, "click"),
                (2, _utc(2024, 1, 2, 0, 30), 1, "view"),
            ],
            [
                (3, _utc(2024, 1, 2, 1, 30), 1, "purchase"),
                (4, _utc(2024, 1, 2, 2, 0), 2, "view"),
            ],
        ]
        return _drain(
            spark, tmpdir, batches, schema,
            stf.streaming_attribution, lambda r: r.user_id,
        )
    if twin == "heavy_hitters":
        # No time column at all — the sweep proves the full drain path
        # (Arrow round-trip of the MG summary state) is tz-invariant, the
        # property the 4 time-keyed twins defend explicitly (r9 verdict
        # #8: every pandas-state twin rides the sweep, not just the
        # time-keyed ones).
        schema = "source string, tok string"
        batches = [
            [("web", "a"), ("web", "a"), ("web", "b"), ("api", "x")],
            [("web", "a"), ("api", "x"), ("api", "y")],
        ]
        return _drain(
            spark, tmpdir, batches, schema,
            lambda s: stf.streaming_heavy_hitters(s, m=2),
            lambda r: (r.source, r.tok),
        )
    if twin == "index_append":
        schema = "vec_id long, v array<double>"
        cents = [[1_000_000, 0, 0, 0], [0, 1_000_000, 0, 0]]
        batches = [
            [(1, [0.9, 0.1, 0.0, 0.0]), (2, [0.1, 1.1, 0.0, 0.0])],
            [(3, [1.1, 0.0, 0.1, 0.0]), (4, [0.95, 0.0, 0.0, 0.1])],
        ]
        return _drain(
            spark, tmpdir, batches, schema,
            lambda s: stf.streaming_index_append(s, centroids=cents),
            lambda r: r.cluster,
        )
    if twin == "index_rebalance":
        schema = "cluster long, n_total long"
        batches = [
            [(0, 10), (1, 10), (2, 10), (3, 10)],
            [(2, 100)],
        ]
        return _drain(
            spark, tmpdir, batches, schema,
            lambda s: stf.streaming_index_rebalance(s, k=4),
            lambda r: r.k_lists,
        )
    raise AssertionError(f"unknown twin {twin}")


@pytest.mark.parametrize(
    "twin",
    [
        "holt",
        "order_flow",
        "scd2",
        "attribution",
        "heavy_hitters",
        "index_append",
        "index_rebalance",
    ],
)
def test_stateful_twin_output_is_session_tz_invariant(spark, tmp_path, twin):
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    results = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            d = tmp_path / tz.replace("/", "_")
            d.mkdir()
            results[tz] = _run_twin(spark, d, twin)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert results["UTC"] == results["America/New_York"], twin
    assert results["UTC"], f"{twin}: drain produced no rows"
    if twin in ("holt", "order_flow"):
        # The scenario's whole point: the UTC-day rollover must exist.
        days = {k[1] for k in results["UTC"]}
        assert days == {"2024-03-01", "2024-03-02"}, days
    if twin == "scd2":
        # And the bounds must be the UTC wall, not a session rendering:
        # the view run opened at 23:00Z Jan 1 and closed at 02:00Z Jan 2.
        assert results["UTC"][(1, 1)][3] == "2024-01-01 23:00:00"
        assert results["UTC"][(1, 1)][4] == "2024-01-02 02:00:00"
    if twin == "heavy_hitters":
        # web saw a x3 of 4 items; the MG(2) lower bound must carry it.
        assert results["UTC"][("web", "a")] == ("web", "a", 3, 4)
    if twin == "index_append":
        # cluster 0: vec 1 in batch 0, vecs 3+4 in batch 1 -> (n_new=2,
        # n_total=3); cluster 1 last updated in batch 0 with vec 2.
        assert results["UTC"][0] == (0, 2, 3)
        assert results["UTC"][1] == (1, 1, 1)
