"""Tests for the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import check_name, check_unit, frame_digest, geomean, median, summary, tail  # noqa: E402
from stream import (  # noqa: E402
    DELAY_MS,
    T0_MS,
    WINDOW_MS,
    fresh_counts,
    make_feed,
    replay,
)

MIN = WINDOW_MS


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90.0, 100)  # 91..100 lie beyond it
    assert tail(list(range(20, 0, -1))) == (10, 50.0, 20)
    assert tail(list(range(11))) == (0, 100.0 / 11, 11)
    with pytest.raises(ValueError):
        tail(list(range(10)))


def test_summary_reports_a_tail_only_at_the_90th_percentile_or_above():
    none = {"n": 3, "p50": 2.0, "tail": None, "tail_pct": None}
    assert summary([3.0, 1.0, 2.0]) == none
    # 16 or 99 samples: the ten-beyond rule lands below p90, so no tail.
    assert summary(list(range(16)))["tail"] is None
    assert summary(list(range(99)))["tail"] is None
    for n in (100, 137, 1000):
        s = summary(list(range(n)))
        assert s["tail_pct"] >= 90.0 and s["tail"] > s["p50"]
    assert median([4, 1, 3, 2]) == 2.5


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def _trade(i, sym, t):
    return {"trade_id": i, "symbol": sym, "price": "1.00000000",
            "quantity": "1.00000000", "trade_time": t, "is_buyer_maker": False}


def test_replay_drops_whole_groups_behind_the_watermark():
    batches = [
        [_trade(1, "A", T0_MS + 10 * MIN + 5)],
        [_trade(2, "A", T0_MS + 20 * MIN + 5)],
        # Watermark is now 20m5ms - 2m: the 00:05 and 00:06 windows end at or
        # before it (two late groups, three late rows); 00:19 is on time.
        [_trade(3, "A", T0_MS + 5 * MIN + 1), _trade(4, "A", T0_MS + 5 * MIN + 2),
         _trade(5, "B", T0_MS + 6 * MIN), _trade(6, "A", T0_MS + 19 * MIN)],
    ]
    kept, dropped = replay(batches)
    assert dropped == [0, 0, 2]
    assert [[r["trade_id"] for r in b] for b in kept] == [[1], [2], [6]]


def test_replay_boundary_is_window_end_at_or_before_watermark():
    wm_base = T0_MS + 10 * MIN  # max event time of batch 0
    batches = [
        [_trade(1, "A", wm_base)],
        # Window [6m, 7m) ends at 7m; the watermark is 10m - 2m = 8m: late.
        # Window [7m, 8m) ends at 8m == watermark: late. [8m, 9m): on time.
        [_trade(2, "A", T0_MS + 6 * MIN), _trade(3, "A", T0_MS + 7 * MIN + 59_999),
         _trade(4, "A", T0_MS + 8 * MIN)],
    ]
    kept, dropped = replay(batches, delay_ms=DELAY_MS)
    assert dropped == [0, 2]
    assert [r["trade_id"] for r in kept[1]] == [4]


def test_replay_first_batch_has_no_watermark():
    kept, dropped = replay([[_trade(1, "A", T0_MS), _trade(2, "A", T0_MS - 60 * MIN)]])
    assert dropped == [0] and len(kept[0]) == 2


def test_fresh_counts_follow_the_staleness_horizon():
    kept = [[_trade(1, "A", T0_MS)], [_trade(2, "B", T0_MS + 5 * MIN)]]
    fresh, rows = fresh_counts(kept, [T0_MS + MIN, T0_MS + 6 * MIN])
    assert fresh == [1, 1]  # A's window has aged out by the second read
    assert rows == [1, 2]


def test_feed_is_seeded_with_unique_symbol_times_and_late_share():
    a, b = make_feed(7, 6), make_feed(7, 6)
    assert a == b and make_feed(8, 6) != a
    times = [(r["symbol"], r["trade_time"]) for batch in a for r in batch]
    assert len(times) == len(set(times))
    _kept, dropped = replay(a)
    assert sum(dropped) > 0


def test_metric_names_and_units_charset():
    for ok in ("setup_s", "streaming.sinks.upsert_ms_p50", "io.read_table_ms", "9x", "a-b"):
        assert check_name(ok) == ok
    for bad in ("", "_x", "a b", "a/b", "x" * 65, "latency(ms)"):
        with pytest.raises(ValueError):
            check_name(bad)
    for ok in ("ms", "s", "1/s", "count", "%", "MB"):
        assert check_unit(ok) == ok
    with pytest.raises(ValueError):
        check_unit("per second")


def test_benchmark_json_names_are_valid_and_unique():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for kind in ("workloads", "end_to_end", "per_layer") for m in spec[kind]]
    assert len(names) == len(set(names))
    for n in names:
        check_name(n)
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= spec["end_to_end"][0].items()
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_frame_digest_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1.5, None, 0.1], "s": ["a", None, "c"], "i": [3, 1, 2]})
    b = a.iloc[[2, 0, 1]][["i", "s", "x"]].reset_index(drop=True)
    assert frame_digest(a) == frame_digest(b)
    c = a.copy()
    c.loc[0, "x"] = 1.25
    assert frame_digest(c) != frame_digest(a)
