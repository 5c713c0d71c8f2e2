"""Tests for bench.py's harness helpers: the query runner and stage reader
every harness times through (on the session `spark` fixture), the
scale-factor parse, the summary line's size budget, the records
scripts/ab.py writes, the one-string SQL literal renderer (r12 verdict #7),
and the scripts' importability and CLIs."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import re
import subprocess
import sys

import pytest

from crypto_trading_data_pipeline_spark.operators.scale import render_sql_literal


def test_render_sql_literal_shapes():
    assert render_sql_literal(3) == "3L"
    assert render_sql_literal(-7) == "-7L"
    assert render_sql_literal(True) == "true"
    assert render_sql_literal(1.5) == "CAST(1.5 AS DOUBLE)"
    assert render_sql_literal("o'k") == r"'o\'k'"
    assert render_sql_literal([1, 2]) == "array(1L,2L)"
    assert (
        render_sql_literal({"a": 1, "b": [0.5]})
        == "named_struct('a', 1L, 'b', array(CAST(0.5 AS DOUBLE)))"
    )


def test_render_sql_literal_float_repr_roundtrips():
    # The exactness contract: repr() is the shortest round-tripping
    # decimal, so the rendered token re-parses to the identical binary64.
    for x in (0.1, 1e-20, 123456.789012345, -2.5e300, 3.0000000000000004):
        tok = render_sql_literal(x)
        inner = tok[len("CAST(") : -len(" AS DOUBLE)")]
        assert float(inner) == x


def test_render_sql_literal_rejects_nonfinite_and_bad_names():
    with pytest.raises(ValueError):
        render_sql_literal(float("nan"))
    with pytest.raises(ValueError):
        render_sql_literal(float("inf"))
    with pytest.raises(ValueError):
        render_sql_literal({"not an ident!": 1})
    with pytest.raises(TypeError):
        render_sql_literal(object())


def test_scale_factor_reads_the_basename():
    import bench

    assert bench.scale_factor("/data/sf0.1") == 0.1
    assert bench.scale_factor("/data/sf0.001/") == 0.001
    # Not exactly sf<number>: no scale factor, so the record says -1.
    assert bench.scale_factor("/data/sf0.1_x10") == -1.0
    assert bench.scale_factor("/home/sfuser/data") == -1.0


def test_summary_line_fits_the_tail_budget():
    import bench
    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    # Every registered query timed, the longest names the slowest, and the
    # three longest-named queries failed with 200-character messages: the
    # worst case the consumer's ~2000-character stdout tail must hold.
    timings = {name: 100.0 + len(name) + 0.123 for name in REGISTRY}
    longest = sorted(REGISTRY, key=len)[-3:]
    record = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "total_is_complete": False,
        "queries": timings,
        "errors": {name: "AnalysisException: " + "x" * 181 for name in longest},
        "n_ok": len(timings),
        "n_err": 3,
        "sf": 0.1,
        "calib_sec": 1.234,
        "load_avg_before": [12.34, 10.5, 9.0],
        "load_avg_after": [13.45, 11.0, 9.5],
        "streaming_input_rows": 123456,
        "streaming_wall_sec": 12.345,
        "streaming_rows_per_sec": 12345.6,
        "streaming_candles_emitted": 12345,
        "full_registry_wall_sec": 1234.567,
        "full_registry_n_err": 3,
    }
    line = bench.summary_line(record)
    assert "\n" not in line and len(line) < 1000, len(line)
    got = json.loads(line)
    assert set(bench.SUMMARY_KEYS) <= set(got)
    assert got["load1"] == [12.34, 13.45]
    assert len(got["queries"]) == 12 and set(got["queries"]) <= set(REGISTRY)
    assert set(got["errors"]) == set(longest)

    failed_drain = {
        k: v for k, v in record.items() if not k.startswith("streaming_")
    } | {"streaming_err": "Py4JJavaError: " + "y" * 200}
    line = bench.summary_line(failed_drain)
    assert len(line) < 1000 and json.loads(line)["streaming_err"].startswith("Py4JJavaError")


def test_run_query_splits_runs_and_reads_construction_stages(spark):
    import bench

    construct_stages = []

    def checkpointed(spark, _sf_dir):
        # The eager checkpoint runs a job while the DataFrame is built.
        df = spark.range(2000, numPartitions=4).localCheckpoint(eager=True)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id"))
        construct_stages.append({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        return df.groupBy((df.id % 7).alias("k")).count()

    r = bench.run_query(spark, checkpointed, "unused", 2)
    assert "error" not in r
    assert abs(r["construct"] + r["action"] - r["total"]) <= 0.0015
    assert len(r["runs"]) == 2 and r["total"] == min(r["runs"])
    fastest = r["runs"].index(r["total"])
    assert construct_stages[fastest] and construct_stages[fastest] <= set(r["stages"])
    # The checkpoint job alone is not the whole run: the action's stages too.
    assert set(r["stages"]) > construct_stages[fastest]
    # The caller's job group is restored.
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None

    stats = bench.stage_stats(spark, r["stages"])
    assert set(stats) == set(r["stages"])
    assert all(isinstance(s["tasks"], int) for s in stats.values())
    assert sum(s["tasks"] for s in stats.values()) > 0


def test_run_query_records_an_empty_message_failure(spark):
    import bench

    def broken(_spark, _sf_dir):
        raise ValueError()

    r = bench.run_query(spark, broken, "unused", 3)
    assert r == {"error": "ValueError: "}


SCRIPTS = pathlib.Path(__file__).resolve().parents[1] / "scripts"


def _load_script(stem):
    spec = importlib.util.spec_from_file_location(f"_script_{stem}", SCRIPTS / f"{stem}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "stem", sorted(p.stem for p in SCRIPTS.glob("*.py") if p.stem != "__init__")
)
def test_script_imports(stem):
    # Importing runs every module-level import, so a script still pointing
    # at a deleted helper or a renamed bench.py name fails here.
    _load_script(stem)


@pytest.mark.parametrize(
    "stem", sorted(p.stem for p in SCRIPTS.glob("*.py") if "argparse" in p.read_text())
)
def test_script_help_exits_zero(stem):
    r = subprocess.run(
        [sys.executable, str(SCRIPTS / f"{stem}.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("usage:") and "--child" not in r.stdout
    flags = re.findall(r'add_argument\(\s*"(--[\w-]+)"', (SCRIPTS / f"{stem}.py").read_text())
    assert flags and all(f in r.stdout for f in flags)


def _slot(calib, **walls):
    return {
        "calib_sec": calib,
        "errors": {},
        "queries": {
            q: {"total": t, "construct": round(t / 4, 3), "action": round(t - t / 4, 3)}
            for q, t in walls.items()
        },
    }


def test_ab_record_keeps_best_runs_and_shared_deltas():
    ab = _load_script("ab")
    slots = [
        ("head", _slot(1.0, q_x=1.2, q_new=0.5)),
        ("baseline", _slot(1.1, q_x=2.4)),
        ("baseline", _slot(1.2, q_x=2.0)),
        ("head", _slot(1.3, q_x=1.0, q_new=0.4)),
        ("head", _slot(1.4, q_x=1.6, q_new=0.6)),
        ("baseline", _slot(1.5, q_x=2.2)),
    ]
    meta = {"baseline_sha": "62ee5a9", "head_sha": "feedf00", "runs_per_slot": 3}
    headline = ab.ab_record(slots, set="headline", **meta)
    # Per tree: each query's fastest run across its slots, split kept.
    assert headline["head"]["queries_best"] == {"q_x": 1.0, "q_new": 0.4}
    assert headline["head"]["best_runs"]["q_x"] == {
        "total": 1.0, "construct": 0.25, "action": 0.75,
    }
    assert headline["baseline"]["calibs"] == [1.1, 1.2, 1.5]
    # Totals and deltas cover only the queries both trees ran.
    assert headline["shared_n"] == 1 and headline["unshared"] == ["q_new"]
    assert headline["head"]["best_total"] == 1.0
    assert headline["baseline"]["best_total"] == 2.0
    assert headline["head_over_baseline_pct_shared"] == -50.0
    assert headline["worst_deltas"] == [
        {"q": "q_x", "head": 1.0, "baseline": 2.0, "delta": -1.0}
    ]
