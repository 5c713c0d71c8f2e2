"""Tests for bench.py's harness helpers: the query runner and stage reader
every harness times through (on the session `spark` fixture), the
scale-factor parse, the A/B self-adjudication lookups (r12 verdict #3) and
the records scripts/ab.py writes for them, the one-string SQL literal
renderer (r12 verdict #7), and the scripts' importability and CLIs."""

from __future__ import annotations

import importlib.util
import json
import os
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
    # Not exactly sf<number>: no scale factor, so no previous round matches.
    assert bench.scale_factor("/data/sf0.1_x10") == -1.0
    assert bench.scale_factor("/home/sfuser/data") == -1.0


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


def _write(dirpath, name, rec):
    with open(dirpath / name, "w") as f:
        json.dump(rec, f)


def test_ab_adjudication_reads_both_record_shapes(tmp_path):
    import bench

    # Old shape: historical tree-name keys (r9), queries_best per label.
    _write(
        tmp_path,
        "SCALE_AB_OLD.json",
        {
            "r9_sha": "abc1234",
            "head": {"queries_best": {"q_x": 1.0}},
            "r9": {"queries_best": {"q_x": 2.0}},
        },
    )
    got = bench._ab_adjudication("q_x", str(tmp_path), "deadbee")
    assert got == {
        "file": "SCALE_AB_OLD.json",
        "head_best_sec": 1.0,
        "baseline_best_sec": 2.0,
        "baseline_sha": "abc1234",
        "ab_is_current_head": None,  # old record has no head_sha
    }
    # No coverage for an unknown query -> None (caller writes the
    # explicit "unadjudicated" marker).
    assert bench._ab_adjudication("q_missing", str(tmp_path), None) is None


def test_ab_adjudication_prefers_worst_deltas_and_head_sha(tmp_path):
    import bench

    _write(
        tmp_path,
        "SCALE_AB_SWEEPY.json",
        {
            "baseline_sha": "96e2d8e",
            "head_sha": "feedf00",
            "head": {"walls": [1]},
            "baseline": {"walls": [2]},
            "head_over_baseline_pct_shared": 0.5,
            "shared_n": 10,
            "worst_deltas": [
                {"q": "q_y", "head": 3.0, "baseline": 4.0, "delta": -1.0}
            ],
        },
    )
    got = bench._ab_adjudication("q_y", str(tmp_path), "feedf00")
    assert got["head_best_sec"] == 3.0
    assert got["baseline_best_sec"] == 4.0
    assert got["ab_is_current_head"] is True
    sweep = bench._sweep_ab_summary(str(tmp_path))
    assert sweep == {
        "file": "SCALE_AB_SWEEPY.json",
        "head_over_baseline_pct_shared": 0.5,
        "shared_n": 10,
        "baseline_sha": "96e2d8e",
    }


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


def test_ab_record_feeds_adjudication_and_sweep_summary(tmp_path):
    import bench

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

    _write(tmp_path, "SCALE_AB_HEADLINE_62ee5a9.json", headline)
    assert bench._ab_adjudication("q_x", str(tmp_path), "feedf00") == {
        "file": "SCALE_AB_HEADLINE_62ee5a9.json",
        "head_best_sec": 1.0,
        "baseline_best_sec": 2.0,
        "baseline_sha": "62ee5a9",
        "ab_is_current_head": True,
    }
    # A headline record is never taken for the sweep adjudication ...
    assert bench._sweep_ab_summary(str(tmp_path)) is None
    # ... even when it is newer than the sweep record.
    _write(tmp_path, "SCALE_AB_SWEEP_62ee5a9.json", ab.ab_record(slots, set="sweep", **meta))
    os.utime(tmp_path / "SCALE_AB_SWEEP_62ee5a9.json", (1, 1))
    assert bench._sweep_ab_summary(str(tmp_path)) == {
        "file": "SCALE_AB_SWEEP_62ee5a9.json",
        "head_over_baseline_pct_shared": -50.0,
        "shared_n": 1,
        "baseline_sha": "62ee5a9",
    }
