"""Registry-wide single-task-stage audit (the AQE serialization class).

AQE coalesces shuffle partitions by BYTES, so a stage whose rows are tiny
but whose per-row work is expensive (pair expansion, levenshtein, md5
trees) can silently collapse to ONE task — invisible to the static plan
gates (the partitioning is decided at runtime) and invisible to best-of-N
walls unless you already suspect the query. r10 found q_simhash_pairs'
|bucket|^2 pair explode running in a single 3-second task exactly this
way (and q_entity_match / q_bootstrap_ci hit the same class in r7/r8).

This script runs every registered query twice through bench.run_query (a
warm run, then the audited run) at the given sf. bench.stage_stats reads
the audited run's stages, the ones its job group ran (construction-time
jobs included), one status-API call per stage. Any stage that ran with
EXACTLY ONE task for longer than --min-sec is flagged. One-task stages are
legitimate for the documented bounded scalar passes (1-row aggregates,
collect-limit finalizers) — those finish in milliseconds and sit under
the threshold; anything slower is either a genuine serialization bug or a
bounded pass that outgrew its bound, and both deserve eyes.

Usage: python scripts/serialization_audit.py [--sf-dir DIR] [--min-sec 0.4]
       [--only q_a,q_b]
Prints one JSON line: {"flagged": {query: [{stage, task_sec}]}, ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from crypto_trading_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=bench.data_dir())
    ap.add_argument("--min-sec", type=float, default=0.4)
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    spark = get_spark(app_name="ctdp-serialization-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # The audit times the SECOND (warm) execution of each plan; with
    # exchange/subquery reuse on, Spark can skip re-executing heavy
    # shuffle stages in that run, under-reporting genuinely serialized
    # one-task stages (r10 ADVICE false-negative). Reuse is a per-plan
    # optimization within one execution, but cached shuffle outputs from
    # run 1 can also be picked up when the identical exchange replans —
    # disable both for the audit session so every stage re-executes and
    # shows up in the stage list with real task timings.
    spark.conf.set("spark.sql.exchange.reuse", "false")
    spark.conf.set("spark.sql.execution.reuseSubquery", "false")
    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else list(REGISTRY)
    )
    flagged: dict[str, list[dict]] = {}
    errors: dict[str, str] = {}
    t0 = time.perf_counter()
    for name in names:
        fn = REGISTRY[name].fn
        bench.run_query(spark, fn, args.sf_dir, 1)
        run = bench.run_query(spark, fn, args.sf_dir, 1)
        if "error" in run:
            errors[name] = run["error"]
            continue
        # executor_run_sec is the stage's total task time; with one task it
        # IS that task's duration.
        hits = [
            {"stage": sid, "task_sec": st["executor_run_sec"]}
            for sid, st in bench.stage_stats(spark, run["stages"]).items()
            if st["tasks"] == 1 and st["executor_run_sec"] >= args.min_sec
        ]
        if hits:
            flagged[name] = hits
    line = json.dumps(
        {
            "flagged": flagged,
            "n_queries": len(names),
            "n_flagged": len(flagged),
            "min_sec": args.min_sec,
            "errors": errors,
            "wall_sec": round(time.perf_counter() - t0, 1),
        }
    )
    print(line)


if __name__ == "__main__":
    main()
