"""Interleaved same-box A/B: a committed baseline tree against this checkout.

Usage:
  python scripts/ab.py <baseline_sha> <set> [--runs N] [--out FILE]

<set> selects what both trees run:
  headline   bench.py's HEADLINE queries
  sweep      every registered query not in HEADLINE
  stream     bench.py's bench_streaming drain (itself best-of-3 drains)
  q_a,q_b    a comma-separated query list; each slot also writes every
             query's explain("formatted") plan, untimed, after timing

Walls on a shared box drift ±15-20% on identical code, so a code-vs-host
question is settled by this experiment, never by one bench window. The
baseline commit is extracted into .worktrees/ab_<sha> and the two trees run
in the slot pattern head/baseline/baseline/head/head/baseline, a fresh JVM
per slot, so drift in either direction lands on both. Each slot imports its
own tree's engine package but runs THIS checkout's bench.py harness
(warm_up, run_query, bench_streaming, _calibration_sec), so the trees
differ in engine code only. bench.run_query times each query as construct
(the registry function building the DataFrame) plus action (the noop
write) and keeps its fastest of --runs runs; a tree keeps its fastest
across its slots.

The record (default SCALE_AB_<SET>_<sha>.json at the repo root, where
bench.py's adjudication lookups read it) carries `set`, per-tree
queries_best, the construct/action split of each best run, per-slot
calib_sec, and over the queries both trees ran: best totals, worst_deltas
and head_over_baseline_pct_shared (positive = head slower). Slot outputs
and plans go to .worktrees/ab_out/<record name>/. The data dir is
$SPARK_GRAFT_SF_DIR, as for bench.py.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATTERN = ("head", "baseline", "baseline", "head", "head", "baseline")
NAMED_SETS = ("headline", "sweep", "stream")
#: The stream set's one timed unit: bench_streaming's best drain.
STREAM_DRAIN = "streaming_drain"
#: First argv word of a slot process; internal, not a user option.
_CHILD = "--child"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def checkout(sha: str) -> str:
    """The commit's files under .worktrees/ab_<sha>, extracted on first use."""
    tree = os.path.join(REPO, ".worktrees", f"ab_{sha}")
    if not os.path.isdir(tree):
        part = tree + ".part"
        os.makedirs(part, exist_ok=True)
        archive = subprocess.run(
            ["git", "archive", sha], cwd=REPO, capture_output=True, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", part], input=archive, check=True)
        os.rename(part, tree)
    return tree


def ab_record(slots: list[tuple[str, dict]], **meta) -> dict:
    """Reduce (label, slot record) pairs to one A/B record: per tree, each
    query's fastest run across its slots; totals and deltas over the
    queries both trees ran, so a query only one tree has cannot skew them."""
    rec: dict = {**meta, "pattern": [label for label, _ in slots]}
    best: dict[str, dict[str, dict]] = {}
    for label in ("head", "baseline"):
        mine = [r for lbl, r in slots if lbl == label]
        runs: dict[str, dict] = {}
        for r in mine:
            for q, run in r["queries"].items():
                if q not in runs or run["total"] < runs[q]["total"]:
                    runs[q] = run
        best[label] = runs
        rec[label] = {
            "calibs": [r["calib_sec"] for r in mine],
            "queries_best": {q: run["total"] for q, run in runs.items()},
            "best_runs": runs,
            "errors": {q: e for r in mine for q, e in r["errors"].items()},
        }
    head, base = best["head"], best["baseline"]
    shared = sorted(set(head) & set(base))
    rec["shared_n"] = len(shared)
    rec["unshared"] = sorted(set(head) ^ set(base))
    for label in ("head", "baseline"):
        rec[label]["best_total"] = round(sum(best[label][q]["total"] for q in shared), 3)
    h, b = rec["head"]["best_total"], rec["baseline"]["best_total"]
    rec["head_over_baseline_pct_shared"] = round((h - b) / b * 100, 2) if b else None
    delta = {q: round(head[q]["total"] - base[q]["total"], 3) for q in shared}
    rec["worst_deltas"] = [
        {"q": q, "head": head[q]["total"], "baseline": base[q]["total"], "delta": delta[q]}
        for q in sorted(shared, key=lambda q: -delta[q])[:15]
    ]
    return rec


def child(tree: str, out: str, set_name: str, runs: str) -> None:
    """One slot: time `set_name` on `tree`'s engine with this checkout's
    bench.py harness, and write the slot record to `out`."""
    sys.path.insert(0, tree)
    os.chdir(tree)
    # The engine must come from `tree` before bench.py is loaded: bench.py's
    # own imports then bind to this already-imported package.
    from crypto_trading_data_pipeline_spark import queries
    from crypto_trading_data_pipeline_spark.session import get_spark

    if not os.path.abspath(queries.__file__).startswith(tree + os.sep):
        raise RuntimeError(f"engine imported from {queries.__file__}, not {tree}")
    spec = importlib.util.spec_from_file_location("ab_harness", os.path.join(REPO, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    registry = queries.REGISTRY

    if set_name == "headline":
        names = [n for n in bench.HEADLINE if n in registry]
    elif set_name == "sweep":
        names = [n for n in registry if n not in set(bench.HEADLINE)]
    elif set_name == "stream":
        names = []
    else:
        names = set_name.split(",")
    plan_dir = None if set_name in NAMED_SETS else os.path.splitext(out)[0] + "_plans"

    sf_dir = bench.data_dir()
    spark = get_spark(app_name="ctdp-ab")
    spark.sparkContext.setLogLevel("WARN")
    bench.warm_up(spark, sf_dir, next((n for n in names if n in registry), None))

    timed: dict[str, dict] = {}
    errors: dict[str, str] = {}
    if set_name == "stream":
        try:
            stats = bench.bench_streaming(spark, sf_dir)
            timed[STREAM_DRAIN] = {
                "total": stats["streaming_wall_sec"],
                "rows_per_sec": stats["streaming_rows_per_sec"],
            }
        except Exception as exc:  # noqa: BLE001 — the record shows the failure
            errors[STREAM_DRAIN] = bench.error_line(exc)
    for name in names:
        if name not in registry:
            errors[name] = "not registered in this tree"
            continue
        fn = registry[name].fn
        run = bench.run_query(spark, fn, sf_dir, int(runs))
        if "error" in run:
            errors[name] = run["error"]
            continue
        timed[name] = {k: run[k] for k in ("total", "construct", "action")}
        if not plan_dir:
            continue
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain(mode="formatted")
        except Exception as exc:  # noqa: BLE001 — record and keep measuring
            errors[name] = bench.error_line(exc)
            continue
        os.makedirs(plan_dir, exist_ok=True)
        with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())

    record = {
        "tree": tree,
        "calib_sec": bench._calibration_sec(spark),
        "queries": timed,
        "errors": errors,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Interleaved fresh-JVM A/B of a baseline commit against this checkout."
    )
    ap.add_argument("baseline_sha", help="commit to compare this checkout against")
    ap.add_argument("set", help="headline, sweep, stream, or a comma-separated query list")
    ap.add_argument(
        "--runs", type=int, default=3,
        help="timed runs per query per slot, fastest kept (default 3; "
        "the stream drain is bench_streaming's own best-of-3)",
    )
    ap.add_argument(
        "--out", help="record path under the repo root (default SCALE_AB_<SET>_<sha>.json)"
    )
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    try:
        base = _git("rev-parse", "--short", f"{args.baseline_sha}^{{commit}}")
    except subprocess.CalledProcessError:
        ap.error(f"not a commit: {args.baseline_sha}")
    kind = args.set if args.set in NAMED_SETS else "queries"
    out = os.path.join(REPO, args.out or f"SCALE_AB_{kind.upper()}_{base}.json")
    slot_dir = os.path.join(
        REPO, ".worktrees", "ab_out", os.path.splitext(os.path.basename(out))[0]
    )
    os.makedirs(slot_dir, exist_ok=True)
    head_sha = _git("rev-parse", "--short", "HEAD") + (
        "-dirty" if _git("status", "--porcelain") else ""
    )
    trees = {"head": REPO, "baseline": checkout(base)}
    # Each slot must import its own tree's package, never one on PYTHONPATH.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    slots: list[tuple[str, dict]] = []
    for i, label in enumerate(PATTERN):
        path = os.path.join(slot_dir, f"slot{i}_{label}.json")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), _CHILD,
             trees[label], path, args.set, str(args.runs)],
            env=env, check=True,
        )
        with open(path) as f:
            rec = json.load(f)
        slots.append((label, rec))
        total = sum(run["total"] for run in rec["queries"].values())
        print(
            f"[ab] slot {i} {label}: total={total:.3f} n_ok={len(rec['queries'])} "
            f"n_err={len(rec['errors'])} calib={rec['calib_sec']}",
            flush=True,
        )

    record = ab_record(
        slots, set=args.set, baseline_sha=base, head_sha=head_sha, runs_per_slot=args.runs
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(
        f"head={record['head']['best_total']} baseline={record['baseline']['best_total']} "
        f"over {record['shared_n']} shared: "
        f"{record['head_over_baseline_pct_shared']}% -> {os.path.relpath(out, REPO)}"
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == _CHILD:
        child(*sys.argv[2:])
    else:
        main()
