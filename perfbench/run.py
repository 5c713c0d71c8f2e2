"""Repository benchmark: the streaming candle path and a driver-bound
registry query mix, measured end to end and, in a traced run, layer by
layer.

    python3 perfbench/run.py --workload stream_candles --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads and metric names live in
BENCHMARK.json at the checkout root; the last stdout line is the result
({"correct", "attempted", "failed", "metrics"}), the line before it the
full record (samples, exact counters, correctness checks, provenance).

Each run starts the engine on local[nproc] SETUPS times and reports the
median set-up time, then measures a fixed number of operations derived
from --seconds and checks their outputs against oracles. An operation is
one stream cycle (a trade file landing, the trigger that upserts its
candles, the freshness read) or one query (construction plus action). The
end-to-end metrics are the same on every workload:

    setup_s        median of the set-ups: session start, warm-up, and on
                   the stream the first trigger and freshness read
    op_latency_ms  geometric mean of the operation latencies: file landing
                   to processAllAvailable() returning, or construction
                   plus action of a query

The record carries the per-workload figures beside them (trades_per_s,
candle and serving-read medians, query_p50_s, queries_per_s, mix_wall_s,
tails when 100 or more samples allow one, error_ratio) and peak_rss_mb,
the peak resident memory of the driver JVM plus Python. That one is not
gated: the JVM's heap grows by GC timing, so it spreads by a third from run
to run of the same code. With --trace 1 a
run also records spans, status-API and streaming-progress readings and the
instrumentation overhead, repeats the stream at local[1], and reports the
per-layer metrics instead.

Scratch files go to .bench_work/ (removed at exit); oracle hashes and
span files to .bench_out/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import sparkctl  # noqa: E402
from metrics import Tracer, check_name, check_unit, loadavg, median  # noqa: E402

PACKAGE = "crypto_trading_data_pipeline_spark"
WORKLOADS = ("stream_candles", "batch_driver")
SETUPS = 3
LAYER_CALLS = 30


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for kind in ("end_to_end", "per_layer"):
        for m in spec[kind]:
            check_name(m["name"])
            check_unit(m["unit"])
    return spec


def provenance(root: str, n: int) -> dict:
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha1()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_sha": sha, "source_sha1": h.hexdigest(), "pyspark": pyspark.__version__,
            "python": sys.version.split()[0], "nproc": n, "local": f"local[{n}]"}


def make_workload(name: str, ctx):
    if name == "stream_candles":
        from stream import StreamCandles

        return StreamCandles(ctx)
    from batch import BatchDriver

    return BatchDriver(ctx)


def layer_call_timings(spark, ctx) -> dict:
    """Repeated warm calls into session.apply_runtime_conf and io.read_table."""
    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.session import apply_runtime_conf

    conf, read = [], []
    for _ in range(LAYER_CALLS):
        t0 = time.perf_counter()
        apply_runtime_conf(spark)
        t1 = time.perf_counter()
        read_table(spark, ctx.base, "lineitem")
        t2 = time.perf_counter()
        ctx.tracer.add("session.apply_runtime_conf", t0, t1)
        ctx.tracer.add("io.read_table", t1, t2, table="lineitem")
        conf.append((t1 - t0) * 1e3)
        read.append((t2 - t1) * 1e3)
    return {"session.apply_runtime_conf_ms": median(conf), "io.read_table_ms": median(read)}


def run(args, root: str, spec: dict) -> tuple[dict, dict]:
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(root, ".bench_work", f"{args.workload}-{run_id}")
    out = os.path.join(root, ".bench_out")
    n = sparkctl.pin_env(work)
    sys.path.insert(0, root)
    ctx = Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work, out=out,
              base=os.path.join(HERE, "data"), tracer=Tracer(run_id, bool(args.trace)))
    wl = make_workload(args.workload, ctx)
    spark = None
    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "run_id": run_id, "loadavg_before": loadavg()}
    try:
        t0 = time.perf_counter()
        rec["inputs"] = wl.prep()
        rec["bench_prep_s"] = time.perf_counter() - t0
        setup_s, get_spark_s = [], []
        for _ in range(SETUPS):
            if spark is not None:
                wl.reset()
                spark.stop()
            t0 = time.perf_counter()
            spark = sparkctl.start(f"local[{n}]")
            t1 = time.perf_counter()
            wl.warm(spark)
            setup_s.append(time.perf_counter() - t0)
            get_spark_s.append(t1 - t0)
        rec["setup_samples_s"] = setup_s
        t0 = time.perf_counter()
        checks = wl.check_pass(spark)
        rec["bench_check_s"] = time.perf_counter() - t0
        wl.measure(spark)
        checks += wl.final_checks(spark)
        rec["counters"] = wl.counters(spark)
        e2e, rec["figures"] = wl.e2e()
        rec["figures"]["peak_rss_mb"] = sparkctl.peak_rss_mb()
        metrics = {"setup_s": median(setup_s), **e2e}
        if args.trace:
            rec["end_to_end"] = metrics
            metrics = wl.layers(spark)
            metrics["session.get_spark_s"] = median(get_spark_s)
            if args.workload == "batch_driver":
                metrics.update(layer_call_timings(spark, ctx))
            else:
                wl.reset()
                spark.stop()
                spark = sparkctl.start("local[1]")
                one = wl.local1(spark)
                rec["local1"] = {k: one.pop(k) for k in list(one) if not k.startswith("cores.")}
                metrics.update(one)
        rec["loadavg_after"] = loadavg()
        rec["provenance"] = provenance(root, n)
    finally:
        try:
            wl.reset()
        finally:
            sparkctl.shutdown(spark)
            shutil.rmtree(work, ignore_errors=True)
    failed = [c for c in checks if not c["ok"]]
    rec["checks_failed"] = failed[:20]
    rec["error_ratio"] = len(failed) / len(checks)
    if args.trace:
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{args.workload}-{args.seed}-{run_id}.json")
        with open(path, "w") as f:
            json.dump(ctx.tracer.spans, f)
        rec["trace_file"] = os.path.relpath(path, root)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    extra = set(metrics) - set(units)
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    if not args.trace and set(units) - set(metrics):
        raise RuntimeError(f"end-to-end metrics not measured: {sorted(set(units) - set(metrics))}")
    # A layer the workload leaves idle reports 0 (e.g. the sink on batch).
    result = {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return rec, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from a repository checkout",
              file=sys.stderr)
        return 3
    spec = load_spec(root)
    try:
        rec, result = run(args, root, spec)
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    print(json.dumps({"record": rec}, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
