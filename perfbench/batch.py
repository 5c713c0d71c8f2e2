"""batch_driver: one client running a fixed mix of registry queries, each
timed as construction (``REGISTRY[name].fn``) plus action (collecting the
result with ``toPandas``), in seed-shuffled order, on the read-only fixture
in ``perfbench/data``.

The mix is loop constructors that run jobs while the plan is built and
cheap reference-surface queries whose action is fixed job overhead, so its
wall is driver construction and per-job overhead: a driver-side change
moves it, while the stream workload, which calls no registry query, stays
flat.

Each query's DuckDB oracle is hashed once per input set (cached under
.bench_out). The first pass is each query's first run in the JVM, as a
driver meets it; right after each timed action an order-insensitive hash of
the frame it collected is compared with the oracle's, untimed.
Measured queries run under job groups and a py4j command counter, which
give the exact construction-time job and command counts in every record.
The traced run adds two passes in which every other query runs bare, so the
instrumentation's cost is measured against queries without it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import sparkctl
from metrics import DIGEST_VERSION, frame_digest, geomean, median, summary

MIX = [
    "q_bfs_reach", "q_logreg_train", "q_kcore", "q_bpe_merges", "q_label_propagation",
    "q_ann_ivfpq_probe3", "q_semdedup",
    "q_ohlcv_1min", "q_candle_gap_fill", "q_window_moving_avg",
]
#: Nominal wall of a measured pass on a 4-core box; passes per run are
#: fixed from --seconds with it, so a faster engine runs the same passes.
PASS_NOMINAL_S = 20.0


def dir_digest(d: str) -> str:
    h = hashlib.sha1()
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def oracle_digests(data_dir: str, names: list[str], cache_path: str) -> tuple[dict, float]:
    """DuckDB oracle digest per query on ``data_dir``, cached per (query,
    oracle text, input digest). Returns (digests, seconds spent computing)."""
    import duckdb

    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    inputs = dir_digest(data_dir)
    out, spent, con = {}, 0.0, None
    for name in names:
        sql = REGISTRY[name].oracle
        key = hashlib.sha1(f"{DIGEST_VERSION}\0{name}\0{sql}\0{inputs}".encode()).hexdigest()
        if key not in cache:
            t0 = time.perf_counter()
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                con.execute("SET memory_limit = '2GB'")
                for f in sorted(os.listdir(data_dir)):
                    if f.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(data_dir, f)}')")
            cache[key] = list(frame_digest(con.execute(sql).fetchdf()))
            spent += time.perf_counter() - t0
        out[name] = tuple(cache[key])
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out, spent


class BatchDriver:
    name = "batch_driver"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = ctx.base
        self.passes = max(1, round(ctx.seconds / PASS_NOMINAL_S))

    # -- inputs ---------------------------------------------------------
    def prep(self) -> dict:
        import pyarrow.parquet as pq

        cache = os.path.join(self.ctx.out, "oracle_cache.json")
        self.oracle, self.oracle_s = oracle_digests(self.data, MIX, cache)
        rows = {f[:-8]: pq.read_metadata(os.path.join(self.data, f)).num_rows
                for f in sorted(os.listdir(self.data)) if f.endswith(".parquet")}
        return {"rows": rows, "queries": len(MIX), "passes": self.passes,
                "oracle_compute_s": self.oracle_s}

    # -- engine ---------------------------------------------------------
    def warm(self, spark) -> None:
        """Set-up after session start: read every input table once, then run
        one join, aggregate, window and toPandas collect. Without it the engine's one-off start-up work lands on
        whichever query the seed puts first and moves its wall by seconds."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from crypto_trading_data_pipeline_spark.io import read_table

        for f in sorted(os.listdir(self.data)):
            if f.endswith(".parquet"):
                read_table(spark, self.data, f[:-8]).count()
        li, o = read_table(spark, self.data, "lineitem"), read_table(spark, self.data, "orders")
        df = (li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_custkey")
              .agg(F.sum("l_quantity").alias("q"), F.count("*").alias("n"))
              .withColumn("r", F.row_number().over(Window.orderBy(F.desc("q"), "o_custkey")))
              .where("r <= 10"))
        df.toPandas()

    def reset(self) -> None:
        pass

    def check_pass(self, spark) -> list[dict]:
        """Outputs are checked inside the first measured pass."""
        return []

    def _check(self, name: str, pdf) -> dict:
        """Compare a hash of the query's collected output with the oracle's.
        An exception or a mismatch is a failed check."""
        check = {"op": f"oracle:{name}"}
        try:
            got, want = frame_digest(pdf), self.oracle[name]
            check.update(ok=got == want, rows=got[1], want_rows=want[1])
        except Exception as exc:  # noqa: BLE001 — counted in error_ratio
            check.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
        return check

    def run_pass(self, spark, p: int, order: list[str], instrumented, tag: str,
                 check: bool = False) -> dict:
        """One pass over ``order``. ``instrumented(i)`` says whether the
        i-th query runs under job groups and the py4j counter. With
        ``check`` each output is checked right after its timed action; the
        check's time is left out of the pass wall."""
        from crypto_trading_data_pipeline_spark.queries import REGISTRY

        sc, counter, ops = spark.sparkContext, sparkctl.Py4jCounter(), []
        t_pass, untimed = time.perf_counter(), 0.0
        for i, name in enumerate(order):
            group = f"{tag}:{p}:{name}"
            inst = instrumented(i)
            op = {"pass": p, "query": name, "group": group, "instrumented": inst, "ok": True}
            try:
                if inst:
                    sc.setJobGroup(group + ":construct", name)
                    n0, t0 = counter.value, time.perf_counter()
                    with counter:
                        df = REGISTRY[name].fn(spark, self.data)
                    t1 = time.perf_counter()
                    sc.setJobGroup(group + ":action", name)
                    op["py4j"] = counter.value - n0
                else:
                    t0 = time.perf_counter()
                    df = REGISTRY[name].fn(spark, self.data)
                    t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
                op.update(construct_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
                          t0=t0, t1=t1, t2=t2)
                if check:
                    op["check"] = self._check(name, pdf)
                    untimed += time.perf_counter() - t2
            except Exception as exc:  # noqa: BLE001 — counted in error_ratio
                op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            if inst:
                sparkctl.clear_job_group(sc)
            ops.append(op)
        wall = time.perf_counter() - t_pass - untimed
        return {"pass": p, "t0": t_pass, "wall_s": wall, "untimed_s": untimed, "ops": ops}

    def measure(self, spark) -> None:
        rng = random.Random(self.ctx.seed)
        self.pass_log, self.extra_log = [], []
        for p in range(self.passes):
            order = list(MIX)
            rng.shuffle(order)
            self.pass_log.append(self.run_pass(spark, p, order, lambda i: True, "m", p == 0))
        self.ops = [o for pl in self.pass_log for o in pl["ops"]]
        if self.ctx.trace:
            # Two more passes in one order; each query runs bare in one and
            # instrumented in the other.
            order = list(MIX)
            rng.shuffle(order)
            for k in range(2):
                self.extra_log.append(self.run_pass(
                    spark, self.passes + k, order, lambda i, k=k: (i + k) % 2 == 0, "x"))

    # -- results --------------------------------------------------------
    def final_checks(self, spark) -> list[dict]:
        """One check per query run (it raised or not) plus the oracle
        checks made inside a measured pass."""
        checks = []
        for pl in self.pass_log + self.extra_log:
            for o in pl["ops"]:
                c = {"op": f"pass{o['pass']}:{o['query']}", "ok": o["ok"]}
                if "error" in o:
                    c["error"] = o["error"]
                checks.append(c)
                if "check" in o:
                    checks.append(o["check"])
        return checks

    def e2e(self) -> tuple[dict, dict]:
        good = [o for o in self.ops if o["ok"]]
        walls = [o["wall_s"] for o in good]
        s = summary(walls)
        measured = sum(pl["wall_s"] for pl in self.pass_log)
        metrics = {"op_latency_ms": geomean(walls) * 1e3}
        record = {"queries_per_s": len(self.ops) / measured,
                  "query_p50_s": s["p50"], "query_tail_s": s["tail"],
                  "query_tail_pct": s["tail_pct"], "query_samples": s["n"],
                  "mix_wall_s": median([pl["wall_s"] for pl in self.pass_log]),
                  "pass_walls_s": [pl["wall_s"] for pl in self.pass_log],
                  "check_s": sum(pl["untimed_s"] for pl in self.pass_log)}
        return metrics, record

    def counters(self, spark) -> dict:
        """Exact counts per query, from its instrumented measured runs:
        jobs run and py4j commands sent while it was constructed, and the
        jobs of its action."""
        by_group: dict[str, list[dict]] = {}
        for j in sparkctl.settled_jobs(spark):
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        self.by_group = by_group
        per_query = {n: {"construct_jobs": [], "construct_py4j": [], "action_jobs": [],
                         "walls_s": []} for n in MIX}
        for o in self.ops:
            if o["ok"]:
                q = per_query[o["query"]]
                q["construct_jobs"].append(len(by_group.get(o["group"] + ":construct", [])))
                q["action_jobs"].append(len(by_group.get(o["group"] + ":action", [])))
                q["construct_py4j"].append(o["py4j"])
                q["walls_s"].append(o["wall_s"])
        self.per_query = per_query
        return per_query

    def layers(self, spark) -> dict:
        stage_map = sparkctl.stages(spark)
        tr, good = self.ctx.tracer, [o for o in self.ops if o["ok"]]
        for pl in self.pass_log:
            pid = tr.add("pass", pl["t0"], pl["t0"] + pl["wall_s"] + pl["untimed_s"],
                         p=pl["pass"], untimed_s=pl["untimed_s"])
            for o in pl["ops"]:
                if o["ok"]:
                    qid = tr.add("query", o["t0"], o["t2"], pid, query=o["query"])
                    tr.add("queries.construct", o["t0"], o["t1"], qid, py4j=o["py4j"])
                    tr.add("queries.action", o["t1"], o["t2"], qid)
        # Executor readings from the status API, per query over its
        # measured runs, summed over the mix (one pass's worth).
        passes = len(self.pass_log)
        tot: dict[str, float] = {}
        slowest = None
        for o in good:
            st = [stage_map[s] for g in (":construct", ":action")
                  for j in self.by_group.get(o["group"] + g, [])
                  for s in j["stageIds"] if s in stage_map]
            for s in st:
                if slowest is None or s.get("executorRunTime", 0) > slowest.get("executorRunTime", 0):
                    slowest = s
            for k, v in {"stages": len(st), **sparkctl.stage_totals(st)}.items():
                tot[k] = tot.get(k, 0.0) + v / passes

        def per_mix(key):
            return sum(median(q[key]) for q in self.per_query.values() if q[key])

        spans_s = sum(o["wall_s"] for o in good)
        wall_s = sum(pl["wall_s"] for pl in self.pass_log)
        out = {
            "queries.construct_s": sum(o["construct_s"] for o in good) / passes,
            "queries.construct_jobs": per_mix("construct_jobs"),
            "queries.construct_py4j_calls": per_mix("construct_py4j"),
            "queries.action_s": sum(o["action_s"] for o in good) / passes,
            "queries.action_jobs": per_mix("action_jobs"),
            "queries.stages": tot.pop("stages", 0.0),
            "operators.task_skew": (sparkctl.task_skew(spark, slowest) if slowest else None) or 0.0,
            "trace.explained_pct": 100.0 * spans_s / wall_s,
            "trace.unexplained_ms": 1e3 * (wall_s - spans_s) / len(self.ops),
            "trace.overhead_pct": self._overhead_pct(),
        }
        out.update({f"operators.{k}": v for k, v in tot.items()})
        return out

    def _overhead_pct(self) -> float:
        """Median over queries of instrumented / bare wall - 1, in percent,
        from the traced run's two extra passes."""
        walls: dict[tuple[str, bool], float] = {}
        for pl in self.extra_log:
            for o in pl["ops"]:
                if o["ok"]:
                    walls[(o["query"], o["instrumented"])] = o["wall_s"]
        ratios = [walls[(q, True)] / walls[(q, False)]
                  for q, inst in walls if inst and (q, False) in walls]
        return 100.0 * (median(ratios) - 1.0) if ratios else 0.0
