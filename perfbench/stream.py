"""stream_candles: the reference's runtime (trade JSON files -> parse ->
2-minute watermark -> 1-minute OHLCV -> keyed parquet upsert -> freshness
read), driven as a closed loop by one client, one cycle at a time.

A cycle lands one JSON-lines file of a fixed trade count in the directory
``file_json_stream`` reads, calls ``processAllAvailable()`` on the running
candle query, then counts fresh serving rows. The feed advances one
event-minute per cycle; a seeded share of trades arrives out of order
within the watermark, a smaller share beyond it.

Correctness is checked from outside the engine by replaying the watermark
over the same feed (``replay``): the final serving table must equal
``operators.candles.ohlcv`` over the on-time trades, each batch's
``numRowsDroppedByWatermark`` must match the replay's late groups, and each
freshness read must count the replay's fresh groups.

The measured cycles hand the sink to the engine bare. The traced run wraps
it in a timer, and ends with two short blocks resumed from the same
checkpoint, one bare and one wrapped, whose latencies give the overhead.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import itertools
import json
import os
import random
import time

import sparkctl
from metrics import frame_digest, geomean, median, summary

SYMBOLS = 300
TRADES_PER_CYCLE = 2000
ZIPF_S = 1.1
OUT_OF_ORDER = 0.05  # 1-2 minutes back: inside the 2-minute watermark
LATE = 0.01  # 4-5 minutes back: beyond it
WINDOW_MS = 60_000
DELAY_MS = 120_000
STALENESS_MS = 180_000
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
#: Nominal cycle wall on a 4-core box; the cycle count per run is fixed
#: from --seconds with it, so a faster engine runs the same cycles.
CYCLE_NOMINAL_S = 1.25
MIN_CYCLES = 8
#: Untimed cycles between set-up and measurement: latency keeps falling
#: over the first cycles while the JIT compiles the trigger's hot paths.
WARM_CYCLES = 2
#: Cycles per block of the traced run's bare-versus-wrapped comparison.
OVERHEAD_CYCLES = 3
LOCAL1_CYCLES = 4
READ_GROUP = "perfbench-read"


def _dec8(units: int) -> str:
    return f"{units // 10**8}.{units % 10**8:08d}"


def make_feed(seed: int, cycles: int, symbols: int = SYMBOLS,
              per_cycle: int = TRADES_PER_CYCLE) -> list[list[dict]]:
    """Seeded trade feed, one list per cycle. Symbol shares are Zipf-skewed;
    each symbol's event times are unique (open/close stay deterministic)."""
    rng = random.Random(seed)
    names = [f"S{i:03d}USDT" for i in range(symbols)]
    rng.shuffle(names)
    cum = list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(symbols)))
    price = {s: rng.randint(10**8, 10**11) for s in names}
    used: set[tuple[str, int]] = set()
    trade_id = 0
    feed = []
    for c in range(cycles):
        base = T0_MS + c * WINDOW_MS
        batch = []
        for _ in range(per_cycle):
            sym = names[bisect.bisect(cum, rng.random() * cum[-1])]
            u = rng.random()
            back = rng.randint(4, 5) if u < LATE else rng.randint(1, 2) if u < LATE + OUT_OF_ORDER else 0
            start = base - back * WINDOW_MS
            t = start + rng.randrange(WINDOW_MS)
            while (sym, t) in used:
                t = start + rng.randrange(WINDOW_MS)
            used.add((sym, t))
            price[sym] = max(10**6, price[sym] + int(rng.gauss(0.0, price[sym] * 1e-3)))
            trade_id += 1
            batch.append({
                "trade_id": trade_id, "symbol": sym, "price": _dec8(price[sym]),
                "quantity": _dec8(rng.randint(10**5, 5 * 10**8)), "trade_time": t,
                "is_buyer_maker": rng.random() < 0.5,
            })
        feed.append(batch)
    return feed


def replay(batches, delay_ms: int = DELAY_MS, window_ms: int = WINDOW_MS):
    """Spark's event-time watermark over micro-batches, outside the engine.

    Batch k runs with watermark max(event time of batches before k) - delay
    (0 before any data). A (symbol, window) group of batch k is dropped when
    its window end <= that watermark; the stateful operator sees one row per
    group, so the drop count is in groups. Returns (on-time rows per batch,
    dropped groups per batch)."""
    max_t = None
    kept, dropped = [], []
    for rows in batches:
        wm = 0 if max_t is None else max_t - delay_ms
        ok, late = [], set()
        for r in rows:
            start = r["trade_time"] - r["trade_time"] % window_ms
            if start + window_ms <= wm:
                late.add((r["symbol"], start))
            else:
                ok.append(r)
        kept.append(ok)
        dropped.append(len(late))
        if rows:
            top = max(r["trade_time"] for r in rows)
            max_t = top if max_t is None else max(max_t, top)
    return kept, dropped


def fresh_counts(kept, now_ms, staleness_ms: int = STALENESS_MS, window_ms: int = WINDOW_MS):
    """Serving groups with window_start >= now - staleness after each batch,
    plus the table's row count after each batch."""
    keys: set[tuple[str, int]] = set()
    fresh, rows = [], []
    for k, batch in enumerate(kept):
        keys.update((r["symbol"], r["trade_time"] - r["trade_time"] % window_ms) for r in batch)
        cutoff = now_ms[k] - staleness_ms
        fresh.append(sum(1 for _s, w in keys if w >= cutoff))
        rows.append(len(keys))
    return fresh, rows


def _now_ms(c: int) -> int:
    return T0_MS + (c + 1) * WINDOW_MS


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _epoch_ms(iso: str) -> float:
    t = _dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000.0


class StreamCandles:
    name = "stream_candles"

    def __init__(self, ctx):
        self.ctx = ctx
        self.cycles = max(MIN_CYCLES, round(ctx.seconds / CYCLE_NOMINAL_S))
        self.q = self.sink = None
        self.progress: list[dict] = []
        self.calls: list[tuple] = []
        self._cycle = 0
        self._setups = 0

    # -- inputs ---------------------------------------------------------
    def prep(self) -> dict:
        extra = 2 * OVERHEAD_CYCLES if self.ctx.trace else 0
        self.feed = make_feed(self.ctx.seed, WARM_CYCLES + self.cycles + 1 + extra)
        self.lines = ["\n".join(json.dumps(r, separators=(",", ":")) for r in b) + "\n"
                      for b in self.feed]
        self.kept, self.dropped = replay(self.feed)
        self.fresh, self.table_rows = fresh_counts(
            self.kept, [_now_ms(c) for c in range(len(self.feed))])
        return {"symbols": SYMBOLS, "trades_per_cycle": TRADES_PER_CYCLE,
                "cycles": self.cycles, "trades": sum(len(b) for b in self.feed),
                "late_groups": sum(self.dropped)}

    def _land(self, c: int) -> None:
        staged = os.path.join(self.dirs["staging"], f"trades-{c:05d}.json")
        with open(staged, "w") as f:
            f.write(self.lines[c])
        os.rename(staged, os.path.join(self.dirs["in"], f"trades-{c:05d}.json"))

    # -- engine ---------------------------------------------------------
    def _sink_call(self, batch, epoch_id):
        t0 = time.perf_counter()
        self.sink(batch, epoch_id)
        self.calls.append((epoch_id, t0, time.perf_counter(), self._cycle))

    def _start(self, spark, tag: str | None, wrapped: bool):
        """Start the candle query on a fresh directory set named ``tag``, or
        resume it from the current checkpoint and serving table (``None``).
        ``wrapped`` times each sink call."""
        from crypto_trading_data_pipeline_spark.sources import file_json_stream, parse_trades
        from crypto_trading_data_pipeline_spark.streaming.job import candle_stream, start_candle_query
        from crypto_trading_data_pipeline_spark.streaming.sinks import ParquetUpsertSink

        if tag is not None:
            root = os.path.join(self.ctx.work, "stream", tag)
            self.dirs = {k: os.path.join(root, k) for k in ("in", "staging", "ckpt")}
            for d in (self.dirs["in"], self.dirs["staging"]):
                os.makedirs(d)
            self.table = os.path.join(root, "serving")
            self.sink = ParquetUpsertSink(self.table, keys=["symbol", "window_start"],
                                          order_col="n_trades")
            self.progress, self.calls = [], []
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
        candles = candle_stream(parse_trades(file_json_stream(spark, self.dirs["in"])))
        self.q = start_candle_query(candles, sink=self._sink_call if wrapped else self.sink,
                                    checkpoint_dir=self.dirs["ckpt"], trigger_seconds=None)

    def _cycle_run(self, spark, c: int) -> dict:
        from crypto_trading_data_pipeline_spark.monitor import fresh_row_count

        self._cycle = c
        t_write = time.perf_counter()
        self._land(c)
        t_land, e_land = time.perf_counter(), time.time()
        self.q.processAllAvailable()
        t_done, e_done = time.perf_counter(), time.time()
        spark.sparkContext.setJobGroup(READ_GROUP, "freshness read")
        now = _dt.datetime.fromtimestamp(_now_ms(c) / 1000, _dt.timezone.utc)
        fresh = fresh_row_count(self.sink.read(spark), now=now)
        t_read = time.perf_counter()
        return {"c": c, "write_s": t_land - t_write, "latency_s": t_done - t_land,
                "read_s": t_read - t_done, "t_write": t_write, "t_land": t_land, "t_done": t_done,
                "t_read": t_read, "land_ms": e_land * 1e3, "done_ms": e_done * 1e3,
                "fresh": fresh, "ok": fresh == self.fresh[c]}

    def warm(self, spark) -> None:
        """Set-up after session start: start the query, run the first
        trigger (cycle 0) and the first freshness read."""
        self._setups += 1
        self._start(spark, f"setup{self._setups}", self.ctx.trace)
        self.first = self._cycle_run(spark, 0)

    def reset(self) -> None:
        if self.q is not None:
            self.progress += _progress(self.q)
            self.q.stop()
            self.q = None

    def check_pass(self, spark) -> list[dict]:
        return [{"op": "cycle0-fresh", "ok": self.first["ok"]}]

    def measure(self, spark) -> None:
        self.warm_ops = [self._cycle_run(spark, c) for c in range(1, WARM_CYCLES + 1)]
        self.before = (self.warm_ops or [self.first])[-1]
        self.ops = []
        t0 = time.perf_counter()
        for c in range(WARM_CYCLES + 1, WARM_CYCLES + self.cycles + 1):
            self.ops.append(self._cycle_run(spark, c))
        self.loop_wall_s = time.perf_counter() - t0
        self.blocks = {}
        if self.ctx.trace:
            # Resume the same query bare, then wrapped, for the overhead.
            c = WARM_CYCLES + self.cycles + 1
            for mode in ("bare", "wrapped"):
                self.reset()
                self._start(spark, None, mode == "wrapped")
                self.blocks[mode] = [self._cycle_run(spark, c + k) for k in range(OVERHEAD_CYCLES)]
                c += OVERHEAD_CYCLES

    # -- results --------------------------------------------------------
    def final_checks(self, spark) -> list[dict]:
        from crypto_trading_data_pipeline_spark.operators.candles import ohlcv
        from crypto_trading_data_pipeline_spark.sources import parse_trades

        self.reset()  # the query's work is done; keep its progress
        path = os.path.join(self.ctx.work, "stream", "on_time.json")
        with open(path, "w") as f:
            for batch in self.kept:
                f.writelines(json.dumps(r, separators=(",", ":")) + "\n" for r in batch)
        want = frame_digest(ohlcv(parse_trades(spark.read.text(path))).toPandas())
        got = frame_digest(self.sink.read(spark).toPandas())
        cycles = self.warm_ops + self.ops + [o for b in self.blocks.values() for o in b]
        checks = [{"op": f"cycle{o['c']}-fresh", "ok": o["ok"], "got": o["fresh"],
                   "want": self.fresh[o["c"]]} for o in cycles]
        checks.append({"op": "serving-table", "ok": got == want, "rows": got[1], "want_rows": want[1]})
        checks.append(self._drop_parity())
        return checks

    def _drop_parity(self) -> dict:
        """Watermark drops per data batch against the replay. The stateful
        operator's counters accumulate over every execution of a batch's
        plan (the sink runs it more than once), so each batch is checked
        as drops/late == updated/expected-updated, by cross-multiplying."""
        data = sorted((p for p in self.progress
                       if p.get("stateOperators") and p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])
        groups = [len({(r["symbol"], r["trade_time"] - r["trade_time"] % WINDOW_MS) for r in b})
                  for b in self.kept]
        bad = [k for k, p in enumerate(data)
               if p["stateOperators"][0]["numRowsDroppedByWatermark"] * groups[k]
               != self.dropped[k] * p["stateOperators"][0]["numRowsUpdated"]]
        got = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in data)
        updated = sum(p["stateOperators"][0]["numRowsUpdated"] for p in data)
        self.plan_executions = updated / sum(groups[:len(data)])
        return {"op": "watermark-drops", "ok": len(data) == len(self.kept) and not bad,
                "got": got, "late_groups": sum(self.dropped),
                "plan_executions_per_batch": self.plan_executions, "bad_batches": bad[:10]}

    def e2e(self) -> tuple[dict, dict]:
        lat = [o["latency_s"] * 1e3 for o in self.ops]
        reads = [o["read_s"] * 1e3 for o in self.ops]
        s = summary(lat)
        cycles_per_s = len(self.ops) / self.loop_wall_s
        metrics = {"op_latency_ms": geomean(lat)}
        record = {"candle_latency_p50_ms": s["p50"], "candle_latency_tail_ms": s["tail"],
                  "candle_latency_tail_pct": s["tail_pct"], "candle_latency_samples": s["n"],
                  "serving_read_p50_ms": median(reads),
                  "trades_per_s": cycles_per_s * TRADES_PER_CYCLE,
                  "latency_ms": lat, "read_ms": reads}
        return metrics, record

    def _per_cycle(self, items, epoch_ms_of) -> list[list]:
        """Bucket items into the measured cycles by timestamp: cycle i owns
        (previous cycle's done, cycle i's done]."""
        ends = [o["done_ms"] for o in self.ops]
        starts = [self.before["done_ms"]] + ends[:-1]
        per = [[] for _ in self.ops]
        for it in items:
            ts = epoch_ms_of(it)
            for i, (lo, hi) in enumerate(zip(starts, ends)):
                if lo <= ts < hi:
                    per[i].append(it)
                    break
        return per

    def counters(self, spark) -> dict:
        """Exact per-cycle counts: executed triggers and engine jobs (the
        freshness read's own jobs left out)."""
        executed = [p for p in self.progress if "addBatch" in p.get("durationMs", {})]
        self.per_trigger = self._per_cycle(executed, lambda p: _epoch_ms(p["timestamp"]))
        engine = [j for j in sparkctl.settled_jobs(spark) if j.get("jobGroup") != READ_GROUP]
        self.cycle_jobs = self._per_cycle(engine, lambda j: sparkctl.epoch_ms(j["submissionTime"]))
        return {"triggers_per_cycle": [len(t) for t in self.per_trigger],
                "jobs_per_cycle": [len(j) for j in self.cycle_jobs]}

    def layers(self, spark) -> dict:
        per = self.per_trigger
        data = [p for ts in per for p in ts if p["numInputRows"] > 0]
        empty = [p for ts in per for p in ts if p["numInputRows"] == 0]
        data_ids = {p["batchId"] for p in data}
        measured = {o["c"] for o in self.ops}
        ups = [(t1 - t0) * 1e3 for e, t0, t1, c in self.calls if c in measured and e in data_ids]
        empties = [(t1 - t0) * 1e3 for e, t0, t1, c in self.calls if c in measured and e not in data_ids]
        dec = max(1, len(ups) // 10)

        def dur(ps, key):
            vals = [p["durationMs"].get(key, 0) for p in ps]
            return median(vals) if vals else 0.0

        def st(p, key):
            return p["stateOperators"][0][key] if p.get("stateOperators") else 0

        last = (data + empty)[-1] if data or empty else {}
        updated = sum(st(p, "numRowsUpdated") for p in data + empty)
        written = sum(self.table_rows[o["c"]] for o in self.ops)
        files = [f for f in os.listdir(self.table) if f.endswith(".parquet")]
        import pyarrow.parquet as pq

        stage_map = sparkctl.stages(spark)
        cyc_stages = [stage_map[s] for js in self.cycle_jobs for j in js
                      for s in j["stageIds"] if s in stage_map]
        tot = sparkctl.stage_totals(cyc_stages)
        slowest = max(cyc_stages, key=lambda s: s.get("executorRunTime", 0), default=None)
        skew = sparkctl.task_skew(spark, slowest) if slowest else None
        out = {
            "streaming.sinks.upsert_ms_p50": median(ups) if ups else 0.0,
            "streaming.sinks.empty_call_ms": median(empties) if empties else 0.0,
            "streaming.sinks.upsert_growth": median(ups[-dec:]) / median(ups[:dec]) if ups else 0.0,
            "streaming.sinks.table_rows": sum(pq.read_metadata(os.path.join(self.table, f)).num_rows
                                              for f in files),
            "streaming.sinks.rows_written_per_row_updated": written / updated if updated else 0.0,
            "streaming.job.trigger_ms": dur(data, "triggerExecution"),
            "streaming.job.empty_trigger_ms": dur(empty, "triggerExecution"),
            "streaming.job.add_batch_ms": dur(data, "addBatch"),
            "streaming.job.query_planning_ms": dur(data, "queryPlanning"),
            "streaming.job.wal_commit_ms": dur(data, "walCommit"),
            "streaming.job.commit_offsets_ms": dur(data, "commitOffsets"),
            "streaming.job.triggers_per_cycle": median([len(t) for t in per]),
            "streaming.job.jobs_per_cycle": median([len(j) for j in self.cycle_jobs]),
            "sources.latest_offset_ms": dur(data, "latestOffset"),
            "sources.get_batch_ms": dur(data, "getBatch"),
            "sources.input_rows": median([p["numInputRows"] for p in data]) if data else 0,
            "operators.candles.state_rows": st(last, "numRowsTotal") if last else 0,
            "operators.candles.state_memory_bytes": st(last, "memoryUsedBytes") if last else 0,
            "operators.candles.rows_updated": updated,
            "operators.candles.rows_removed": sum(st(p, "numRowsRemoved") for p in data + empty),
            "operators.candles.rows_dropped_by_watermark": sum(
                st(p, "numRowsDroppedByWatermark") for p in data + empty),
            "operators.candles.state_commit_ms": median([st(p, "commitTimeMs") for p in data]) if data else 0.0,
            "operators.candles.plan_executions_per_batch": self.plan_executions,
            "monitor.fresh_row_count_ms": median([o["read_s"] * 1e3 for o in self.ops]),
            "monitor.serving_files": len(files),
            "operators.task_skew": skew or 0.0,
        }
        out.update({f"operators.{k}": v / len(self.ops) for k, v in tot.items()})
        tr = self.ctx.tracer
        for o in self.ops:
            cid = tr.add("cycle", o["t_write"], o["t_read"], c=o["c"])
            pid = tr.add("streaming.job.processAllAvailable", o["t_land"], o["t_done"], cid)
            tr.add("monitor.fresh_row_count", o["t_done"], o["t_read"], cid)
            for e, t0, t1, c in self.calls:
                if c == o["c"]:
                    tr.add("streaming.sinks.ParquetUpsertSink", t0, t1, pid, epoch=e)
        # Explained: the engine's own trigger durations plus the read span,
        # against each cycle's wall from landing the file to the read's end.
        wall = sum(o["t_read"] - o["t_write"] for o in self.ops) * 1e3
        explained = sum(sum(p["durationMs"]["triggerExecution"] for p in per[i])
                        + o["read_s"] * 1e3 for i, o in enumerate(self.ops))
        lat_w = median([o["latency_s"] for o in self.blocks["wrapped"]])
        lat_b = median([o["latency_s"] for o in self.blocks["bare"]])
        out.update({
            "trace.explained_pct": 100.0 * explained / wall,
            "trace.unexplained_ms": (wall - explained) / len(self.ops),
            "trace.overhead_pct": 100.0 * (lat_w - lat_b) / lat_b,
        })
        return out

    def local1(self, spark) -> dict:
        """Replay the feed on a local[1] session up to the first measured
        cycles and time those; per-cycle speedup of local[nproc] over
        local[1] on the same cycles."""
        self._start(spark, "local1", False)
        try:
            runs = [self._cycle_run(spark, c) for c in range(WARM_CYCLES + LOCAL1_CYCLES + 1)]
        finally:
            self.reset()
        lat1 = [o["latency_s"] for o in runs[WARM_CYCLES + 1:]]
        latn = [o["latency_s"] for o in self.ops[:LOCAL1_CYCLES]]
        return {"cores.local1_speedup_p50": median([a / b for a, b in zip(lat1, latn)]),
                "cores.local1_mix_ratio": sum(lat1) / sum(latn),
                "local1_latency_s": lat1}
