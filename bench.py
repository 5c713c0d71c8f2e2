"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints the record as JSON on stdout.

`python bench.py` measures and records; it does not judge. Whether a change
made something faster is settled by scripts/ab.py's interleaved fresh-JVM
A/B, which runs this module's harness on both trees.

Output layout: one summary line (headline metric, counts, calibration,
load, the 12 slowest queries, streaming throughput) printed once after the
headline queries and printed again, with the registry sweep's total, as
the FINAL stdout line. It stays under 1,000 characters, so a consumer that
keeps only the last ~2000 stdout chars can always parse it, and a run
killed mid-sweep still ends on a complete headline line. The complete
record (per-query timings, construct/action splits, errors, run spreads,
sweep walls) is written to BENCH_LOCAL.json beside this script.

Each query is fully executed via the noop sink (format("noop")) so the whole
plan runs — no collect() driver bottleneck, no disk write skew.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crypto_trading_data_pipeline_spark.queries import REGISTRY
from crypto_trading_data_pipeline_spark.session import get_spark

HEADLINE = [
    "q_ohlcv_1min",
    "q_candle_gap_fill",
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_range",
    "q_join_range_asof",
    "q_topk_per_group",
    "q_window_moving_avg",
    "q_upsert_last_wins",
    "q_count_distinct",
    "q_rollup",
    "q_dedup_exact",
    "q_token_stats",
    "q_chunk_docs",
    "q_cosine_topk",
    "q_sliding_window",
    "q_session_window",
    "q_minhash_sig",
    "q_lsh_pairs",
    "q_neardup_dedup",
    "q_simhash",
    "q_ann_ivf",
    "q_corpus_prep",
    # r2 breadth: the relational tail + the reworked sharded packing +
    # the k-means assignment round (VERDICT r1 #6).
    "q_retention_cohort",
    "q_scd2_intervals",
    "q_window_range_frame",
    "q_pack_greedy",
    "q_kmeans_assign",
    # r2 additions: corpus hygiene, event analytics, indicators.
    "q_tfidf",
    "q_contamination",
    "q_sessionize_islands",
    "q_rolling_dau",
    "q_rsi",
    # r5 additions: the composed IVF+PQ index (the real 100 TB ANN path)
    # and the append-batch near-dup screen (steady-state ingest shape).
    "q_ann_ivfpq",
    "q_ann_ivfpq_probe3",
    "q_ann_rerank",
    "q_neardup_incremental",
    # r3 additions: curation family, SemDeDup, star components, bands.
    "q_quality_gopher",
    "q_mixture_sample",
    # r6 additions: PII scrub + per-source quota (curation breadth),
    # CDC apply (mutable-table maintenance), JL projection (ANN
    # working-set reduction), z-order layout audit (file-skip layout).
    "q_pii_redact",
    "q_source_cap",
    "q_cdc_apply",
    "q_embed_project",
    "q_zorder_layout",
    "q_interval_join",
    "q_pagerank",
    "q_skyline",
    "q_media_roundtrip",
    "q_unigram_lm",
    "q_return_corr",
    "q_ngram_novelty",
    "q_ivm_merge",
    "q_feature_hashing",
    "q_feature_label_matrix",
    "q_twap",
    "q_benford",
    "q_chunk_udtf",
    "q_user_journey",
    "q_psi",
    "q_embed_drift",
    "q_split_audit",
    "q_candle_patterns",
    "q_seasonality",
    "q_anomaly_mad",
    "q_split_leakage",
    "q_cross_source_dups",
    "q_lorenz",
    "q_corpus_profile",
    "q_embed_outliers",
    "q_semdedup",
    "q_bollinger",
    "q_max_drawdown",
    # r6 late additions: portable sketches, tokenizer induction, graph
    # triangles, exact-moment beta, interpolated gap fill.
    "q_hll_portable",
    "q_bpe_pair_counts",
    "q_bpe_merges",
    "q_bpe_tokenize",
    "q_triangle_count",
    "q_market_beta",
    "q_macd",
    "q_bloom_probe",
    "q_embed_quantize",
    "q_sample_weighted_topk",
    "q_interp_linear",
    "q_corpus_diff",
    "q_char_entropy",
    "q_decay_score",
    "q_target_encoding",
    "q_embed_covariance",
    # r7 additions measured the round they ship.
    "q_ann_rerank",
    "q_sample_weighted_topk",
    "q_bm25",
    "q_cooccur_ppmi",
    "q_cms_portable",
    "q_ks_test",
    "q_chi_square",
    "q_mutual_info",
    "q_bigram_lm",
    "q_quality_classifier",
    "q_temperature_mix",
    "q_auc_roc",
    "q_calibration_bins",
    "q_dup_span_stats",
    # r7 late additions.
    "q_rfm_segments",
    "q_market_basket",
    "q_vocab_coverage",
    "q_prefix_dedup",
    "q_precision_recall",
    "q_donchian",
    "q_ichimoku",
    "q_bpe_fertility",
    "q_attribution",
    "q_lang_confusion",
    "q_funnel_windowed",
    "q_cohort_ltv",
    "q_ann_recall_eval",
    "q_dup_cluster_stats",
    "q_neardup_threshold_sweep",
    "q_hapax_ttr",
    "q_readability",
    "q_zipf_fit",
    "q_label_propagation",
    "q_kcore",
    "q_degree_stats",
    "q_autocorr",
    "q_bfs_reach",
    "q_rrf_fusion",
    "q_scd2",
    "q_token_budget_mix",
    "q_risk_metrics",
    "q_realized_vol",
    "q_backtest_sma",
    "q_pairs_spread",
    "q_link_predict",
    "q_heavy_hitters",
    "q_logreg_train",
    "q_naive_bayes",
    "q_dsir_weights",
    "q_cusum",
    "q_kneser_ney",
    "q_kaplan_meier",
    "q_ab_test",
    "q_video_frames",
    "q_holt_forecast",
    "q_forecast_eval",
    "q_late_data_audit",
    "q_rolling_median",
    "q_decision_stump",
    "q_bootstrap_ci",
    "q_seasonal_decompose",
    "q_kanonymity",
    "q_order_flow",
    "q_silhouette",
    "q_cross_corr",
    "q_tick_bars",
    "q_ndcg",
    "q_dollar_bars",
    # r8 additions: scale-ops audit, feature screening, retrieval infra,
    # microstructure, blocked record linkage, trained-index ANN.
    "q_skew_audit",
    "q_woe_iv",
    "q_entity_match",
    "q_kyle_lambda",
    "q_amihud",
    "q_lift_gain",
    "q_inverted_index",
    # r9 addition: reciprocal-rank retrieval eval on the shared BM25 chain.
    "q_mrr",
    # q_ann_ivf_trained / q_ann_recall_trained / q_ann_incremental are
    # correctness-gated but NOT benched: like
    # q_kmeans_ivf (also excluded), ~10 s of their wall is the trainer's
    # driver-coordinated rounds (fresh centroid literals -> fresh codegen
    # per round) — a fixed cost independent of data size (probe ratio
    # 0.84 at 10x) that would only add noise-free constant seconds here.
]
# Guard against double-timing: a name listed twice (it has happened) would
# run twice and silently collapse in the output dict.
HEADLINE = list(dict.fromkeys(HEADLINE))


def bench_streaming(spark, sf_dir: str) -> dict:
    """End-to-end streaming candle throughput (the reference's actual
    runtime shape: parse -> watermark -> 1-min OHLCV -> foreachBatch sink).

    Synthesizes a raw-trade JSON feed from the events fixture, drains it
    with an availableNow trigger, and reports rows/s. The reference's
    operational posture is one symbol at 60 s micro-batches on 1 core
    (BASELINE.md); this measures the same job shape at full throttle.

    BEST-OF-3 drains (fresh checkpoint each), mirroring the per-query
    best-of-3: a single drain measured 18.6k-27.7k rows/s across three
    runs of IDENTICAL code (r9 triage) — checkpoint/sink first-touch and
    end-of-bench GC pressure dominate one-shot numbers, so one drain's
    rows/s says more about the box than the code. Run 1 additionally
    absorbs the streaming-machinery warm-up the batch warmers don't reach.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from crypto_trading_data_pipeline_spark.io import read_table, ts_millis
    from crypto_trading_data_pipeline_spark.sources import file_json_stream, parse_trades
    from crypto_trading_data_pipeline_spark.streaming.job import candle_stream, start_candle_query

    workdir = tempfile.mkdtemp(prefix="ctdp_bench_stream_")
    indir, ckpt = os.path.join(workdir, "in"), os.path.join(workdir, "ckpt")
    os.makedirs(indir)
    try:
        ev = read_table(spark, sf_dir, "events")
        n_rows = ev.count()
        raw = ev.select(
            F.to_json(
                F.struct(
                    F.col("event_id").alias("trade_id"),
                    F.col("event_type").alias("symbol"),
                    F.col("value").cast("string").alias("price"),
                    F.lit("1").alias("quantity"),
                    ts_millis("ts").alias("trade_time"),
                    F.lit(False).alias("is_buyer_maker"),
                )
            ).alias("value")
        )
        raw.coalesce(8).write.mode("overwrite").text(indir)

        # candles_emitted is taken from the SAME drain as best_wall (r9
        # ADVICE: mixing the best-wall timing with the last drain's count
        # would silently splice runs if a drain ever partially fails).
        best_wall, candles_emitted = None, 0
        for i in range(3):
            counts = {"rows": 0}

            def sink(df, epoch_id):
                counts["rows"] += df.count()

            run_ckpt = f"{ckpt}_{i}"
            t0 = time.perf_counter()
            trades = parse_trades(file_json_stream(spark, indir))
            candles = candle_stream(
                trades, watermark="2 minutes", window_duration="1 minute"
            )
            q = start_candle_query(
                candles, sink=sink, checkpoint_dir=run_ckpt, available_now=True
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
            if best_wall is None or wall < best_wall:
                best_wall = wall
                candles_emitted = counts["rows"]
        return {
            "streaming_input_rows": n_rows,
            "streaming_wall_sec": round(best_wall, 3),
            "streaming_rows_per_sec": round(n_rows / best_wall, 1),
            "streaming_candles_emitted": candles_emitted,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _loadavg() -> list[float] | None:
    """1/5/15-min system load — contention evidence for the bench record."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _calibration_sec(spark) -> float:
    """Best-of-3 wall time of a FIXED synthetic workload (range scan →
    modular arithmetic → hash-shuffle aggregate → noop write) that never
    changes across rounds. Round 7 found 24 'regressions' that were a
    uniform +0.2-0.4 s across unrelated sub-second plans — the box was
    simply slower than when the previous round's numbers were taken, and
    nothing in the record could prove it. This constant workload is the
    machine-speed ruler: a calibration ratio ≈ the uniform drift says
    'environment', a flat calibration with real per-query deltas says
    'code'."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS v")
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        best = min(best, time.time() - t0)
    return round(best, 3)


def data_dir() -> str:
    """The fixture directory every harness measures: $SPARK_GRAFT_SF_DIR."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scale_factor(sf_dir: str) -> float:
    """The scale factor a data dir's basename names (`sf0.1` -> 0.1), or
    -1.0 when the basename is not exactly sf<number> (a synthesized
    `sf0.1_x10` tier, any other dir), so a record's `sf` never passes off
    such a tier's walls as a real scale factor's."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else -1.0


def error_line(exc: BaseException) -> str:
    """How every harness records a failure: the exception type and the first
    line of its message, cut to 200 characters. `or [""]`: an empty message
    must not IndexError inside the handler that keeps the run alive."""
    return f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"


_JOB_GROUP = "spark.jobGroup.id"


def run_query(spark, fn, sf_dir: str, runs: int) -> dict:
    """Time a registry query function `runs` times; keep the fastest run.

    Each run goes under its own job group and is timed in two parts:
    construct (`fn(spark, sf_dir)` builds the DataFrame) and action (the
    noop write runs the whole plan). Returns the fastest run's `total`,
    `construct` and `action`, every run's total under `runs`, and under
    `stages` the fastest run's stage ids, read back from its job group
    through the status tracker, so jobs run while constructing (eager
    checkpoints) count. A failing run ends the query and the result is
    only `error` (see error_line): the runner never raises for a query's
    failure."""
    sc = spark.sparkContext
    caller_group = sc.getLocalProperty(_JOB_GROUP)
    tag = f"run_query-{uuid.uuid4().hex[:12]}"
    totals: list[float] = []
    best = None
    try:
        for i in range(runs):
            group = f"{tag}-{i}"
            sc.setLocalProperty(_JOB_GROUP, group)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            totals.append(round(t2 - t0, 3))
            if best is None or t2 - t0 < best[0]:
                best = (t2 - t0, t1 - t0, t2 - t1, group)
    except Exception as exc:  # noqa: BLE001 — the caller records the failure
        return {"error": error_line(exc)}
    finally:
        sc.setLocalProperty(_JOB_GROUP, caller_group)
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(best[3])]
    return {
        **{k: round(v, 3) for k, v in zip(("total", "construct", "action"), best)},
        "runs": totals,
        "stages": sorted({sid for job in jobs if job for sid in job.stageIds}),
    }


def stage_stats(spark, stage_ids) -> dict[int, dict]:
    """Per-stage statistics from the status REST API, one call per stage:
    completed `tasks` and `executor_run_sec` summed over the stage's
    attempts, and the median and max task duration (`task_sec_p50`,
    `task_sec_max`, None when no task ran) of the attempt with the slowest
    task. Empty when the UI, and with it the API, is off; a stage the API
    cannot return is left out."""
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        return {}
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    out: dict[int, dict] = {}
    for sid in stage_ids:
        try:
            with urllib.request.urlopen(
                f"{api}/{sid}?withSummaries=true&quantiles=0.5,1.0", timeout=10
            ) as r:
                attempts = json.load(r)
        except (OSError, ValueError):
            continue
        med = slowest = None
        for a in attempts:
            dur = (a.get("taskMetricsDistributions") or {}).get("duration")
            if dur and (slowest is None or dur[1] > slowest):
                med, slowest = dur
        out[sid] = {
            "tasks": sum(a.get("numCompleteTasks", 0) for a in attempts),
            "executor_run_sec": round(
                sum(a.get("executorRunTime", 0) for a in attempts) / 1000, 3
            ),
            "task_sec_p50": None if med is None else round(med / 1000, 3),
            "task_sec_max": None if slowest is None else round(slowest / 1000, 3),
        }
    return out


def warm_up(spark, sf_dir: str, first_query: str | None) -> None:
    """Session warm-up run before any timed query: fixture scans, the noop
    sink, the Python/Arrow worker pool, the binary Arrow path and, when
    given, one untimed run of the first measured query. bench.main() and
    scripts/ab.py both call it, so every measured tree is warmed alike."""
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session spin-up (first-ever query otherwise pays codegen
    # compiler + footer reads for every table it touches).
    from crypto_trading_data_pipeline_spark.io import TABLES, read_table

    for t in TABLES:
        read_table(spark, sf_dir, t).count()
    # Warm the noop-sink write path too, so the first measured query isn't
    # charged for committer/sink initialization.
    spark.range(8).write.mode("overwrite").format("noop").save()

    # Two residual first-touch costs still leaked into run 1 of whichever
    # query hit them first (r6: q_ohlcv_1min spread 5.08x, q_media_roundtrip
    # 5.11x): (a) the Python/Arrow worker pool — the first Pandas-UDF stage
    # pays one python worker spawn per core; (b) whatever session warm-up
    # the table/noop warmers above don't reach (shuffle service, broadcast
    # machinery). Warm (a) with a trivial mapInPandas across all cores and
    # (b) by running the FIRST headline query once untimed.
    def _identity_batches(it):
        yield from it

    (
        spark.range(256)
        .repartition(int(spark.sparkContext.defaultParallelism))
        .mapInPandas(_identity_batches, "id long")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    # The identity warmer moves longs; the media queries move BINARY
    # columns through Arrow both directions (encode -> decode features),
    # which initializes a different serialization path. An 8-row fake
    # decode warms it for cents (r7: q_media_roundtrip all-runs spread
    # 4.28x was dominated by run-1 Arrow/binary first-touch).
    try:
        from pyspark.sql import functions as F

        from crypto_trading_data_pipeline_spark.operators.multimodal import (
            attach_media,
            extract_image_features,
        )

        tiny = spark.range(8).select(
            F.col("id"), F.encode(F.col("id").cast("string"), "utf-8").alias("b")
        )
        media = attach_media(
            tiny, id_col="id", bytes_col="b", kind="image", mime="image/fake"
        )
        extract_image_features(media, parallelism=8).write.mode(
            "overwrite"
        ).format("noop").save()
    except Exception:  # noqa: BLE001 — warm-up must never kill the bench
        pass
    if first_query:
        run_query(spark, REGISTRY[first_query].fn, sf_dir, 1)




#: The record's scalar keys the summary line carries, when present; the
#: per-query maps are sidecar-only.
SUMMARY_KEYS = (
    "metric",
    "value",
    "unit",
    "total_is_complete",
    "n_ok",
    "n_err",
    "sf",
    "calib_sec",
    "streaming_input_rows",
    "streaming_wall_sec",
    "streaming_rows_per_sec",
    "streaming_candles_emitted",
    "full_registry_wall_sec",
    "full_registry_n_err",
)


def summary_line(record: dict) -> str:
    """The record as one compact JSON line: the scalars in SUMMARY_KEYS,
    the 1-min load before and after the headline queries, the 12 slowest
    queries and at most 3 errors, each cut to 40 characters, as is a failed
    stream drain's error. Its size does not grow with the registry, and
    with the registry's longest names it stays under 1,000 characters
    (tests/test_bench_helpers.py). Once the suite outgrew ~45 queries a
    line with every query overran the consumer's ~2000-character tail and
    parsed as null (r3, r6)."""
    out = {k: record[k] for k in SUMMARY_KEYS if k in record}
    out["load1"] = [(record.get(k) or [None])[0] for k in ("load_avg_before", "load_avg_after")]
    if "streaming_err" in record:
        out["streaming_err"] = record["streaming_err"][:40]
    slowest = sorted(record["queries"].items(), key=lambda kv: -kv[1])[:12]
    out["queries"] = {name: round(sec, 2) for name, sec in slowest}
    if record["errors"]:
        out["errors"] = {name: msg[:40] for name, msg in sorted(record["errors"].items())[:3]}
    return json.dumps(out, separators=(",", ":"))


def main() -> None:
    sf_dir = data_dir()
    spark = get_spark(app_name="ctdp-spark-bench")
    spark.sparkContext.setLogLevel("WARN")

    names = [n for n in HEADLINE if n in REGISTRY]
    warm_up(spark, sf_dir, names[0] if names else None)
    # Run 1 pays one-time whole-stage-codegen compilation for that plan
    # shape (a fixed cost, irrelevant at scale); later runs measure the
    # steady-state engine cost we actually optimize.
    # One broken query must cost one missing number, not the whole run:
    # round 4 shipped ZERO timings because a single plan-time
    # AnalysisException propagated out of the loop. run_query records the
    # error and measurement continues.
    load_before = _loadavg()
    timings: dict[str, float] = {}
    splits: dict[str, dict[str, float]] = {}
    spreads: dict[str, float] = {}
    spreads_steady: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        # Always 3 runs. Two-run best-of used to skip the third run for
        # quiet multi-second queries, but a CONTENDED box slows both runs
        # similarly (spread stays low), so best-of-2 can record a 10x
        # outlier as real — exactly the r5 driver-vs-local 14.9x divergence
        # on q_lsh_pairs.
        r = run_query(spark, REGISTRY[name].fn, sf_dir, 3)
        if "error" in r:
            errors[name] = r["error"]
            continue
        run_secs = r["runs"]
        timings[name] = r["total"]
        splits[name] = {"construct": r["construct"], "action": r["action"]}
        spreads[name] = round(max(run_secs) / max(min(run_secs), 1e-9), 2)
        # Steady-state spread excludes run 1 (every plan pays its own
        # whole-stage-codegen compile there — a per-query constant the
        # all-runs spread deliberately still exposes). >2 HERE with high
        # load is the unambiguous contended-measurement signal.
        steady = run_secs[1:]
        spreads_steady[name] = round(max(steady) / max(min(steady), 1e-9), 2)
    load_after = _loadavg()

    try:
        stream_stats = bench_streaming(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        stream_stats = {"streaming_err": error_line(exc)}
    try:
        calib_sec = _calibration_sec(spark)
    except Exception:  # noqa: BLE001 — the ruler must never kill the bench
        calib_sec = None

    record = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # `value` sums only the queries that RAN — with n_err > 0 it is not
        # comparable with another record (a broken query reads as a speedup).
        "total_is_complete": not errors,
        "runs_per_query": "3",
        "timing": "best_of_runs",
        "queries": timings,
        # Construct (building the DataFrame) and action (the noop write) of
        # each query's fastest run; the sweep adds its queries below.
        "query_split": splits,
        "errors": errors,
        "n_ok": len(timings),
        "n_err": len(errors),
        # The same fixed synthetic workload timed every run: the box's
        # speed while this record was taken.
        "calib_sec": calib_sec,
        # Contention evidence (r5: driver bench 3x the committed local bench
        # on identical code — every record carries system load and
        # per-query run spread so a contended run is diagnosable from the
        # file alone).
        "load_avg_before": load_before,
        "load_avg_after": load_after,
        "run_spread": spreads,
        "run_spread_steady": spreads_steady,
        "sf": scale_factor(sf_dir),
        **stream_stats,
    }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")

    def publish() -> None:
        # The line first: a sidecar-write failure must never orphan it.
        print(summary_line(record), flush=True)
        with open(sidecar, "w") as f:
            json.dump(record, f, indent=1)

    publish()
    # Full-registry sweep — deliberately LAST, after the headline line and
    # sidecar are out: a run killed mid-sweep still ends on a complete
    # headline line and loses only the sweep. Every registered query NOT
    # in HEADLINE runs ONCE; its single-run wall and split land in the
    # sidecar, and the line carries only their total.
    sweep_queries: dict[str, float] = {}
    sweep_errors: dict[str, str] = {}
    for name in [n for n in REGISTRY if n not in HEADLINE]:
        r = run_query(spark, REGISTRY[name].fn, sf_dir, 1)
        if "error" in r:
            sweep_errors[name] = r["error"]
            continue
        sweep_queries[name] = r["total"]
        splits[name] = {"construct": r["construct"], "action": r["action"]}
    record.update(
        {
            "full_registry_wall_sec": round(sum(sweep_queries.values()), 3),
            "full_registry_n_ok": len(sweep_queries),
            "full_registry_n_err": len(sweep_errors),
            "registry_sweep_queries": sweep_queries,
            "registry_sweep_errors": sweep_errors,
        }
    )
    publish()


if __name__ == "__main__":
    main()
