"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints the record as JSON on stdout.

Output layout (the consumer keeps the LAST ~2000 stdout chars and parses
the FINAL line): first the full compact record — per-query timings for
tail salvage — then a final summary line that always fits the buffer
(headline metric, counts, calibration, 12 slowest queries). The complete
record is also written to BENCH_LOCAL.json beside this script.

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

# Trained-index lifecycle tier (r10 verdict #8): headline-excluded because
# the trainer's driver-coordinated Lloyd rounds are a fixed data-independent
# cost (probe ratios 0.81-1.11x at 10x), but a trainer pathology must still
# surface round-over-round — the tier gets ONE total wall per round from
# its registry-sweep single-run walls, graded like full_registry_wall_sec.
TRAINED_TIER = [
    "q_kmeans_ivf",
    "q_ann_ivf_trained",
    "q_ann_recall_trained",
    "q_ann_incremental",
    "q_pq_train",
    "q_ann_pq_trained",
    "q_index_rebalance",
]


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
    end-of-bench GC pressure dominate one-shot numbers, and the r9
    streaming regression gate would fire on that noise. Run 1 additionally
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

#: A query is flagged as a regression only when it is slower than the
#: previous recorded round by BOTH bounds — relative (>15 %) and absolute
#: (>0.2 s) — so millisecond noise on sub-second plans never trips it.
_REGRESSION_REL = 0.15
_REGRESSION_ABS_SEC = 0.2

#: Identical-code streaming noise band measured on this box (r12,
#: SCALE_AB_STREAM.json): two trees running BYTE-IDENTICAL streaming code,
#: interleaved same-box fresh-JVM runs, measured a +10.1% best-rows/s
#: spread. A round-over-round streaming delta inside this band is
#: indistinguishable from host noise by construction.
_STREAM_IDENTICAL_CODE_BAND_REL = 0.101
#: Streaming gate threshold (r12 verdict #5): ≈ 2× the identical-code band
#: so the gate trips on signal, not noise. A trip is still a TRIPWIRE that
#: orders the interleaved A/B (the record carries the exact command), never
#: standalone evidence of a code regression.
_STREAM_GATE_REL = 2 * _STREAM_IDENTICAL_CODE_BAND_REL


def _salvage_tail_timings(tail: str) -> dict[str, float]:
    """Recover per-query timings from a head-truncated stdout tail (the
    driver keeps only the last ~2000 chars; round 3's line overran it and
    left parsed: null). Only the span BEFORE the deltas/regressions keys is
    scanned — "q_*": N pairs after those markers are round-over-round
    deltas, not timings, and must not be mistaken for them."""
    import re

    cut = len(tail)
    for marker in ('"prev_round"', '"deltas_vs_prev"', '"regressions"'):
        i = tail.find(marker)
        if i != -1:
            cut = min(cut, i)
    return {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"(q_\w+)":\s*([0-9.]+)', tail[:cut])
    }


def _load_previous_round(sf: float, here: str | None = None) -> dict:
    """Per-query timings from the latest USABLE prior BENCH_r{N}.json next
    to this script, plus its round tag under "_round".

    Scans rounds descending and takes the first file with per-query timings
    recorded AT THE SAME scale factor — crashed rounds (rc!=0, no data,
    e.g. r4) and other-sf runs are skipped, and a round whose JSON line was
    tail-truncated (parsed: null, e.g. r3) is salvaged from the raw tail
    text instead of discarded. Set SPARK_GRAFT_ROUND=N to additionally
    exclude rounds >= N (prevents self-comparison when the bench is re-run
    after the driver already recorded this round's file). Empty dict when
    no usable prior round exists."""
    import glob
    import re

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    cur = os.environ.get("SPARK_GRAFT_ROUND")
    cur = int(cur) if cur and cur.isdigit() else None
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and (cur is None or int(m.group(1)) < cur):
            rounds.append((int(m.group(1)), p))
    for n, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rec, dict):
            continue
        # The driver wraps our JSON line under "parsed" (alongside rc/tail).
        parsed = rec.get("parsed")
        rec_sf = (parsed or {}).get("sf", rec.get("sf"))
        if isinstance(rec_sf, (int, float)) and abs(rec_sf - sf) > 1e-9:
            continue
        # Since r7 the parsed final line carries only the 12 slowest
        # queries (the full line overflows the driver's 2000-char tail);
        # merge it with whatever the tail salvage reaches of the full
        # line printed just before it. The two describe the SAME run, so
        # the union is consistent.
        queries = dict(_salvage_tail_timings(rec.get("tail") or ""))
        p_queries = (parsed or {}).get("queries")
        if isinstance(p_queries, dict):
            queries.update(
                {k: v for k, v in p_queries.items() if isinstance(v, (int, float))}
            )
        # A truncated tail can salvage only a partial subset; a too-small
        # set would silently exempt most queries from the regression
        # comparison, so top it up from the committed full sidecar of the
        # SAME round's local run when available (BENCH_LOCAL.json is
        # written by every bench invocation and committed per round), and
        # keep scanning older complete rounds if still too small.
        if len(queries) < max(10, len(HEADLINE) // 2):
            try:
                with open(os.path.join(here, "BENCH_LOCAL.json")) as f:
                    local = json.load(f)
                if (
                    isinstance(local.get("sf"), (int, float))
                    and abs(local["sf"] - sf) < 1e-9
                    and isinstance(local.get("queries"), dict)
                ):
                    for k, v in local["queries"].items():
                        if k not in queries and isinstance(v, (int, float)):
                            queries[k] = v
            except (OSError, ValueError):
                pass
            if len(queries) < max(10, len(HEADLINE) // 2):
                continue
        if queries:
            calib = (parsed or {}).get("calib_sec", rec.get("calib_sec"))
            out = {"_round": n, **queries}
            if isinstance(calib, (int, float)) and calib > 0:
                out["_calib_sec"] = calib
            # Streaming throughput rides the same record so a real
            # streaming regression can't hide (r8's -3.2% went unflagged
            # because nothing compared it round-over-round).
            srps = (parsed or {}).get(
                "streaming_rows_per_sec", rec.get("streaming_rows_per_sec")
            )
            if isinstance(srps, (int, float)) and srps > 0:
                out["_streaming_rows_per_sec"] = srps
            # Same for the full-registry sweep wall (r9 verdict #6).
            frw = (parsed or {}).get(
                "full_registry_wall_sec", rec.get("full_registry_wall_sec")
            )
            if isinstance(frw, (int, float)) and frw > 0:
                out["_full_registry_wall_sec"] = frw
            # And the trained-index tier (r10 verdict #8): bench-excluded
            # from the headline (trainer-dominated, data-independent cost)
            # but a trainer pathology must still show round-over-round.
            ttw = (parsed or {}).get(
                "trained_tier_wall_sec", rec.get("trained_tier_wall_sec")
            )
            if isinstance(ttw, (int, float)) and ttw > 0:
                out["_trained_tier_wall_sec"] = ttw
            return out
    return {}


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


def _compare_to_previous(timings: dict, prev: dict, calib_ratio=None):
    """(deltas, regressions, regressions_normalized): per-query seconds vs
    the previous round for every query present in both, the subset slower
    by both the relative and absolute regression bounds, and that same test
    re-run with current timings divided by the machine-speed calibration
    ratio (clamped to >= 1 so a FASTER box never hides a code regression;
    equal to the raw list when no prior calibration exists)."""
    deltas: dict[str, float] = {}
    regressions: list[dict] = []
    norm: list[dict] = []
    scale = max(calib_ratio, 1.0) if isinstance(calib_ratio, (int, float)) else 1.0
    for name, now in timings.items():
        before = prev.get(name)
        if not isinstance(before, (int, float)) or before <= 0:
            continue
        delta = round(now - before, 3)
        deltas[name] = delta
        if delta > _REGRESSION_ABS_SEC and now > before * (1 + _REGRESSION_REL):
            regressions.append(
                {"query": name, "prev_sec": before, "now_sec": now, "delta_sec": delta}
            )
        adj = now / scale
        if (adj - before) > _REGRESSION_ABS_SEC and adj > before * (
            1 + _REGRESSION_REL
        ):
            norm.append(
                {
                    "query": name,
                    "prev_sec": before,
                    "now_sec": now,
                    "now_normalized_sec": round(adj, 3),
                }
            )
    return deltas, regressions, norm


def _ab_records(here: str) -> list[tuple[str, dict]]:
    """All SCALE_AB*.json records at the repo root, newest-mtime first.

    These are the committed same-box interleaved A/B adjudications
    (scripts/ab.py and its predecessors). Tolerates both the
    current baseline-labelled shape and the pre-r13 records whose keys
    carry the historical tree names (r9/r10)."""
    import glob as _glob

    out: list[tuple[str, dict]] = []
    for f in sorted(
        _glob.glob(os.path.join(here, "SCALE_AB*.json")),
        key=os.path.getmtime,
        reverse=True,
    ):
        try:
            with open(f) as fh:
                out.append((os.path.basename(f), json.load(fh)))
        except (OSError, json.JSONDecodeError):
            continue
    return out


def _ab_baseline_label(rec: dict) -> str | None:
    for lbl in ("baseline", "r9", "r10", "r11"):
        if isinstance(rec.get(lbl), dict):
            return lbl
    return None


def _ab_adjudication(query: str, here: str, head_sha: str | None) -> dict | None:
    """The newest A/B record carrying per-query bests for `query`, reduced
    to the fields a regression-entry reader needs (r12 verdict #3: BENCH
    flagged q_bfs_reach/q_mrr while the same tree's SCALE_AB_R12 proved
    HEAD faster — the two artifacts must cite each other). Returns None
    when no record covers the query; the caller writes the explicit
    "unadjudicated" marker so absence is visible, not implicit."""
    for fname, rec in _ab_records(here):
        lbl = _ab_baseline_label(rec)
        if lbl is None:
            continue
        head_best = base_best = None
        hq = rec.get("head", {}).get("queries_best")
        bq = rec.get(lbl, {}).get("queries_best")
        if isinstance(hq, dict) and query in hq and isinstance(bq, dict) and query in bq:
            head_best, base_best = hq[query], bq.get(query)
        else:
            for d in rec.get("worst_deltas", []) or []:
                if d.get("q") == query:
                    head_best, base_best = d.get("head"), d.get(lbl)
                    break
        if head_best is None or base_best is None:
            continue
        rec_head = rec.get("head_sha")
        return {
            "file": fname,
            "head_best_sec": head_best,
            "baseline_best_sec": base_best,
            "baseline_sha": rec.get("baseline_sha", rec.get(f"{lbl}_sha")),
            # True only when the record says which HEAD it measured and it
            # is this tree; None when the (older) record has no head_sha.
            "ab_is_current_head": (
                None
                if not (rec_head and head_sha)
                else rec_head.startswith(head_sha) or head_sha.startswith(rec_head)
            ),
        }
    return None


def _sweep_ab_summary(here: str) -> dict | None:
    """Newest sweep A/B record (`scripts/ab.py <sha> sweep`), reduced to the
    matched-set verdict the trained-tier line cites: the shared-set delta is
    the only sweep number measured interleaved/best-of-3, so it adjudicates
    the single-run raw/normalized tier deltas. Records without a `set` key
    predate ab.py and only sweep records carried a shared-set delta then;
    ab.py writes that delta for every set, so its other sets are skipped."""
    for fname, rec in _ab_records(here):
        if rec.get("set", "sweep") != "sweep":
            continue
        for key in ("head_over_baseline_pct_shared", "head_over_r10_pct_shared"):
            if isinstance(rec.get(key), (int, float)):
                lbl = _ab_baseline_label(rec)
                return {
                    "file": fname,
                    "head_over_baseline_pct_shared": rec[key],
                    "shared_n": rec.get("shared_n"),
                    "baseline_sha": rec.get(
                        "baseline_sha", rec.get(f"{lbl}_sha") if lbl else None
                    ),
                }
    return None


def _git_line(here: str, *args: str) -> str | None:
    """A git command's stripped stdout in `here`; None when it is empty or
    git fails — the adjudication lookups are additive and never fail the
    bench."""
    import subprocess

    try:
        return (
            subprocess.run(
                ["git", *args], cwd=here, capture_output=True, text=True, timeout=10
            ).stdout.strip()
            or None
        )
    except Exception:  # noqa: BLE001 — adjudication lookup is additive
        return None


def data_dir() -> str:
    """The fixture directory every harness measures: $SPARK_GRAFT_SF_DIR."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scale_factor(sf_dir: str) -> float:
    """The scale factor a data dir's basename names (`sf0.1` -> 0.1), or
    -1.0 when the basename is not exactly sf<number> (a synthesized
    `sf0.1_x10` tier, any other dir), so its walls never match a real
    scale factor's previous round."""
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


def main() -> None:
    sf_dir = data_dir()
    sf = scale_factor(sf_dir)
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

    total = round(sum(timings.values()), 3)
    try:
        calib_sec = _calibration_sec(spark)
    except Exception:  # noqa: BLE001 — the ruler must never kill the bench
        calib_sec = None
    prev = _load_previous_round(sf)
    calib_prev = prev.get("_calib_sec")
    calib_ratio = (
        round(calib_sec / calib_prev, 3)
        if isinstance(calib_sec, (int, float)) and isinstance(calib_prev, (int, float))
        else None
    )
    deltas, regressions, regressions_norm = _compare_to_previous(
        timings, prev, calib_ratio
    )
    # Confirm-on-second-run (r10 verdict #7): one contended best-of-3
    # (q_decision_stump 0.34->2.02 s committed while the driver's own run
    # measured 0.557 s) can land pure noise in a regression list a reader
    # mistakes for a code change. Every flagged entry — RAW and normalized
    # alike (r11 ADVICE: the two lists must be measured by one protocol) —
    # gets ONE extra run here, cached per query so a name on both lists
    # reruns once; entries whose rerun also breaches their own list's
    # threshold stay (confirmed across two measurements), the rest move to
    # *_unconfirmed with the rerun recorded. The confirmation is a single
    # run judged against the previous round's best-of-3 — biased toward
    # keeping flags (single runs skew slow), but run variance is two-sided:
    # one lucky fast rerun can still demote a REAL regression to the
    # unconfirmed list, so treat *_unconfirmed as "needs A/B", not "noise".
    _norm_scale = (
        max(calib_ratio, 1.0) if isinstance(calib_ratio, (int, float)) else 1.0
    )
    # One confirmation run per query; None = the rerun itself failed, which
    # keeps the flag.
    _rerun_secs: dict[str, float | None] = {}

    def _confirm(entries: list[dict], scale: float) -> tuple[list[dict], list[dict]]:
        confirmed: list[dict] = []
        unconfirmed: list[dict] = []
        for _entry in entries:
            _nm = _entry["query"]
            if _nm not in _rerun_secs:
                _rerun_secs[_nm] = run_query(spark, REGISTRY[_nm].fn, sf_dir, 1).get("total")
            _rerun = _rerun_secs[_nm]
            if _rerun is None:
                confirmed.append(_entry)
                continue
            _entry["rerun_sec"] = _rerun
            _adj = _rerun / scale
            _before = _entry["prev_sec"]
            if (_adj - _before) > _REGRESSION_ABS_SEC and _adj > _before * (
                1 + _REGRESSION_REL
            ):
                confirmed.append(_entry)
            else:
                unconfirmed.append(_entry)
        return confirmed, unconfirmed

    regressions, regressions_unconfirmed = _confirm(regressions, 1.0)
    regressions_norm, regressions_norm_unconfirmed = _confirm(
        regressions_norm, _norm_scale
    )
    # Self-adjudication (r12 verdict #3): BENCH_r12 flagged q_bfs_reach /
    # q_mrr as confirmed regressions while SCALE_AB_R12 in the SAME tree
    # proved HEAD faster on both — two committed artifacts disagreed unless
    # the reader cross-referenced by hand. Every flagged entry now carries
    # either the covering A/B record's per-query bests or an explicit
    # "unadjudicated" marker ordering the A/B.
    here = os.path.dirname(os.path.abspath(__file__))
    _head_sha = _git_line(here, "rev-parse", "--short", "HEAD")
    # The commit that recorded the previous round's bench file: the
    # committed tree the comparison is against, which is exactly the
    # baseline argument scripts/ab.py needs.
    _prev_round = prev.get("_round")
    _prev_tree_sha = (
        _git_line(here, "log", "-1", "--format=%h", "--", f"BENCH_r{_prev_round:02d}.json")
        if isinstance(_prev_round, int)
        else None
    )
    for _lst in (
        regressions,
        regressions_norm,
        regressions_unconfirmed,
        regressions_norm_unconfirmed,
    ):
        for _entry in _lst:
            _entry["ab"] = (
                _ab_adjudication(_entry["query"], here, _head_sha)
                or "unadjudicated"
            )
    try:
        stream_stats = bench_streaming(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        stream_stats = {"streaming_err": error_line(exc)}

    # Streaming-throughput regression gate (r8 verdict #6): rows/s vs the
    # previous round. CALIBRATION OF THE GATE ITSELF (r12, SCALE_AB_STREAM):
    # the interleaved same-box A/B measured +10.1% between two trees running
    # BYTE-IDENTICAL streaming code — this box's identical-code noise band
    # exceeds the 15% gate threshold's margin over typical deltas, so a
    # flip here is a TRIPWIRE that orders the A/B (scripts/ab.py <sha> stream),
    # not itself evidence of a code regression (the r11 -5.8% flip was
    # host; the code closure hadn't changed a byte).
    # Two verdicts, mirroring the per-query gate (r9
    # ADVICE — the old max(ratio, 1) clamp let a FASTER box mask a real
    # code drop): `streaming_regression_raw` compares raw rows/s, and
    # `streaming_regression` machine-normalizes in BOTH directions
    # (cur_rps * calib_ratio, unclamped — on a slower box ratio > 1 scales
    # throughput back up; on a faster box ratio < 1 scales it back down).
    stream_prev = prev.get("_streaming_rows_per_sec")
    cur_rps = stream_stats.get("streaming_rows_per_sec")
    streaming_delta_pct = None
    streaming_regression = None
    streaming_regression_raw = None
    streaming_ab_command = None
    if isinstance(stream_prev, (int, float)) and isinstance(cur_rps, (int, float)):
        streaming_delta_pct = round((cur_rps - stream_prev) / stream_prev * 100, 1)
        scale = calib_ratio if isinstance(calib_ratio, (int, float)) else 1.0
        # Gate threshold is _STREAM_GATE_REL (2× the measured ±10.1%
        # identical-code band, SCALE_AB_STREAM r12) — the old 15% bound sat
        # inside one band-width of typical deltas and tripped on host noise
        # (the r11 flip was byte-identical code).
        streaming_regression_raw = bool(
            cur_rps < stream_prev * (1.0 - _STREAM_GATE_REL)
        )
        streaming_regression = bool(
            cur_rps * scale < stream_prev * (1.0 - _STREAM_GATE_REL)
        )
        if streaming_regression or streaming_regression_raw:
            # A flip ships with its adjudication order in the same record
            # (r12 verdict #5): the exact same-box interleaved A/B command,
            # baseline = the committed tree the comparison was against.
            streaming_ab_command = (
                f"python scripts/ab.py {_prev_tree_sha} stream"
                if _prev_tree_sha
                else "python scripts/ab.py <prev-round tree sha> stream"
            )

    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # `value` sums only the queries that RAN — with n_err > 0 it is not
        # comparable round-over-round (a broken query reads as a speedup).
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
        "prev_round": prev.get("_round"),
        "deltas_vs_prev": deltas,
        "regressions": regressions,
        # Machine-speed ruler: the same fixed synthetic workload timed every
        # round. regressions_machine_normalized re-tests each raw regression
        # with the current timing divided by calib ratio (clamped >= 1) —
        # entries surviving normalization are code, the rest environment.
        "calib_sec": calib_sec,
        "calib_prev_sec": calib_prev,
        "calib_ratio": calib_ratio,
        "regressions_machine_normalized": regressions_norm,
        # Entries that flagged on the best-of-3 but did NOT reproduce on
        # the confirmation rerun — environment noise by measurement, kept
        # for diagnosis only (r10 verdict #7; raw list added r11 ADVICE so
        # both lists share the one protocol).
        "regressions_unconfirmed": regressions_unconfirmed,
        "regressions_norm_unconfirmed": regressions_norm_unconfirmed,
        # Median per-query delta vs prev: a nonzero median across ~all
        # compared queries is uniform drift (environment), since a code
        # change moves its own queries, not the whole suite's median.
        "delta_median_sec": (
            round(sorted(deltas.values())[len(deltas) // 2], 3) if deltas else None
        ),
        # Contention evidence (r5: driver bench 3x the committed local bench
        # on identical code — now every record carries system load and
        # per-query run spread so a contended round is diagnosable from the
        # file alone).
        "load_avg_before": load_before,
        "load_avg_after": load_after,
        "run_spread": spreads,
        "run_spread_steady": spreads_steady,
        "sf": sf,
        **stream_stats,
        "streaming_prev_rows_per_sec": stream_prev,
        "streaming_delta_pct": streaming_delta_pct,
        "streaming_regression": streaming_regression,
        "streaming_regression_raw": streaming_regression_raw,
        # Gate provenance: threshold + the measured identical-code band it
        # is derived from, and (on a trip) the adjudication command.
        "streaming_gate_rel": _STREAM_GATE_REL,
        "streaming_identical_code_band_rel": _STREAM_IDENTICAL_CODE_BAND_REL,
        "streaming_ab_command": streaming_ab_command,
    }
    # Compact single line on stdout for the driver FIRST (a sidecar-write
    # failure must never orphan the driver's parsed line): the headline
    # metric, per-query timings, errors and the regression verdict. The
    # driver's tail buffer keeps ~2000 chars (a clean 44-query line is
    # ~1.5 KB), so the per-query deltas and spreads live in the sidecar
    # only, the regression list is capped at the 4 worst, and error
    # messages are truncated to their exception-type-plus-head — the exact
    # mass-failure scenario (r4: one env shift broke 5 queries) must not
    # push the line past the buffer and turn the whole round's metric into
    # parsed:null. n_regressions / n_err always carry the true counts;
    # BENCH_LOCAL.json holds the full record.
    # 47 queries x ~24 bytes already costs ~1.2 KB of the ~2 KB budget, so
    # the compact line trims aggressively: 2-decimal timings, 1-min load
    # only, 3 regressions / errors max, verbose constants sidecar-only.
    compact = {
        k: v
        for k, v in record.items()
        if k not in (
            "deltas_vs_prev",
            "query_split",
            "run_spread",
            "run_spread_steady",
            "runs_per_query",
            "timing",
            "load_avg_before",
            "load_avg_after",
            "calib_prev_sec",
            "regressions_machine_normalized",
            "regressions_unconfirmed",
            "regressions_norm_unconfirmed",
            # delta_pct + regression flag stay in the line; the prev
            # value itself is sidecar-only (byte budget).
            "streaming_prev_rows_per_sec",
            "streaming_gate_rel",
            "streaming_identical_code_band_rel",
            # Sweep per-query walls/errors are sidecar-only; the line
            # carries only the total + delta (byte budget).
            "registry_sweep_queries",
            "registry_sweep_errors",
            "full_registry_prev_wall_sec",
            "trained_tier_queries",
            "trained_tier_prev_wall_sec",
        )
    }
    if compact.get("streaming_ab_command") is None:
        compact.pop("streaming_ab_command", None)  # byte budget: only on trip
    compact["queries"] = {n: round(t, 2) for n, t in timings.items()}
    # 1-min loadavg at start/end: >> a busy-bench baseline means a
    # contended measurement, not a regression.
    compact["load1"] = [
        (load_before or [None])[0],
        (load_after or [None])[0],
    ]
    compact["n_regressions"] = len(regressions)
    # Raw count minus the entries the machine-speed ruler explains away;
    # full normalized list in the BENCH_LOCAL.json sidecar.
    compact["n_regressions_normalized"] = len(regressions_norm)
    compact["regressions"] = sorted(
        regressions, key=lambda r: -r["delta_sec"]
    )[:3]
    compact["errors"] = {
        name: msg[:40]
        for name, msg in sorted(errors.items())[:3]
    }
    # The worst run spread (query, ratio): >2 here + high load says
    # "contended measurement", not "regression".
    if spreads:
        worst = max(spreads, key=spreads.get)
        compact["noisiest"] = [worst, spreads[worst]]
    if spreads_steady:
        worst = max(spreads_steady, key=spreads_steady.get)
        compact["noisiest_steady"] = [worst, spreads_steady[worst]]
    print(json.dumps(compact, separators=(",", ":")), flush=True)
    # The driver keeps only the LAST ~2000 stdout chars and parses the
    # final line: once the suite outgrew ~45 queries the compact line
    # truncated mid-queries and every such round recorded parsed:null
    # (r3, r6 — confirmed against the committed BENCH_r*.json). So the
    # FINAL line is a summary that always fits: every scalar, the
    # slowest 12 queries, and a pointer to the full record. The full
    # compact line above still feeds _salvage_tail_timings with as many
    # per-query timings as the tail window reaches.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    summary = {
        k: compact.get(k)
        for k in (
            "metric",
            "value",
            "unit",
            "total_is_complete",
            "n_ok",
            "n_err",
            "prev_round",
            "n_regressions",
            "n_regressions_normalized",
            "calib_sec",
            "calib_ratio",
            "delta_median_sec",
            "load1",
            "noisiest_steady",
            "sf",
            "streaming_rows_per_sec",
            "streaming_delta_pct",
            "streaming_regression",
            "full_registry_wall_sec",
            "full_registry_delta_pct",
            "full_registry_n_err",
        )
        if k in compact
    }
    summary["queries"] = {n: round(t, 2) for n, t in slowest.items()}
    summary["queries_note"] = f"12 slowest of {len(timings)}; full set in BENCH_LOCAL.json + the line above"
    summary["regressions"] = compact["regressions"][:2]
    if errors:
        summary["errors"] = compact["errors"]
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    # Full record to a sidecar file (the driver's stdout tail buffer
    # truncated r3's long line into parsed:null). `here` was computed at
    # adjudication time above.
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
        json.dump(record, f, indent=1)

    # Full-registry blind-spot sweep (r9 verdict #6) — deliberately LAST,
    # after the headline summary line and sidecar are already out: if a
    # driver-side bench timeout kills the process mid-sweep, the last
    # complete stdout line is still the full headline summary, so the
    # round loses only the sweep number, never the metric (the sweep is
    # the most expendable ~2 min of the run). Every registered query NOT
    # in HEADLINE runs ONCE and only the TOTAL wall is graded
    # round-over-round — the 100+ non-headline queries are cheap by
    # construction and correctness-gated, but nothing else would catch
    # one of them going pathological (e.g. an optimizer regression after
    # a Spark upgrade). Per-query single-run walls land in the sidecar
    # for diagnosis only; they are too noisy to gate individually. The
    # sweep wall is the sum of those walls.
    sweep_names = [n for n in REGISTRY if n not in set(names)]
    sweep_queries: dict[str, float] = {}
    sweep_errors: dict[str, str] = {}
    for name in sweep_names:
        r = run_query(spark, REGISTRY[name].fn, sf_dir, 1)
        if "error" in r:
            sweep_errors[name] = r["error"]
            continue
        sweep_queries[name] = r["total"]
        splits[name] = {"construct": r["construct"], "action": r["action"]}
    full_registry_wall = round(sum(sweep_queries.values()), 3)
    frw_prev = prev.get("_full_registry_wall_sec")
    # Trained-index tier total (r10 verdict #8): summed from the tier's
    # single-run sweep walls — one number, graded round-over-round like
    # the sweep itself, so a trainer pathology can't hide in the
    # bench-excluded family.
    tier_walls = {n: sweep_queries[n] for n in TRAINED_TIER if n in sweep_queries}
    trained_tier_wall = (
        round(sum(tier_walls.values()), 3) if tier_walls else None
    )
    ttw_prev = prev.get("_trained_tier_wall_sec")
    # Machine-normalized deltas alongside the raw ones (r10 ADVICE: the
    # sweep gate compared walls with no machine-speed normalization,
    # unlike the per-query and streaming gates). Mirrors the streaming
    # pair's unclamped two-verdict convention: wall / calib_ratio — a
    # slower box (ratio > 1) scales its inflated wall back down, a
    # faster box (ratio < 1) scales its flattering wall back up.
    # CALIBRATION OF THIS DELTA (r12, SCALE_AB_SWEEP): the raw delta
    # counts newly-registered queries as "regression" and the CPU calib
    # ruler does not transfer to this single-run, scheduler/trainer-bound
    # sweep (r11 read +33.9% normalized; the interleaved matched-set A/B
    # measured +0.49%). Treat a spike here as a TRIPWIRE that orders
    # `scripts/ab.py <sha> sweep` — shared-set, best-of-3, interleaved — never
    # as standalone evidence of a code regression.
    _cal = calib_ratio if isinstance(calib_ratio, (int, float)) else 1.0

    def _delta_pct(cur, prev_val, scale=1.0):
        if isinstance(cur, (int, float)) and isinstance(prev_val, (int, float)) and prev_val > 0:
            return round((cur / scale - prev_val) / prev_val * 100, 1)
        return None

    record.update(
        {
            "full_registry_wall_sec": full_registry_wall,
            "full_registry_n_ok": len(sweep_queries),
            "full_registry_n_err": len(sweep_errors),
            "full_registry_prev_wall_sec": frw_prev,
            "full_registry_delta_pct": _delta_pct(full_registry_wall, frw_prev),
            "full_registry_delta_pct_normalized": _delta_pct(
                full_registry_wall, frw_prev, _cal
            ),
            "trained_tier_wall_sec": trained_tier_wall,
            "trained_tier_queries": tier_walls,
            "trained_tier_prev_wall_sec": ttw_prev,
            "trained_tier_delta_pct": _delta_pct(trained_tier_wall, ttw_prev),
            "trained_tier_delta_pct_normalized": _delta_pct(
                trained_tier_wall, ttw_prev, _cal
            ),
            # Matched-set A/B citation for the tier (r12 verdict #3): the
            # tier dominates the sweep, its raw/normalized deltas are
            # single-run + trainer-bound, so the nearest interleaved
            # shared-set sweep A/B rides the record.
            "trained_tier_ab": _sweep_ab_summary(here) or "unadjudicated",
            "registry_sweep_queries": sweep_queries,
            "registry_sweep_errors": sweep_errors,
        }
    )
    # Re-emit the summary as the new final line, now carrying the sweep
    # verdict, and refresh the sidecar with the complete record.
    summary["full_registry_wall_sec"] = full_registry_wall
    summary["full_registry_delta_pct"] = record["full_registry_delta_pct"]
    summary["full_registry_delta_pct_normalized"] = record[
        "full_registry_delta_pct_normalized"
    ]
    summary["full_registry_n_err"] = len(sweep_errors)
    summary["trained_tier_wall_sec"] = trained_tier_wall
    summary["trained_tier_delta_pct_normalized"] = record[
        "trained_tier_delta_pct_normalized"
    ]
    summary["trained_tier_ab"] = record["trained_tier_ab"]
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
