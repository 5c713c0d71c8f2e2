"""End-to-end pipeline compositions: the engine's operators wired into the
two jobs a user actually ships.

Every stage is the same DataFrame-in/DataFrame-out operator the declared
queries check individually, so the composition inherits their oracle-proven
semantics; what these functions add is the ORDER and the contract between
stages (which columns flow, what each stage may assume).

1. ``corpus_prep`` — the LLM training-data path:
     quality-score -> filter -> normalize+exact-dedup -> split-assign ->
     overlapping chunk windows. Narrow except for the one dedup shuffle;
     every stage is deterministic (hash-based splits, min-id
     representatives), so re-runs and backfills are byte-stable.
2. ``candle_serving`` — the reference's serving path widened into a
     multi-resolution hypertable: 1-min OHLCV -> gap-filled continuous
     series + 5-min rollup (re-aggregated from 1-min candles, never from
     raw trades — reference processor.py:77-101 only ever computed the
     single 1-min tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators import dedup_hash
from .operators.candles import gap_fill_candles, ohlcv, rollup_candles
from .operators.dedup import exact_dedup, normalize_text

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def quality_score(text) -> "F.Column":
    """Heuristic quality in [0, 1]: type-token ratio + stopword ratio +
    length saturation (the q_quality_score expression, reusable)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double") / n
    return (
        0.5 * ttr + 0.3 * stop_ratio + 0.2 * F.least(n.cast("double") / 100.0, F.lit(1.0))
    )


def split_assign(id_col, *, train_pct: int = 90, val_pct: int = 5) -> "F.Column":
    """Deterministic train/val/test tag by stable id-hash (q_split_assign)."""
    h = dedup_hash.token_hash(id_col.cast("string")) % 100
    return (
        F.when(h < train_pct, F.lit("train"))
        .when(h < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def corpus_prep(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.45,
    chunk_tokens: int = 32,
    stride: int = 24,
    observation=None,
) -> DataFrame:
    """documents -> deduplicated, split-tagged, overlapping token chunks.

    Output: one row per chunk with (doc_id, split, quality, chunk_id,
    chunk_text, n_chunk_tokens). Stage order matters at scale: score+filter
    first (narrow, shrinks everything downstream), dedup second (the only
    shuffle), chunk last (explode AFTER dedup so duplicates are never
    chunked). ``stride < chunk_tokens`` gives overlapping windows.
    """
    scored = docs.withColumn("quality", quality_score(F.col(text_col)))
    kept = scored.filter(F.col("quality") >= min_quality)

    deduped = exact_dedup(
        kept.withColumn("__norm", normalize_text(F.col(text_col))),
        key_cols=["__norm"],
        order_col=id_col,
    ).drop("__norm")

    tagged = deduped.withColumn("split", split_assign(F.col(id_col)))
    if observation is not None:
        # Pipeline instrumentation rides the job itself (df.observe):
        # per-run survivor count / mean quality / split distribution with
        # ZERO extra passes — the metrics accumulate during the action
        # that materializes the output, unlike a .count() probe which
        # would re-run the whole plan.
        tagged = tagged.observe(
            observation,
            F.count(F.lit(1)).alias("docs_kept"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        )

    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - F.lit(chunk_tokens - stride), F.lit(1))
        / F.lit(float(stride))
    )
    # explode_outer, not explode: plain explode makes Catalyst infer a
    # size(<chunk transform>) > 0 predicate and push the WHOLE chunking
    # expression into the parquet scan filter, re-evaluating it per input
    # row inside the scan task (the q_contamination lesson). Every doc
    # yields >= 1 chunk (greatest(...,1)), so outer + notNull is identical.
    chunk = F.explode_outer(
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.slice(toks, i * stride + 1, chunk_tokens).alias("toks"),
            ),
        )
    )
    return tagged.select(
        id_col,
        "split",
        "quality",
        chunk.alias("c"),
    ).filter(F.col("c").isNotNull()).select(
        id_col,
        "split",
        "quality",
        F.col("c.chunk_id").alias("chunk_id"),
        F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
        F.size(F.col("c.toks")).alias("n_chunk_tokens"),
    )


def candle_serving(
    trades: DataFrame,
    *,
    ts_col: str = "trade_time",
    key_col: str = "symbol",
    price_col: str = "price",
    qty_col: str | None = "quantity",
) -> dict[str, DataFrame]:
    """trades -> {"1min": gap-filled continuous candles, "5min": rollup}.

    The 5-min tier reads the 1-min AGGREGATE (cost ∝ candle count, not
    trade count); the gap-filled tier guarantees every (symbol, minute)
    exists for chart/monitor consumers. Works unchanged on a streaming
    input for the 1-min tier (gap fill and rollup are batch/foreachBatch
    consumers of the sink table).
    """
    c1 = ohlcv(
        trades,
        ts_col=ts_col,
        key_col=key_col,
        price_col=price_col,
        qty_col=qty_col,
        window_duration="1 minute",
    )
    filled = gap_fill_candles(
        c1.select(
            "symbol",
            F.col("window_start").cast("timestamp").alias("window_start"),
            "open_price",
            "high_price",
            "low_price",
            "close_price",
            "n_trades",
        )
    )
    c5 = rollup_candles(c1, window_duration="5 minutes")
    return {"1min": filled, "5min": c5}


def training_release(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.45,
    contam_k: int = 5,
    observation=None,
) -> DataFrame:
    """Release audit for a training corpus: every input doc classified as
    ``kept`` / ``low_quality`` / ``exact_dup`` / ``near_dup`` /
    ``contaminated``, with the hash split attached to the keepers.

    This is the end-to-end curation gauntlet (quality gate -> exact dedup
    -> MinHash-LSH near-dup screen -> benchmark decontamination -> split
    assignment) composed from the same primitives the declared queries
    prove individually — what the composition adds is PRECEDENCE (each
    screen only sees the previous stage's survivors, so one doc gets one
    reason) and the audit shape: emitting every doc with its verdict is
    what makes a release reviewable and the drop-rates monitorable
    (df.observe counts ride the output action, zero extra passes).

    Scale: quality + fingerprints are narrow; exact dedup is one
    fp-partitioned aggregate+join; the near-dup screen is the banded-LSH
    keep-lowest-per-bucket rule (one shuffle on the band digest — the
    conservative, join-free approximation of X2's transitive-component
    dedup: the globally lowest id of every collision group always
    survives); decontamination explodes doc k-grams once and semi-joins
    the BROADCAST benchmark shingle set. Nothing in the pipeline holds
    more than (id, digest) pairs in a shuffle.
    """
    text = F.col(text_col)
    scored = docs.withColumn("quality", quality_score(text)).withColumn(
        "fp", F.md5(normalize_text(text).cast("binary"))
    )
    low = F.col("quality") < min_quality

    fp_min = (
        scored.filter(~low)
        .groupBy("fp")
        .agg(F.min(id_col).alias("fp_min"))
    )
    # base feeds three branches (near-dup screen, decontamination, final
    # status join); without materialization each branch re-derives the
    # doc scan + quality scoring + fingerprint aggregate+join.
    # localCheckpoint, NOT persist(): a CacheManager-registered persist
    # with no matching unpersist leaks executor cache across invocations
    # and silently serves later runs from the first run's cache (the
    # q_pagerank rationale in queries/relational.py). The eager local
    # checkpoint materializes once, is owned by this invocation alone,
    # and is GC'd with the DataFrame (at 100 TB this is the point where a
    # release pipeline stages to parquet anyway).
    base = scored.join(fp_min, "fp", "left").localCheckpoint(eager=True)
    exact_dup = (~low) & (F.col(id_col) != F.col("fp_min"))

    # Near-dup screen over quality+exact survivors with non-empty shingle
    # sets (empty-shingle docs would all collide on the empty-signature
    # band digest and mass-flag each other).
    surv = base.filter(~low & ~exact_dup).selectExpr(
        id_col, f"{dedup_hash.sparksql_word_shingles(text_col)} AS sh"
    ).filter(F.size("sh") > 0)
    hashed = surv.selectExpr(
        id_col, f"{dedup_hash.sparksql_token_hash_list('sh')} AS hs"
    ).selectExpr(id_col, *dedup_hash.sparksql_minhash_signature("hs"))
    sig_cols = [f"m{i}" for i in range(len(dedup_hash.MINHASH_PERMS))]
    banded = hashed.selectExpr(
        id_col,
        *(f"{d} AS band{b}" for b, d in enumerate(dedup_hash.sparksql_band_hashes(sig_cols))),
    )
    melt = banded.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), F.col(f"band{b}").alias("digest")
                    )
                    for b in range(dedup_hash.LSH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "bd.band_id", "bd.digest")
    bmin = melt.groupBy("band_id", "digest").agg(F.min(id_col).alias("b_min"))
    near_ids = (
        melt.join(bmin, ["band_id", "digest"])
        .filter(F.col("b_min") < F.col(id_col))
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )

    bench_shingles = (
        benchmark.select(
            F.explode(F.expr(dedup_hash.sparksql_word_shingles(text_col, contam_k))).alias("g")
        )
        .distinct()
    )
    contam_ids = (
        base.filter(~low & ~exact_dup)
        .select(
            id_col,
            F.explode_outer(
                F.expr(dedup_hash.sparksql_word_shingles(text_col, contam_k))
            ).alias("g"),
        )
        .join(F.broadcast(bench_shingles), "g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__contam", F.lit(True))
    )

    out = (
        base.join(near_ids, id_col, "left")
        .join(contam_ids, id_col, "left")
        .withColumn(
            "status",
            F.when(low, F.lit("low_quality"))
            .when(exact_dup, F.lit("exact_dup"))
            .when(F.col("__near"), F.lit("near_dup"))
            .when(F.col("__contam"), F.lit("contaminated"))
            .otherwise(F.lit("kept")),
        )
        .withColumn(
            "split",
            F.when(F.col("status") == "kept", split_assign(F.col(id_col))),
        )
        .select(id_col, "quality", "status", "split")
    )
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("docs_in"),
            F.count(F.when(F.col("status") == "kept", 1)).alias("kept"),
            F.count(F.when(F.col("status") == "exact_dup", 1)).alias("exact_dups"),
            F.count(F.when(F.col("status") == "near_dup", 1)).alias("near_dups"),
            F.count(F.when(F.col("status") == "contaminated", 1)).alias("contaminated"),
            F.count(F.when(F.col("status") == "low_quality", 1)).alias("low_quality"),
        )
    return out
