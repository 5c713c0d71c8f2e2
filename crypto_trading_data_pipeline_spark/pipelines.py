"""End-to-end pipeline composition: the engine's operators wired into the
LLM training-data job.

Every stage is the same DataFrame-in/DataFrame-out operator the declared
queries check individually, so the composition inherits their oracle-proven
semantics; what ``corpus_prep`` adds is the ORDER and the contract between
stages (which columns flow, what each stage may assume):
quality-score -> filter -> normalize+exact-dedup -> split-assign ->
overlapping chunk windows. Narrow except for the one dedup shuffle; every
stage is deterministic (hash-based splits, min-id representatives), so
re-runs and backfills are byte-stable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators import dedup_hash
from .operators.dedup import exact_dedup, normalize_text

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
#: corpus_prep's chunk length and step, in tokens.
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


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


def split_assign(id_col) -> "F.Column":
    """Deterministic 90/5/5 train/val/test tag by stable id-hash
    (q_split_assign)."""
    h = dedup_hash.token_hash(id_col.cast("string")) % 100
    return (
        F.when(h < 90, F.lit("train"))
        .when(h < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def corpus_prep(docs: DataFrame, *, observation=None) -> DataFrame:
    """documents -> deduplicated, split-tagged, overlapping token chunks.

    Reads ``doc_id`` and ``text``; keeps documents of quality >= 0.45.
    Output: one row per chunk with (doc_id, split, quality, chunk_id,
    chunk_text, n_chunk_tokens). Stage order matters at scale: score+filter
    first (narrow, shrinks everything downstream), dedup second (the only
    shuffle), chunk last (explode AFTER dedup so duplicates are never
    chunked). Chunks are 32 tokens every 24, so neighbours overlap by 8.
    """
    scored = docs.withColumn("quality", quality_score(F.col("text")))
    kept = scored.filter(F.col("quality") >= 0.45)

    deduped = exact_dedup(
        kept.withColumn("__norm", normalize_text(F.col("text"))),
        key_cols=["__norm"],
        order_col="doc_id",
    ).drop("__norm")

    tagged = deduped.withColumn("split", split_assign(F.col("doc_id")))
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

    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - F.lit(_CHUNK_TOKENS - _CHUNK_STRIDE), F.lit(1))
        / F.lit(float(_CHUNK_STRIDE))
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
                F.slice(toks, i * _CHUNK_STRIDE + 1, _CHUNK_TOKENS).alias("toks"),
            ),
        )
    )
    return tagged.select(
        "doc_id",
        "split",
        "quality",
        chunk.alias("c"),
    ).filter(F.col("c").isNotNull()).select(
        "doc_id",
        "split",
        "quality",
        F.col("c.chunk_id").alias("chunk_id"),
        F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
        F.size(F.col("c.toks")).alias("n_chunk_tokens"),
    )
