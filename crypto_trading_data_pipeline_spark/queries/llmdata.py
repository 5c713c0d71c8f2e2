"""LLM-training-data operators over documents/embeddings (SURVEY.md §2.6 X1-X4
+ BASELINE.json north star: dedup, similarity search, text analysis).

All pure built-in-function implementations (no Python UDFs): string/array
higher-order functions run inside whole-stage codegen, so these scale exactly
like any relational query — the dedup representative-pick is one hash
aggregate; cosine top-k broadcasts the (small) query side.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from ..operators import dedup_hash
from ..operators.dedup import exact_dedup, normalize_text
from ..operators.scale import fan_out
from ..operators.text import token_stats_cols
from . import query

# ---------------------------------------------------------------------------
# Deduplication (X1, X2)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             min(doc_id) OVER (PARTITION BY text) AS rep
      FROM documents
    ) WHERE doc_id = rep
    """,
    doc="Exact dedup keeping the lowest doc_id per identical text (deterministic dropDuplicates).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, key_cols=["text"], order_col="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q_dedup_norm",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             min(doc_id) OVER (
               PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
             ) AS rep
      FROM documents
    ) WHERE doc_id = rep
    """,
    doc="Normalized dedup: lowercase + trim + whitespace-collapse before keying (near-dup canonicalization step).",
)
def q_dedup_norm(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    normed = docs.withColumn("_norm", normalize_text(F.col("text")))
    return exact_dedup(normed, key_cols=["_norm"], order_col="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Text analysis (X4)
# ---------------------------------------------------------------------------


@query(
    "q_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_types,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS ttr,
           length(text) AS n_chars_measured
    FROM documents
    """,
    doc="Whitespace tokenization stats: token count, vocabulary (type) count, type-token ratio.",
)
def q_token_stats(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *token_stats_cols(F.col("text")))


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_norm
    FROM documents
    """,
    doc="Content fingerprinting: md5 digest of raw and normalized text (join key for cross-corpus dedup).",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fp_norm"),
    )


@query(
    "q_quality_score",
    oracle="""
    SELECT doc_id, n_tokens, ttr, stop_ratio,
           0.5 * ttr + 0.3 * stop_ratio
                 + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr,
             CAST(len(list_filter(string_split(text, ' '),
                        t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    )
    """,
    doc="Heuristic quality scoring: type-token ratio + stopword ratio + length saturation, composed into one bounded score.",
)
def q_quality_score(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "it"]])
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # Unrounded ratios: integer-derived doubles are bit-identical across
    # engines; ROUND would reintroduce half-boundary rounding-mode mismatches.
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double") / n
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
    ).withColumn(
        "quality",
        0.5 * F.col("ttr")
        + 0.3 * F.col("stop_ratio")
        + 0.2 * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)),
    )


# ---------------------------------------------------------------------------
# Similarity search (X3)
# ---------------------------------------------------------------------------


#: The embeddings table's id and vector columns, and the neighbours kept
#: per query vector.
_EMB_ID_COL = "vec_id"
_EMB_VEC_COL = "embedding"
_COSINE_K = 5


def _cosine_topk(corpus, queries):
    """Exact top-``_COSINE_K`` cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, sim, rnk). Ranking uses the similarity
    ROUNDED to 6 decimals, with a neighbor-id tie-break, so results are
    reproducible.

    Brute force is the exact baseline: broadcast the (small) query side
    against the corpus and compute the dot products with array higher-order
    functions. The corpus streams through executors once; the cost is
    O(|queries| * |corpus| * dim) FLOPs with zero shuffle of the corpus (the
    only shuffle is the final per-query top-k, |queries|*k rows).
    """
    from ..operators.similarity import as_double_vec, dot, l2_norm

    # FLOP cost dominates the scan — spread the corpus across all cores even
    # when it arrives as one split (no-op when the scan is already parallel).
    c = fan_out(corpus).select(
        F.col(_EMB_ID_COL).alias("neighbor_id"),
        as_double_vec(F.col(_EMB_VEC_COL)).alias("cv"),
    ).withColumn("cn", l2_norm(F.col("cv")))
    q = queries.select(
        F.col(_EMB_ID_COL).alias("query_id"),
        as_double_vec(F.col(_EMB_VEC_COL)).alias("qv"),
    ).withColumn("qn", l2_norm(F.col("qv")))

    pairs = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return pairs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= _COSINE_K)


@query(
    "q_cosine_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS sim
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
    doc="Brute-force cosine top-5 for query vectors (vec_id<5): broadcast the query side, rank on rounded similarity with id tie-break.",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    return _cosine_topk(emb, emb.filter(F.col("vec_id") < 5))


@query(
    "q_multimodal_features",
    # The deterministic stub decoder is pure byte arithmetic (length,
    # first byte, last byte of the payload), so the WHOLE pipeline —
    # encode to binary, Arrow batch transfer, mapInPandas decode — is
    # hash-checkable against a SQL oracle that predicts the same features
    # from the utf-8 bytes (the q_media_roundtrip move). DuckDB has no
    # blob indexing; bytes come out via hex() + substring.
    oracle="""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             CASE WHEN octet_length(encode(text)) = 0 THEN 0
                  ELSE CAST(('0x' || substring(hex(encode(text)), 1, 2)) AS BIGINT)
             END AS firstb,
             CASE WHEN octet_length(encode(text)) = 0 THEN 0
                  ELSE CAST(('0x' || substring(hex(encode(text)),
                                               length(hex(encode(text))) - 1, 2)) AS BIGINT)
             END AS lastb
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(16 + (n % 1024) AS INTEGER)                AS width,
           CAST(16 + ((n * 7 + firstb) % 1024) AS INTEGER) AS height,
           CAST((firstb + lastb) % 256 AS INTEGER)         AS mean_luma
    FROM b
    """,
    doc=(
        "Multimodal plumbing (north-star X): wrap bytes as canonical media "
        "records, extract features via Arrow-batched mapInPandas. The decoder "
        "is a deterministic stub (no image libs in container) whose features "
        "are pure byte arithmetic, so the full binary->Arrow->mapInPandas "
        "path carries a hash-match oracle; schemas, batch shapes and "
        "partitioning are the real scale-path plumbing."
    ),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str):
    from ..operators.multimodal import attach_media, extract_image_features

    docs = read_table(spark, sf_dir, "documents")
    media = attach_media(
        docs.withColumn("payload", F.encode("text", "utf-8")),
        id_col="doc_id",
        bytes_col="payload",
    )
    return extract_image_features(media)


# BPE-ish subword pattern: at any position exactly one branch can start
# (lowercase run | Capitalized run | digit run | single other symbol), so
# Java regex (Spark) and RE2 (DuckDB) tokenize identically despite their
# different alternation semantics.
_SUBWORD_RE = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"


@query(
    "q_token_regex",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_SUBWORD_RE}'))                AS n_subwords,
           len(list_distinct(regexp_extract_all(text, '{_SUBWORD_RE}'))) AS n_subword_types,
           CAST(len(regexp_extract_all(text, '{_SUBWORD_RE}')) AS DOUBLE)
                 / len(string_split(text, ' '))                          AS subwords_per_word
    FROM documents
    """,
    doc=(
        "BPE-style token counting: a subword regex (case runs, digit runs, "
        "single symbols) approximates byte-pair segmentation without a "
        "vocabulary. subwords_per_word is the fertility estimate used for "
        "LLM token budgeting over a corpus."
    ),
)
def q_token_regex(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    sub = F.regexp_extract_all(F.col("text"), F.lit(_SUBWORD_RE), 0)
    n_sub = F.size(sub)
    return docs.select(
        "doc_id",
        n_sub.alias("n_subwords"),
        F.size(F.array_distinct(sub)).alias("n_subword_types"),
        (n_sub.cast("double") / F.size(F.split(F.col("text"), " "))).alias(
            "subwords_per_word"
        ),
    )


#: Rolling-hash constants: base fits acc*B + x inside int64 given acc,x < P.
_ROLL_B = 1_000_003
_ROLL_P = 2_147_483_647


@query(
    "q_fingerprint_rolling",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              t -> {dedup_hash.sql_token_hash('t')})),
             (acc, x) -> (acc * {_ROLL_B} + x) % {_ROLL_P}
           ) AS fp_rolling
    FROM documents
    """,
    doc=(
        "Order-sensitive polynomial rolling hash over token hashes "
        "(fp = fold (acc*B + h(t)) mod P): unlike the md5 digest it changes "
        "under token reordering, and prefix hashes can be maintained "
        "incrementally for streaming fingerprint updates. Row-local, "
        "whole-stage codegen, zero shuffles."
    ),
)
def q_fingerprint_rolling(spark: SparkSession, sf_dir: str):
    docs = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    hs = F.transform(F.split(F.col("text"), " "), dedup_hash.token_hash)
    fp = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(_ROLL_B) + x) % F.lit(_ROLL_P),
    )
    return docs.select("doc_id", fp.alias("fp_rolling"))


@query(
    "q_term_freq",
    oracle="""
    SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
    """,
    doc=(
        "Corpus term/document frequency, top-20: the canonical explode + "
        "count workload. explode is a narrow op (no shuffle); the groupBy "
        "partial-aggregates before shuffling, so shuffle volume is "
        "|vocabulary|, not |tokens|. Deterministic tie-break on token."
    ),
)
def q_term_freq(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(20)
    )


@query(
    "q_split_assign",
    oracle=f"""
    SELECT lang, split, count(*) AS n
    FROM (
      SELECT lang,
             CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT lang,
               {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM documents
      )
    )
    GROUP BY lang, split
    """,
    doc=(
        "Deterministic train/val/test split (90/5/5) by stable hash of the "
        "document id: assignment is a pure narrow map — reproducible across "
        "runs, engines, and repartitions, and new documents never reshuffle "
        "old ones (the property random splits lack). Returns per-lang split "
        "counts; the same expression tags rows for partitioned writes."
    ),
)
def q_split_assign(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 90, F.lit("train")).when(h < 95, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_dedup_keep_best",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY md5(text) ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk = 1
    """,
    doc=(
        "Quality-aware dedup: one representative per content fingerprint, "
        "keeping the HIGHEST-quality copy (n_chars as the quality proxy "
        "here; any score column slots in) with doc_id tie-break — real "
        "pipelines keep the best duplicate, not the first. Same one-shuffle "
        "rank-filter shape as exact dedup."
    ),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def _cosine_topk_pandas(corpus, queries):
    """Arrow/NumPy variant of _cosine_topk: queries are collected (they are
    top-k-small by construction), L2-normalized, broadcast as one matrix;
    each Arrow batch of the corpus scores against ALL queries with a single
    BLAS matmul inside mapInPandas.

    When to prefer which (measured at sf0.1, 64-dim):
    - few queries (<~100): the JVM higher-order-function path wins — no
      Python hop, whole-stage codegen, same wall-clock;
    - many queries: this path wins increasingly — the |batch| x |queries|
      matmul amortizes the Arrow transfer, while the HOF path pays a
      per-(row x query) expression evaluation with no SIMD reuse.

    Output and determinism contract identical to _cosine_topk (rounded sim,
    neighbor-id tie-break), so the two are drop-in interchangeable.
    """
    import numpy as np
    import pandas as pd

    from ..operators.similarity import as_double_vec

    qrows = queries.select(
        F.col(_EMB_ID_COL).alias("qid"), as_double_vec(F.col(_EMB_VEC_COL)).alias("qv")
    ).collect()
    qids = np.array([r.qid for r in qrows], dtype=np.int64)
    Q = np.array([r.qv for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Qn))

    def score(batches):
        ids, Qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf[_EMB_VEC_COL].tolist(), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qm.T
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "neighbor_id": np.repeat(pdf[_EMB_ID_COL].values, len(ids)),
                    "query_id": np.tile(ids, n),
                    "sim": np.round(S.ravel(), 6),
                }
            )
            yield out[out.neighbor_id != out.query_id]

    scored = fan_out(corpus.select(_EMB_ID_COL, _EMB_VEC_COL)).mapInPandas(
        score, "neighbor_id long, query_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _COSINE_K)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


@query(
    "q_cosine_topk_pandas",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS sim
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
    doc=(
        "Arrow/NumPy twin of q_cosine_topk: one BLAS matmul per Arrow batch "
        "against the broadcast query matrix (mapInPandas). Same oracle, same "
        "results — the measured crossover vs the JVM HOF path is documented "
        "in _cosine_topk_pandas."
    ),
)
def q_cosine_topk_pandas(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    return _cosine_topk_pandas(emb, emb.filter(F.col("vec_id") < 5))


_CHUNK, _STRIDE = 32, 24  # 32-token windows, 8-token overlap


@query(
    "q_chunk_docs",
    oracle=f"""
    SELECT doc_id, chunk_idx,
           len(chunk_toks)                  AS n_tokens,
           array_to_string(chunk_toks, ' ') AS chunk_text
    FROM (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
             list_slice(toks, i * {_STRIDE} + 1, i * {_STRIDE} + {_CHUNK}) AS chunk_toks
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           UNNEST(range(0, CAST(ceil(greatest(len(toks) - {_CHUNK - _STRIDE}, 1)
                                     / {_STRIDE}.0) AS BIGINT))) AS t(i)
    )
    """,
    doc=(
        f"Document chunking for LLM training: overlapping {_CHUNK}-token "
        f"windows with stride {_STRIDE} (8-token overlap keeps context at "
        "chunk boundaries). Pure narrow array ops — sequence + slice + "
        "posexplode, no shuffle; output rows ~= tokens/stride regardless of "
        "document skew."
    ),
)
def q_chunk_docs(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - F.lit(_CHUNK - _STRIDE), F.lit(1)) / F.lit(float(_STRIDE))
    )
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.slice(toks, i * _STRIDE + 1, _CHUNK),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_toks"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk_toks").alias("n_tokens"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
        )
    )


_PACK_BUDGET = 256
_PACK_SHARDS = 16
_PACK_SHARD_STRIDE = 1 << 40  # pack_id = shard * stride + local_pack


@query(
    "q_pack_greedy",
    oracle=f"""
    SELECT pack_id,
           count(*)                        AS n_docs,
           CAST(sum(n_toks) AS BIGINT)     AS pack_tokens
    FROM (
      SELECT doc_id, n_toks,
             shard * {_PACK_SHARD_STRIDE}
               + CAST(floor((cum - n_toks) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
      FROM (
        SELECT doc_id, n_toks, shard,
               sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT doc_id,
                     {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")}
                       % {_PACK_SHARDS} AS shard,
                     len(string_split(text, ' ')) AS n_toks
              FROM documents)
      )
    )
    GROUP BY pack_id
    """,
    doc=(
        f"Greedy sequence packing: docs accumulate into {_PACK_BUDGET}-token "
        "bins via running-sum bucketing (pack_id = floor((cumsum-n)/budget)) "
        f"— one window pass + one aggregate, no per-bin iteration. The "
        f"running sum is SHARDED on a stable doc_id hash ({_PACK_SHARDS} "
        "shards), so no single task ever serializes the whole table (the "
        "scale-killer of a global ORDER BY window); pack ids stay globally "
        f"unique as shard*2^40 + local_pack. Bins can overflow by at most "
        "one document, per shard."
    ),
)
def q_pack_greedy(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.col("text"), " "))
    shard = dedup_hash.token_hash(F.col("doc_id").cast("string")) % _PACK_SHARDS
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = docs.select(
        "doc_id", shard.alias("shard"), n_toks.alias("n_toks")
    ).withColumn("cum", F.sum("n_toks").over(w))
    packed = sized.withColumn(
        "pack_id",
        F.col("shard") * F.lit(_PACK_SHARD_STRIDE)
        + F.floor((F.col("cum") - F.col("n_toks")) / F.lit(float(_PACK_BUDGET))).cast("long"),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("pack_tokens"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(v) AS INTEGER)                                   AS dim,
           round(list_aggregate(v, 'min'), 6)                        AS vmin,
           round(list_aggregate(v, 'max'), 6)                        AS vmax,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER)          AS n_pos,
           round(list_sort(v)[1], 6)                                 AS smallest,
           round(list_aggregate(list_transform(v, x -> x * x), 'sum'), 6) AS sq_sum
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    """,
    doc=(
        "Array higher-order-function sweep over embedding vectors: size, "
        "element extremes, lambda filter count, sort+index, transform+"
        "aggregate — all JVM-side codegen (the primitives every vector "
        "operator in this engine composes from), zero Python, zero shuffle."
    ),
)
def q_array_funcs(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import as_double_vec

    emb = read_table(spark, sf_dir, "embeddings")
    v = as_double_vec(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.round(F.array_min(v), 6).alias("vmin"),
        F.round(F.array_max(v), 6).alias("vmax"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(F.sort_array(v)[0], 6).alias("smallest"),
        F.round(
            F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sq_sum"),
    )


@query(
    "q_sample_hash",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} % 1000 < 100
    """,
    doc=(
        "Deterministic 10% Bernoulli sample by stable id-hash: a pure "
        "narrow filter — no shuffle, no RNG state, reproducible across "
        "runs/engines/partitionings, and composable with q_split_assign "
        "(disjoint hash ranges give disjoint samples). At 100 TB this is "
        "the only sampling that survives re-runs and appends unchanged."
    ),
)
def q_sample_hash(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string")) % 1000
    return docs.filter(h < 100).select("doc_id", "lang", "n_chars")


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ) WHERE rk <= ceil(0.05 * n)
    """,
    doc=(
        "Stratified exact-fraction sample: 5% per lang, selected by "
        "hash-order rank so the draw is deterministic and uniform within "
        "each stratum. One shuffle on the stratum key; per-stratum EXACT "
        "counts (unlike Bernoulli, which only hits the fraction in "
        "expectation) — what eval-set construction needs."
    ),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    wc = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rk") <= F.ceil(0.05 * F.col("n")))
        .select("doc_id", "lang")
    )


@query(
    "q_corpus_prep",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * (CAST(len(list_filter(string_split(text, ' '),
                          t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.2 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
             AS quality
      FROM documents
    ), kept AS (
      SELECT * FROM scored WHERE quality >= 0.45
    ), norm AS (
      SELECT doc_id, text, quality,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
      FROM kept
    ), dedup AS (
      SELECT doc_id, text, quality FROM norm
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY nrm)
    ), tagged AS (
      SELECT doc_id, text, quality,
             CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT *, {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM dedup
      )
    ), toks AS (
      SELECT doc_id, split, quality, string_split(text, ' ') AS t FROM tagged
    ), chunks AS (
      SELECT doc_id, split, quality,
             CAST(i AS INTEGER)                       AS chunk_id,
             list_slice(t, i * 24 + 1, i * 24 + 32)   AS ctoks
      FROM toks,
           UNNEST(range(0, CAST(ceil(greatest(len(t) - 8, 1) / 24.0) AS BIGINT))) AS u(i)
    )
    SELECT doc_id, split, quality, chunk_id,
           array_to_string(ctoks, ' ')        AS chunk_text,
           CAST(len(ctoks) AS INTEGER)        AS n_chunk_tokens
    FROM chunks
    """,
    doc=(
        "The COMPOSED training-data pipeline (pipelines.corpus_prep) "
        "oracle-checked end to end: quality-score -> filter -> "
        "normalize+exact-dedup -> hash split-assign -> overlapping 32/24 "
        "chunk windows. Each stage is individually proven by its own query; "
        "this one proves the composition (column contracts, stage order) "
        "with one shuffle total (the dedup) — everything else narrow."
    ),
)
def q_corpus_prep(spark: SparkSession, sf_dir: str):
    from ..pipelines import corpus_prep

    return corpus_prep(read_table(spark, sf_dir, "documents"))


@query(
    "q_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n FROM documents
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT tf.doc_id, tf.term,
             round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) DESC,
                        tf.term
             ) AS rnk
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE tf.doc_id < 50
    ) WHERE rnk <= 3
    """,
    doc=(
        "TF-IDF top-3 terms per document: one explode -> (doc, term) "
        "count, document frequency derived FROM the tf aggregate (no "
        "second corpus pass), corpus size as a one-row broadcast. The df "
        "side is |vocab| rows — a web-scale corpus's distinct-term table "
        "is tens of GB (typos, unicode, code tokens), far over Spark's "
        "broadcast cap, so it is deliberately NOT broadcast: both sides "
        "are term-keyed aggregates and the shuffle hash join on term is "
        "the plan that survives 100 TB (plan-gated in "
        "tests/test_plan_quality.py). Only the one-row corpus count is "
        "broadcast. Ties break on rounded score then term, reproducible "
        "across engines."
    ),
)
def q_tfidf(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.filter(F.col("doc_id") < 50)
        .join(df, "term")
        .join(F.broadcast(n))
        .withColumn("tfidf", tfidf)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "q_repetition_ratio",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)                    AS n_tokens,
           CAST(max(c) AS BIGINT)                    AS top_term_count,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS repetition_ratio
    FROM tf GROUP BY doc_id
    """,
    doc=(
        "Repetition ratio (most-frequent-term share of tokens) — the "
        "boilerplate/template-spam signal LLM corpus filters threshold "
        "on. Two partial+final aggregates over the exploded tokens; "
        "nothing wider than (doc, term) ever shuffles."
    ),
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_term_count"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("repetition_ratio"),
    )


@query(
    "q_bigram_freq",
    oracle="""
    SELECT bigram, count(*) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM (SELECT string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 2
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    doc=(
        "Corpus bigram frequency top-20 — the n-gram LM / contamination "
        "screen statistic. Bigrams built with a narrow sequence+transform "
        "(no self-join of token positions), one partial+final count, and "
        "the global top-k plans as TakeOrderedAndProject (per-partition "
        "heap + driver merge), never a full sort."
    ),
)
def q_bigram_freq(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    return (
        fan_out(docs)
        .filter(F.size(t) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@query(
    "q_sample_weighted",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ({dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0
          < least(n_chars / 1000.0, 1.0)
    """,
    doc=(
        "Deterministic WEIGHTED sampling: keep probability proportional to "
        "document length (capped at 1), decided by stable id-hash vs the "
        "weight — the quality/length-weighted corpus downsampling step. "
        "Same reproducibility contract as q_sample_hash (engine-invariant, "
        "append-stable, re-run-stable), still a pure narrow filter: the "
        "weight just moves the per-row hash threshold."
    ),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    frac = (
        dedup_hash.token_hash(F.col("doc_id").cast("string")) % 1_000_000
    ) / F.lit(1_000_000.0)
    weight = F.least(F.col("n_chars") / F.lit(1000.0), F.lit(1.0))
    return docs.filter(frac < weight).select("doc_id", "lang", "n_chars")


#: Weighted-without-replacement sample size (Efraimidis-Spirakis A-Res).
_WTOPK_K = 200


@query(
    "q_sample_weighted_topk",
    oracle=f"""
    SELECT doc_id, lang, n_chars, key
    FROM (
      SELECT doc_id, lang, n_chars,
             round(pow(({dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} + 1)
                       / {dedup_hash.MINHASH_P + 1}.0,
                   1.0 / CAST(greatest(n_chars, 1) AS DOUBLE)), 12) AS key
      FROM documents
    )
    ORDER BY key DESC, doc_id LIMIT {_WTOPK_K}
    """,
    doc=(
        "Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006 "
        "A-Res): each doc draws u = (hash+1)/(P+1) from its stable id "
        "hash and keys as u^(1/weight); the k largest keys are EXACTLY a "
        "weight-proportional draw without replacement — the fixed-BUDGET "
        "complement of q_sample_weighted's Bernoulli form (which only "
        "controls the expected size). Deterministic end to end: the "
        "'randomness' is the id hash, so the draw is reproducible, "
        "engine-invariant, and append-stable; keys are rounded to 12 "
        "decimals before ranking so a last-ulp pow() divergence between "
        "engines' libm cannot flip the selection boundary (adjacent keys "
        "differ by ~1e-6; the rounding step is 1e-12). Plan: pure narrow "
        "key computation + orderBy/limit = TakeOrderedAndProject "
        "(per-partition heaps, driver merges k rows) — no global sort, no "
        "single-partition window, at any corpus size."
    ),
)
def q_sample_weighted_topk(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    u = (
        dedup_hash.token_hash(F.col("doc_id").cast("string")) + 1
    ) / F.lit(float(dedup_hash.MINHASH_P + 1))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")),
        12,
    )
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(_WTOPK_K)
    )


@query(
    "q_dedup_incremental",
    oracle="""
    SELECT n.doc_id, n.lang, n.n_chars
    FROM documents n
    WHERE n.doc_id >= 400
      AND NOT EXISTS (
        SELECT 1 FROM documents o
        WHERE o.doc_id < 400 AND md5(o.text) = md5(n.text)
      )
      AND n.doc_id = (
        SELECT min(doc_id) FROM documents x
        WHERE x.doc_id >= 400 AND md5(x.text) = md5(n.text)
      )
    """,
    doc=(
        "Incremental append dedup: a NEW batch (doc_id>=400 stands in) is "
        "deduplicated (a) against the EXISTING corpus by content "
        "fingerprint — an anti join against the fingerprint index, "
        "touching no text — and (b) within itself (keep-lowest). This is "
        "the steady-state ingest shape at 100 TB: the corpus is never "
        "re-deduplicated, only the delta joins against a persisted "
        "fingerprint table; cost is O(|batch|) + one broadcast or "
        "bucketed join, independent of corpus size."
    ),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    existing_fps = docs.filter(F.col("doc_id") < 400).select(fp.alias("fp"))
    batch = docs.filter(F.col("doc_id") >= 400).withColumn("fp", fp)
    fresh = batch.join(existing_fps, "fp", "left_anti")
    return (
        exact_dedup(fresh, key_cols=["fp"], order_col="doc_id")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "q_media_roundtrip",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 + doc_id % 13 AS INTEGER)            AS width,
           CAST(3 + doc_id % 7 AS INTEGER)             AS height,
           CAST(8 + (4 + doc_id % 13) * (3 + doc_id % 7) * 3 AS BIGINT) AS img_bytes,
           CAST(floor(((doc_id * 7) % 256) * 0.299) AS INTEGER) AS mean_luma,
           CAST(8000 AS INTEGER)                       AS sample_rate,
           CAST((100 + doc_id % 50) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(100 + doc_id % 900 AS INTEGER)         AS rms_level
    FROM documents
    """,
    doc=(
        "Multimodal ENCODE->DECODE round-trip with a full hash-match "
        "oracle: per doc, synthesize a real raw-RGB bitmap (solid red "
        "c = 7*doc_id mod 256, dimensions derived from doc_id) and a real "
        "mono PCM16 WAV (constant amplitude, 8 kHz) inside an Arrow-batched "
        "mapInPandas, then run them through the REAL numpy decoders "
        "(operators/multimodal.py raw_rgb_decode / wav_audio_decode — RIFF "
        "header parse, pixel-buffer reshape, Rec.601 luma, sample RMS). "
        "Every output is integer-exact (DC signal RMS = amplitude; luma "
        "margin to the floor boundary >= 1e-3 vs ~1e-13 fp error), so the "
        "oracle predicts the decoded values arithmetically — the binary "
        "framing, byte round-trip, and decoder math are all inside the "
        "hash. Payloads never shuffle (synth + decode fuse in one narrow "
        "stage); at 100 TB this is the scan-speed decode pass with "
        "executor memory bounded by the Arrow batch size."
    ),
)
def q_media_roundtrip(spark: SparkSession, sf_dir: str):
    import pandas as pd

    from ..operators.multimodal import (
        encode_raw_rgb,
        encode_wav_pcm16,
        raw_rgb_decode,
        wav_audio_decode,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    out_schema = (
        "media_id long, width int, height int, img_bytes long, mean_luma int, "
        "sample_rate int, duration_ms long, rms_level int"
    )

    def synth_and_decode(batches):
        import numpy as np

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            imgs, wavs = [], []
            for d in ids:
                w, h, c = 4 + d % 13, 3 + d % 7, (d * 7) % 256
                px = np.zeros((h, w, 3), dtype="uint8")
                px[..., 0] = c
                imgs.append(encode_raw_rgb(px))
                amp, n = 100 + d % 900, 100 + d % 50
                wavs.append(encode_wav_pcm16(np.full(n, amp, dtype="int16")))
            img_feats = raw_rgb_decode(pd.Series(imgs))
            wav_feats = wav_audio_decode(pd.Series(wavs))
            yield pd.DataFrame(
                {
                    "media_id": ids.values,
                    "width": img_feats["width"],
                    "height": img_feats["height"],
                    "img_bytes": pd.Series([len(b) for b in imgs], dtype="int64"),
                    "mean_luma": img_feats["mean_luma"],
                    "sample_rate": wav_feats["sample_rate"],
                    "duration_ms": wav_feats["duration_ms"],
                    "rms_level": wav_feats["rms_level"],
                }
            )

    return docs.mapInPandas(synth_and_decode, schema=out_schema)


@query(
    "q_unigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), lm AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), stats AS (
      SELECT sum(c) AS total, count(*) AS vocab FROM lm
    ), scored AS (
      SELECT t.doc_id,
             count(*) AS n_tok,
             sum(ln((lm.c + 1.0) / (stats.total + stats.vocab))) AS ll
      FROM toks t JOIN lm ON t.tok = lm.tok CROSS JOIN stats
      GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           round(-ll / n_tok, 4) AS avg_nll
    FROM scored
    """,
    doc=(
        "Unigram language-model quality score (the CCNet/KenLM-shaped "
        "signal, degree-0): train the LM IN the query — one aggregate "
        "for token counts, add-one smoothing over (total + vocab) — then "
        "score each doc by average negative log-likelihood of its "
        "tokens. High avg_nll = improbable token mix = filter candidate. "
        "Spark plan: explode once, broadcast the unigram table back onto "
        "the token stream (vocab << corpus — at 100 TB the LM is trained "
        "on a sample shard and broadcast as a dimension, exactly this "
        "shape), one groupBy on doc_id. Scores are double sums of ln() "
        "terms rounded to 4 decimals — both engines' libm agree to ~1e-13 "
        "while the rounding step is 1e-4."
    ),
)
def q_unigram_lm(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    stats = lm.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(
                F.log((F.col("c") + F.lit(1.0)) / (F.col("total") + F.col("vocab")))
            ).alias("ll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.round(-F.col("ll") / F.col("n_tok"), 4).alias("avg_nll"),
    )


def _novelty_shingles(docs):
    """Distinct-per-doc word-3-gram stream (doc_id, sh) — q_ngram_novelty's
    heavy frame, factored so the scale probe measures the distinct-shingle
    volume of exactly the frame the query aggregates (r10 verdict #5).
    ``docs`` arrives already fan_out'd by the caller."""
    toks = F.split("text", " ")
    return (
        docs.filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(F.expr(dedup_hash.sparksql_word_shingles(3)))
            ).alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
    )


@query(
    "q_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_distinct([
                 array_to_string(toks[i : i + 2], ' ')
                 FOR i IN range(1, len(toks) - 1)
               ])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3
      )
    ), df AS (
      SELECT sh, count(*) AS df FROM sh GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           round(avg(CASE WHEN df.df = 1 THEN 1.0 ELSE 0.0 END), 4) AS novelty
    FROM sh s JOIN df ON s.sh = df.sh
    GROUP BY s.doc_id
    """,
    doc=(
        "N-gram novelty: the fraction of a doc's distinct word-3-grams "
        "that occur NOWHERE else in the corpus — high novelty marks "
        "original text, low novelty marks boilerplate/template mass even "
        "when no single pair crosses a near-dup threshold (the corpus-"
        "level complement of pairwise MinHash). One explode to distinct "
        "(doc, shingle) pairs, one aggregate for corpus df, one join "
        "back + per-doc average. At 100 TB the df table is the standard "
        "inverted-index build (hash-partitioned on shingle, partial+final "
        "counts); the join back is shuffle-on-shingle, the same key the "
        "df aggregate just produced, so AQE reuses the partitioning."
    ),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str):
    # Join-free attribution (7.7s -> ~2s at sf0.1): a shingle with df==1
    # belongs to EXACTLY one doc, so its owner is min(doc_id) within its
    # own df aggregate — no join of the corpus back onto the long shingle
    # strings, and the (doc, shingle) explosion is evaluated once, not
    # twice. novelty = novel_shingles / n_shingles with the denominator a
    # row-local distinct count.
    # fan_out: shingle-string construction is CPU-bound and the fixture
    # arrives as one split — parallelism must come from cores (a no-op on
    # a well-split table; the q_minhash_sig discipline).
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    sh = _novelty_shingles(docs)
    novel = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("novel_n"))
    )
    per_doc = docs.filter(F.size(toks) >= 3).select(
        "doc_id",
        F.size(F.array_distinct(F.expr(dedup_hash.sparksql_word_shingles(3))))
        .cast("bigint")
        .alias("n_shingles"),
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.round(
            F.coalesce(F.col("novel_n"), F.lit(0)) * 1.0 / F.col("n_shingles"), 4
        ).alias("novelty"),
    )


#: Hashing-trick dimensionality (feature buckets).
_FEAT_BUCKETS = 32


@query(
    "q_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT doc_id,
           CAST((CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2147483647)
                % {_FEAT_BUCKETS} AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM toks
    GROUP BY 1, 2
    """,
    doc=(
        "Hashing-trick vectorization (the HashingVectorizer shape): every "
        "token occurrence maps to one of 32 feature buckets via the "
        "engine's portable md5 token hash (operators/dedup_hash.py), "
        "counts aggregated per (doc, bucket) — the fixed-width, "
        "vocabulary-free featurization step for training text models at "
        "corpus scale (no vocab table to build, broadcast, or version). "
        "One explode + one partial+final aggregate; bucket ids are exact "
        "integer math shared bit-for-bit with the DuckDB twin."
    ),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    bucket = (dedup_hash.token_hash(F.col("tok")) % _FEAT_BUCKETS).cast("int")
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


#: SQL-callable chunker token count (distinct from q_chunk_docs's window
#: so the two surfaces are independently checkable).
_UDTF_CHUNK = 40


@query(
    "q_chunk_udtf",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), e AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / {_UDTF_CHUNK}.0) AS BIGINT))) AS i
      FROM t
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           array_to_string(toks[i * {_UDTF_CHUNK} + 1 : i * {_UDTF_CHUNK} + {_UDTF_CHUNK}], ' ') AS chunk
    FROM e
    """,
    doc=(
        "The engine's SQL extension surface: fixed-token chunking exposed "
        "as a Python UDTF and invoked FROM SQL via LATERAL — "
        "`SELECT ... FROM docs, LATERAL chunk_udtf(text, 40)` "
        "(udtfs.py::ChunkUDTF, declared useArrow=True so it plans as "
        "ArrowEvalPythonUDTF, Arrow-batched — the registry-wide "
        "row-Python gate applies to UDTFs too). The built-in chunker "
        "(q_chunk_docs) remains the fast path; this proves the "
        "row-expanding SQL-callable extension point end-to-end against "
        "the same DuckDB semantics. Narrow plan: scan -> UDTF, no "
        "shuffle."
    ),
)
def q_chunk_udtf(spark: SparkSession, sf_dir: str):
    from ..udtfs import register_udtfs

    register_udtfs(spark)
    # fan_out: the Python UDTF hop is per-row work far above scan cost,
    # and one fixture input split serialized it (r10 audit, 0.65 s).
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_id, c.chunk
        FROM _udtf_docs d, LATERAL chunk_udtf(d.text, {_UDTF_CHUNK}) c
        """
    )


@query(
    "q_split_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split,
             n_chars, lang
      FROM (
        SELECT n_chars, lang,
               {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM documents
      )
    ), by_lang AS (
      SELECT split, lang, count(*) AS nl FROM tagged GROUP BY split, lang
    ), probs AS (
      SELECT split,
             nl * 1.0 / sum(nl) OVER (PARTITION BY split) AS p
      FROM by_lang
    ), ent AS (
      SELECT split, -sum(p * ln(p)) AS h FROM probs GROUP BY split
    ), base AS (
      SELECT split, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars
      FROM tagged GROUP BY split
    )
    SELECT b.split, CAST(b.n_docs AS BIGINT) AS n_docs, b.total_chars,
           b.avg_chars,
           floor(e.h * 1000000.0 + 0.5) / 1000000.0 AS lang_entropy
    FROM base b JOIN ent e ON b.split = e.split
    """,
    doc=(
        "Split audit — the dataset-card statistics proving the hash "
        "split (q_split_assign) is BALANCED, not just deterministic: per "
        "split, doc count, total/average characters, and the Shannon "
        "entropy of the language distribution (near-equal entropies "
        "across splits = no language leaked preferentially into "
        "val/test, the thing that silently skews eval numbers). Two "
        "small aggregates over the tagged corpus — per-(split, lang) "
        "counts feed the entropy, a 3-row join stitches the card. "
        "Floor-scale rounding on the double terms."
    ),
)
def q_split_audit(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 90, F.lit("train")).when(h < 95, F.lit("val")).otherwise(F.lit("test"))
    )
    tagged = docs.select(split.alias("split"), "n_chars", "lang")
    by_lang = tagged.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("nl"))
    wsplit = Window.partitionBy("split")
    p = F.col("nl") * 1.0 / F.sum("nl").over(wsplit)
    ent = (
        by_lang.select("split", (p * F.log(p)).alias("t"))
        .groupBy("split")
        .agg((-F.sum("t")).alias("h"))
    )
    base = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.floor(F.avg("n_chars") * 10000.0 + 0.5) / 10000.0).alias("avg_chars"),
    )
    return base.join(ent, "split").select(
        "split",
        "n_docs",
        "total_chars",
        "avg_chars",
        (F.floor(F.col("h") * 1000000.0 + 0.5) / 1000000.0).alias("lang_entropy"),
    )


@query(
    "q_split_leakage",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             CASE WHEN {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")} % 100 < 90
                  THEN 'train' ELSE 'heldout' END AS split
      FROM documents
    )
    SELECT t.doc_id, t.fp
    FROM tagged t
    WHERE t.split = 'heldout'
      AND EXISTS (
        SELECT 1 FROM tagged tr
        WHERE tr.split = 'train' AND tr.fp = t.fp
      )
    """,
    doc=(
        "Train/held-out leakage audit: held-out documents whose "
        "normalized-content fingerprint also appears in train — the "
        "contamination that silently inflates every eval number, and the "
        "reason dedup must run BEFORE splitting (this query is the "
        "regression test for that ordering; its row count is the leak). "
        "Same hash split as q_split_assign (val+test pooled as held-out), "
        "same normalized md5 as q_dedup_norm; the check is one LEFT SEMI "
        "join on the fingerprint — at 100 TB both sides partition on fp "
        "and the train side can be pre-aggregated to distinct "
        "fingerprints, so the probe is a bloom-filterable hash join, "
        "never a text comparison."
    ),
)
def q_split_leakage(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string")) % 100
    tagged = docs.select(
        "doc_id",
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fp"),
        F.when(h < 90, F.lit("train")).otherwise(F.lit("heldout")).alias("split"),
    )
    train = tagged.filter(F.col("split") == "train").select("fp").distinct()
    held = tagged.filter(F.col("split") == "heldout")
    return held.join(train, "fp", "left_semi").select("doc_id", "fp")


@query(
    "q_cross_source_dups",
    oracle="""
    WITH fps AS (
      SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             source, doc_id
      FROM documents
    )
    SELECT fp,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM fps
    GROUP BY fp
    HAVING count(DISTINCT source) > 1
    """,
    doc=(
        "Cross-source duplicate provenance: normalized fingerprints that "
        "appear under MORE THAN ONE source — mirror sites / syndicated "
        "content, the duplication mode per-source dedup cannot see and "
        "the reason corpus-wide dedup must run on content, not (source, "
        "url). One aggregate with a distinct-count on source per "
        "fingerprint; the HAVING prunes to the offending fingerprints "
        "before anything is collected. At 100 TB this is the standard "
        "fp-partitioned groupBy; its output feeds source-priority "
        "representative selection (q_dedup_keep_best's ordering)."
    ),
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    fps = docs.select(
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fp"),
        "source",
        "doc_id",
    )
    return (
        fps.groupBy("fp")
        .agg(
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_sources") > 1)
    )


@query(
    "q_bpe_pair_counts",
    oracle="""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wc
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, CAST(i AS INTEGER), 2))) AS pair,
             wc
      FROM vocab
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
    doc=(
        "Tokenizer induction, first BPE iteration: corpus-weighted counts of "
        "adjacent symbol pairs (char bigrams within whitespace words) — the "
        "argmax pair is the merge a byte-pair-encoding trainer (Sennrich et "
        "al. 2016) would perform first. Scale shape is the whole point: the "
        "word-level vocab aggregate FIRST (map-side partial combine, shuffle "
        "carries (word, count) — vocab-sized, not corpus-sized), then pair "
        "expansion runs over the VOCAB (|V| * avg_len rows), never the raw "
        "corpus, and the pair aggregate shuffles at most |alphabet|^2 keys. "
        "This is how BPE training distributes at 100 TB: every later merge "
        "iteration repeats the same two bounded shuffles over the updated "
        "symbol sequences. Top-20 with (cnt DESC, pair) deterministic "
        "tie-break via TakeOrderedAndProject — no global sort."
    ),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.substring(F.col("w"), i, F.lit(2)),
                )
            ).alias("pair"),
            "wc",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


#: BPE trainer rounds unrolled in q_bpe_merges. Each round = two
#: vocab-sized aggregates; the merge list below rank 3 follows the same
#: recurrence (a production trainer loops to ~32k merges with the
#: identical per-round plan, checkpointing the vocab every ~50 rounds).
_BPE_MERGES = 3


def _bpe_merges_oracle(emit: str = "merges") -> str:
    """DuckDB twin of q_bpe_merges as generated CTEs (the q_pagerank
    trick for iterative algorithms). The greedy left-to-right
    non-overlapping merge is expressed relationally via gaps-and-islands
    parity: consecutive match positions form islands (only possible when
    p1 = p2), and greedy keeps exactly the even offsets within each
    island — provably identical to the sequential fold the Spark side
    runs (a merged symbol p1||p2 can never equal p1, so the fold cannot
    cascade; for p1 <> p2 matches are never adjacent).

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each apply
    round references pos{r} three times (p / kept / kept-prev) plus t{r}
    twice via scalar subqueries, so inlining re-executes earlier rounds
    ~3^r times — measured 19-31 s for the 3-round tokens/fertility
    variants vs 0.05 s materialized, identical results."""
    if emit == "fertility":
        # Per-(lang, word) counts first; the training vocab rolls them up,
        # so the corpus is tokenized once for both training and the
        # per-lang fertility join.
        sql = """
    WITH wl AS MATERIALIZED (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS wc
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY lang, w
    ), v0 AS MATERIALIZED (
      SELECT w, CAST(sum(wc) AS BIGINT) AS wc,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, CAST(i AS INTEGER), 1)) AS syms
      FROM wl
      GROUP BY w
    )"""
    else:
        sql = """
    WITH v0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS wc,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, CAST(i AS INTEGER), 1)) AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    )"""
    apply_rounds = _BPE_MERGES if emit in ("tokens", "fertility") else _BPE_MERGES - 1
    for r in range(_BPE_MERGES):
        sql += f""", p{r} AS MATERIALIZED (
      SELECT syms[i] AS p1, syms[i + 1] AS p2, CAST(sum(wc) AS BIGINT) AS cnt
      FROM (SELECT wc, syms, unnest(range(1, len(syms))) AS i
            FROM v{r} WHERE len(syms) >= 2)
      GROUP BY 1, 2
    ), t{r} AS MATERIALIZED (
      SELECT p1, p2, cnt FROM p{r} ORDER BY cnt DESC, p1, p2 LIMIT 1
    )"""
        if r < apply_rounds:
            sql += f""", pos{r} AS MATERIALIZED (
      SELECT w, wc, i, syms[i] AS s, syms[i + 1] AS s_next,
             CASE WHEN i < len(syms)
                       AND syms[i] = (SELECT p1 FROM t{r})
                       AND syms[i + 1] = (SELECT p2 FROM t{r})
                  THEN 1 ELSE 0 END AS hit
      FROM (SELECT w, wc, syms, unnest(range(1, len(syms) + 1)) AS i FROM v{r})
    ), isl{r} AS MATERIALIZED (
      SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS g
      FROM pos{r} WHERE hit = 1
    ), kept{r} AS MATERIALIZED (
      SELECT w, i FROM (
        SELECT w, i, min(i) OVER (PARTITION BY w, g) AS i0 FROM isl{r}
      ) WHERE (i - i0) % 2 = 0
    ), v{r + 1} AS MATERIALIZED (
      SELECT p.w, any_value(p.wc) AS wc,
             list(CASE WHEN k.i IS NOT NULL THEN p.s || p.s_next ELSE p.s END
                  ORDER BY p.i) AS syms
      FROM pos{r} p
      LEFT JOIN kept{r} k  ON k.w = p.w AND k.i = p.i
      LEFT JOIN kept{r} kp ON kp.w = p.w AND kp.i = p.i - 1
      WHERE kp.i IS NULL
      GROUP BY p.w
    )"""
    if emit == "tokens":
        return (
            sql
            + f"""
    SELECT s AS token, CAST(sum(wc) AS BIGINT) AS cnt
    FROM (SELECT wc, unnest(syms) AS s FROM v{_BPE_MERGES})
    GROUP BY 1 ORDER BY cnt DESC, token LIMIT 20
    """
        )
    if emit == "fertility":
        return (
            sql
            + f"""
    SELECT wl.lang,
           CAST(sum(wl.wc) AS BIGINT) AS n_words,
           CAST(sum(wl.wc * len(v.syms)) AS BIGINT) AS n_tokens,
           CAST(sum(wl.wc * len(v.syms)) * 1000000 // sum(wl.wc) AS BIGINT)
             AS fertility_ppm
    FROM wl JOIN v{_BPE_MERGES} v ON wl.w = v.w
    GROUP BY wl.lang
    """
        )
    parts = " UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, p1, p2, p1 || p2 AS merged, cnt FROM t{r}"
        for r in range(_BPE_MERGES)
    )
    return (
        sql
        + f"""
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank, p1, p2, merged, cnt
    FROM ({parts}) ORDER BY merge_rank
    """
    )


def _bpe_pair_top1(vocab):
    """Highest-count adjacent symbol pair of a (w, wc, syms) vocab —
    deterministic (cnt DESC, p1, p2) tie-break, TakeOrderedAndProject."""
    pairs = (
        vocab.filter(F.size("syms") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    lambda s, i: F.struct(
                        s.alias("p1"), F.get(F.col("syms"), i + 1).alias("p2")
                    ),
                )
            ).alias("pr"),
            "wc",
        )
        .groupBy("pr.p1", "pr.p2")
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
    )
    return pairs.orderBy(F.col("cnt").desc(), "p1", "p2").limit(1)


def _bpe_apply_merge(vocab, top1):
    """Greedy left-to-right non-overlapping merge of top1's (p1, p2) into
    every symbol sequence — a row-local F.aggregate fold (zero shuffle):
    the pair arrives as a BROADCAST 1-row cross join, so no literal is
    collected to the driver between rounds. The fold cannot cascade into
    its own output (p1||p2 <> p1 since p2 is non-empty), which is what
    makes it equal to the oracle's islands-parity formulation."""
    step = lambda acc, s: (  # noqa: E731
        F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("p1"))
            & (s == F.col("p2")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.col("p1"), F.col("p2"))),
            ),
        ).otherwise(F.concat(acc, F.array(s)))
    )
    # Guard the fold behind a cheap O(L) adjacency check: the fold
    # rebuilds the accumulator array per element (O(L^2) allocations),
    # but after round 1 only a small fraction of the vocab contains the
    # current top pair — everything else passes through untouched. At a
    # 30x synthetic vocab this is the difference between folding ~1M
    # words per round and folding the few thousand that actually merge.
    has_pair = F.exists(
        F.transform(
            F.slice(F.col("syms"), 1, F.size("syms") - 1),
            lambda s, i: (s == F.col("p1"))
            & (F.get(F.col("syms"), i + 1) == F.col("p2")),
        ),
        lambda b: b,
    )
    # LEFT join on TRUE, not crossJoin: an EMPTY merge table (a corpus
    # with no adjacent pairs left) must make the merge a NO-OP, not
    # annihilate the vocabulary — with p1/p2 NULL the guard predicate is
    # NULL and every word passes through unchanged (the oracle's scalar
    # subqueries behave identically). Caught by the BPE property test's
    # single-word corpus.
    return vocab.join(
        F.broadcast(top1.select("p1", "p2")), F.lit(True), "left"
    ).select(
        "w",
        "wc",
        F.when(
            has_pair,
            F.aggregate("syms", F.array().cast("array<string>"), step),
        )
        .otherwise(F.col("syms"))
        .alias("syms"),
    )


@query(
    "q_bpe_merges",
    oracle=_bpe_merges_oracle(),
    doc=(
        "Tokenizer induction, the actual BPE TRAINING LOOP (Sennrich et "
        "al. 2016) — q_bpe_pair_counts taken from its first step to a "
        "trained merge list: 3 unrolled rounds of count-adjacent-pairs -> "
        "argmax -> greedy left-to-right merge over the symbol sequences, "
        "emitting (merge_rank, p1, p2, merged, cnt) — the artifact a "
        "tokenizer ships. Scale shape: the corpus is aggregated to the "
        "word vocab ONCE (the only corpus-sized shuffle, then "
        "localCheckpoint'ed like q_pagerank's edges); every round after "
        "that touches only |V| rows — pair counting is two bounded "
        "aggregates, the argmax is a 1-row broadcast joined back (no "
        "driver collect), and the merge itself is a row-local array fold "
        "inside codegen. Oracle: the same rounds as generated DuckDB "
        "CTEs, with the greedy merge expressed via gaps-and-islands "
        "parity — equivalent because the fold cannot cascade (p1||p2 <> "
        "p1) and p1 <> p2 matches are never adjacent."
    ),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str):
    tops, _ = _bpe_train(spark, sf_dir, _BPE_MERGES, apply_last=False)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionAll(t)
    return out.select(
        "merge_rank",
        "p1",
        "p2",
        F.concat("p1", "p2").alias("merged"),
        "cnt",
    ).orderBy("merge_rank")


def _bpe_train(spark, sf_dir, n_merges: int, apply_last: bool, word_counts=None):
    """(merge tables, final vocab) after n_merges BPE rounds.

    One corpus-sized aggregate builds the char-symbol vocab, materialized
    once; each round's vocab is checkpointed too so round r+1 does not
    re-derive rounds 1..r (same rationale + same 100 TB "use a reliable
    checkpoint dir" caveat as q_pagerank). All materializations are
    vocab-sized or 1 row. ``apply_last`` also applies the final round's
    merge (the tokenizer-apply path needs the post-merge vocab; the
    merge-list path does not). ``word_counts``: an optional prebuilt
    (w, wc) DataFrame — lets callers that already tokenized the corpus
    (q_bpe_fertility's lang-keyed counts) train without a second scan."""
    if word_counts is None:
        docs = read_table(spark, sf_dir, "documents")
        word_counts = (
            docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        )
    vocab = (
        word_counts.select(
            "w",
            "wc",
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.substring(F.col("w"), i, F.lit(1)),
            ).alias("syms"),
        )
    )
    v = vocab.localCheckpoint(eager=True)
    tops = []
    for r in range(n_merges):
        top = (
            _bpe_pair_top1(v)
            .select(F.lit(r + 1).cast("int").alias("merge_rank"), "p1", "p2", "cnt")
            .localCheckpoint(eager=True)
        )
        tops.append(top)
        if r < n_merges - 1 or apply_last:
            v = _bpe_apply_merge(v, top).localCheckpoint(eager=True)
    return tops, v


@query(
    "q_bpe_tokenize",
    oracle=_bpe_merges_oracle(emit="tokens"),
    doc=(
        "Tokenizer APPLY — the consumer half of q_bpe_merges' training "
        "loop: run the 3 trained merges over the corpus vocabulary and "
        "emit the resulting top-20 token frequencies (the sanity report "
        "every tokenizer build ships: which subwords exist after "
        "training, weighted by corpus occurrence). Scale shape is the "
        "training loop's: corpus collapses to the vocab once, merges are "
        "row-local folds, and the final token count re-weights by word "
        "count — an aggregate over |V| x avg_len rows, never the raw "
        "corpus. In production the merge list is frozen and broadcast; "
        "applying it to unseen text is the same fold with the trained "
        "pairs, so this query IS the distributed tokenization plan."
    ),
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str):
    _, v = _bpe_train(spark, sf_dir, _BPE_MERGES, apply_last=True)
    return (
        v.select(F.explode("syms").alias("token"), "wc")
        .groupBy("token")
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Retrieval scoring & distributional features (round 7)
# ---------------------------------------------------------------------------

#: BM25 hyperparameters (the Robertson/Lucene defaults) and a fixed probe
#: query. Scores are emitted as MICRO-INTEGERS (floor(term*1e6+0.5) summed
#: as BIGINT) so the cross-term addition is exact integer math — the one
#: place FP summation order could differ between engines.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("merge", "scan", "window")
_BM25_TOPK = 10

#: The BM25 scoring CTE chain — ONE textual source of truth shared by the
#: q_bm25 oracle and the q_rrf_fusion oracle (the q_lang_confusion rule:
#: a scorer referenced by two queries must not be able to drift apart).
_SQL_BM25_SCORED = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN {_BM25_TERMS!r}
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / stats.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS c_micro
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ), bm25 AS (
      SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY doc_id
    )"""


@query(
    "q_bm25",
    oracle=f"""{_SQL_BM25_SCORED}
    SELECT doc_id, score_micro, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT doc_id, score_micro,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
      FROM bm25
    ) WHERE rnk <= {_BM25_TOPK}
    """,
    doc=(
        "BM25 top-10 retrieval (k1=1.2, b=0.75, Lucene idf) for a fixed "
        "probe query — the scoring function behind corpus search and "
        "RAG-time retrieval eval. Doc length is a ROW-LOCAL "
        "size(split()) projection (no explode, no aggregate); one "
        "explode feeds the query-term tf; df and the (n, avgdl) scalars "
        "are tiny and broadcast; the only corpus-sized shuffle is the "
        "doc_id join feeding dl to the scorer. Per-term "
        "contributions are floored to micro-integers BEFORE the "
        "cross-term sum, so the score is exact BIGINT arithmetic and "
        "hash-stable across engines; final top-k is orderBy+limit "
        "(TakeOrderedAndProject: per-partition heap + driver merge of "
        "10 rows, no global sort). At 100 TB the df/idf table for a "
        "full query workload is still |query vocab|-bounded and the "
        "shape is unchanged."
    ),
)
def q_bm25(spark: SparkSession, sf_dir: str):
    scored = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )
    w = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    # row_number over the already-limited 10 rows: the single-partition
    # sort this window implies is bounded at TOPK regardless of scale.
    return scored.withColumn("rnk", F.row_number().over(w))


def _bm25_scored(spark: SparkSession, sf_dir: str):
    """(doc_id, score_micro) for every doc matching a probe term — the
    Spark twin of _SQL_BM25_SCORED, shared by q_bm25 and q_rrf_fusion."""
    docs = read_table(spark, sf_dir, "documents")
    # Doc length is size(split(...)) — ROW-LOCAL, no explode and no
    # corpus-wide shuffle on doc_id for the dl side (equals the oracle's
    # unnest-count: split counts empty tokens identically).
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    toks = fan_out(docs).select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    c_micro = F.floor(
        idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom * 1000000.0 + 0.5
    ).cast("bigint")
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", c_micro.alias("c_micro"))
        .groupBy("doc_id")
        .agg(F.sum("c_micro").cast("bigint").alias("score_micro"))
    )


#: Co-occurrence window (token distance 1..2) and the minimum pair count
#: that makes a PPMI estimate non-noise.
_PPMI_MAX_DIST = 2
_PPMI_MIN_PAIR = 5


def _ppmi_pair_stream(docs):
    """The exploded positional co-occurrence stream (one 'w1 w2' pair
    string per in-window token pair, unordered-normalized). Shared by
    q_cooccur_ppmi's pair aggregate and q_cooccur_ppmi_pruned's
    prune-before-aggregate plan.

    r14 (VERDICT r13 #8, guide §1.2 step 2): ``split(text)`` is bound in
    its OWN projection before the pair lambdas. The inlined form embedded
    the split at every reference — and higher-order-function lambdas
    evaluate interpreted, so ``element_at(split(text), i)`` re-split the
    document PER SEQUENCE ELEMENT (O(n_tokens) splits of an O(n_tokens)
    string per row = the quadratic term in this family's CPU wall).
    ``toks`` is non-cheap and multiply-referenced, so CollapseProject
    (SPARK-36718) keeps the projections separate: one split per row.
    Same arrays, same pairs — values unchanged."""
    toks = F.col("toks")

    def pairs_at(k: int):
        # Guarded: sequence(1, 0) in Spark steps DESCENDING ([1, 0]), so a
        # doc with <= k tokens must short-circuit to an empty array.
        return F.when(
            F.size(toks) > k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - k),
                lambda i: F.concat_ws(
                    " ",
                    F.least(F.element_at(toks, i), F.element_at(toks, i + k)),
                    F.greatest(F.element_at(toks, i), F.element_at(toks, i + k)),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    all_pairs = F.concat(*[pairs_at(k) for k in range(1, _PPMI_MAX_DIST + 1)])
    # explode_outer + null filter, NOT explode: explode(expr) lets Catalyst
    # push size(expr)>0 into the scan filter, serializing the whole pair
    # build into the scan task (see verify-skill explode-pushdown trap).
    return (
        fan_out(docs)
        .select(F.split(F.col("text"), " ").alias("toks"))
        .select(F.explode_outer(all_pairs).alias("pair"))
        .filter(F.col("pair").isNotNull())
    )


def _ppmi_pair_counts(docs):
    """UNFILTERED co-occurring pair counts (pair, c_ab). Factored out of
    q_cooccur_ppmi so the scale probe can measure the distinct-pair volume
    of EXACTLY the frame the query aggregates — the probe's >=10x wall
    ratios are claimed to track this workload, and the claim is only
    checkable if both compute the same frame (r10 verdict #5)."""
    return (
        _ppmi_pair_stream(docs)
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )


@query(
    "q_cooccur_ppmi",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), pairs AS (
      SELECT unnest(
               [least(toks[i], toks[i + k]) || ' ' || greatest(toks[i], toks[i + k])
                FOR i IN range(1, len(toks) - k + 1)]
             ) AS pair
      FROM t, range(1, {_PPMI_MAX_DIST} + 1) AS r(k)
      WHERE len(toks) > k
    ), pc AS (
      SELECT pair, count(*) AS c_ab FROM pairs GROUP BY pair
    ), uni AS (
      SELECT unnest(toks) AS tok FROM t
    ), uc AS (
      SELECT tok, count(*) AS c FROM uni GROUP BY tok
    ), tot AS (
      SELECT (SELECT sum(c) FROM uc) AS t1, (SELECT sum(c_ab) FROM pc) AS tp
    )
    SELECT string_split(pair, ' ')[1] AS w1,
           string_split(pair, ' ')[2] AS w2,
           CAST(c_ab AS BIGINT) AS c_ab,
           floor(greatest(
             ln(c_ab * 1.0 * t1 * t1 / (tp * 1.0 * ua.c * ub.c)), 0.0
           ) * 1000000.0 + 0.5) / 1000000.0 AS ppmi
    FROM pc CROSS JOIN tot
    JOIN uc ua ON ua.tok = string_split(pair, ' ')[1]
    JOIN uc ub ON ub.tok = string_split(pair, ' ')[2]
    WHERE c_ab >= {_PPMI_MIN_PAIR}
    """,
    doc=(
        "Windowed co-occurrence counts + positive PMI (distance <= 2, "
        "unordered pairs) — the classic distributional-semantics feature "
        "build (word-embedding pretraining input, collocation mining). "
        "Pair generation is ROW-LOCAL: each doc's token array emits its "
        "own (i, i+k) pairs via sequence+transform inside codegen — no "
        "self-join on position, nothing quadratic. The aggregates are "
        "|vocab| and |vocab-pair| sized; unigram counts broadcast back "
        "onto the pair table. At 100 TB the pair space is capped by "
        "restricting to a top-K vocabulary first (the standard GloVe "
        "recipe) — the plan shape is identical, only the pre-filter "
        "changes. PPMI is one ln() over integer counts, floor-scale "
        "rounded, so both engines hash-match."
    ),
)
def q_cooccur_ppmi(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pc_all = _ppmi_pair_counts(docs)
    pc = pc_all.filter(F.col("c_ab") >= _PPMI_MIN_PAIR)
    uc = (
        fan_out(docs)
        .select(F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Totals: t1 from the unigram aggregate, tp summed from the UNFILTERED
    # pair aggregate (the min-count filter must not bias the denominator) —
    # a vocab-pair-sized re-aggregate, NOT a third corpus-wide pair
    # explosion. Both one-row broadcasts.
    t1 = uc.agg(F.sum("c").alias("t1"))
    tp = pc_all.agg(F.sum("c_ab").alias("tp"))
    split_pair = F.split(F.col("pair"), " ")
    with_words = pc.select(
        F.element_at(split_pair, 1).alias("w1"),
        F.element_at(split_pair, 2).alias("w2"),
        "c_ab",
    )
    ua = uc.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    ub = uc.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    # Promote to double BEFORE the t1 factors: c_ab * t1 alone overflows
    # int64 once total tokens reach web-corpus scale (t1 ~ 1e13).
    pmi = F.log(
        F.col("c_ab")
        * 1.0
        * F.col("t1")
        * F.col("t1")
        / (F.col("tp") * 1.0 * F.col("ca") * F.col("cb"))
    )
    return (
        with_words.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .join(F.broadcast(t1))
        .join(F.broadcast(tp))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            (
                F.floor(F.greatest(pmi, F.lit(0.0)) * 1000000.0 + 0.5) / 1000000.0
            ).alias("ppmi"),
        )
    )


#: Minimum corpus frequency for a token to enter the pruned PPMI
#: vocabulary (the GloVe min-count recipe).
_PPMI_VOCAB_MIN = 5


def _ppmi_pruned_pair_counts(docs):
    """(vocab, pruned pair counts) for the min-count-pruned PPMI: the
    frequent-token vocabulary (tok, c) and the (w1, w2, c_ab) aggregate of
    in-window pairs whose BOTH tokens survive the prune. Factored out of
    q_cooccur_ppmi_pruned so the scale probe can measure the distinct
    pruned-pair volume of EXACTLY the frame the query aggregates (the same
    contract _ppmi_pair_counts gives the unpruned query)."""
    toks = F.split(F.col("text"), " ")
    uc = (
        fan_out(docs)
        .select(F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = uc.filter(F.col("c") >= _PPMI_VOCAB_MIN)
    sp = F.split(F.col("pair"), " ")
    pairs = _ppmi_pair_stream(docs).select(
        F.element_at(sp, 1).alias("w1"), F.element_at(sp, 2).alias("w2")
    )
    pruned = (
        pairs.join(F.broadcast(vocab.select(F.col("tok").alias("w1"))), "w1")
        .join(F.broadcast(vocab.select(F.col("tok").alias("w2"))), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return vocab, pruned


@query(
    "q_cooccur_ppmi_pruned",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), pairs AS (
      SELECT unnest(
               [least(toks[i], toks[i + k]) || ' ' || greatest(toks[i], toks[i + k])
                FOR i IN range(1, len(toks) - k + 1)]
             ) AS pair
      FROM t, range(1, {_PPMI_MAX_DIST} + 1) AS r(k)
      WHERE len(toks) > k
    ), uc AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
    ), vocab AS (
      SELECT tok, c FROM uc WHERE c >= {_PPMI_VOCAB_MIN}
    ), pruned AS (
      SELECT string_split(pair, ' ')[1] AS w1,
             string_split(pair, ' ')[2] AS w2,
             count(*) AS c_ab
      FROM pairs
      JOIN vocab va ON va.tok = string_split(pair, ' ')[1]
      JOIN vocab vb ON vb.tok = string_split(pair, ' ')[2]
      GROUP BY 1, 2
    ), tot AS (
      SELECT (SELECT sum(c) FROM vocab) AS t1,
             (SELECT sum(c_ab) FROM pruned) AS tp
    )
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           floor(greatest(
             ln(c_ab * 1.0 * t1 * t1 / (tp * 1.0 * va.c * vb.c)), 0.0
           ) * 1000000.0 + 0.5) / 1000000.0 AS ppmi
    FROM pruned CROSS JOIN tot
    JOIN vocab va ON va.tok = w1
    JOIN vocab vb ON vb.tok = w2
    WHERE c_ab >= {_PPMI_MIN_PAIR}
    """,
    doc=(
        "PRODUCTION-scale PPMI — q_cooccur_ppmi with the GloVe min-count "
        "vocabulary prune applied BEFORE the pair aggregate: tokens with "
        f"corpus frequency < {_PPMI_VOCAB_MIN} never enter the pair "
        "shuffle. At web scale the unpruned distinct-pair space grows "
        "super-linearly in the corpus (the r9/r10 probe's 14.5x wall at "
        "30x rows tracked exactly that volume) while the pruned space is "
        "bounded by |vocab|^2 of the FREQUENT vocabulary — the standard "
        "GloVe/word2vec recipe. Plan: the occurrence-stream prune is two "
        "BROADCAST semi-joins against the (bounded, frequent-token) "
        "vocabulary — no shuffle added to the corpus-sized stream — and "
        "the pair aggregate then shuffles only surviving pairs. Marginals "
        "(t1, ca/cb) and the pair total tp are computed in the pruned "
        "world so the distribution stays self-consistent. Same output "
        "shape and rounding as q_cooccur_ppmi."
    ),
)
def q_cooccur_ppmi_pruned(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    vocab, pruned = _ppmi_pruned_pair_counts(docs)
    va = vocab.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    vb = vocab.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    t1 = vocab.agg(F.sum("c").alias("t1"))
    tp = pruned.agg(F.sum("c_ab").alias("tp"))
    pmi = F.log(
        F.col("c_ab")
        * 1.0
        * F.col("t1")
        * F.col("t1")
        / (F.col("tp") * 1.0 * F.col("ca") * F.col("cb"))
    )
    return (
        pruned.filter(F.col("c_ab") >= _PPMI_MIN_PAIR)
        .join(F.broadcast(va), "w1")
        .join(F.broadcast(vb), "w2")
        .join(F.broadcast(t1))
        .join(F.broadcast(tp))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            (
                F.floor(F.greatest(pmi, F.lit(0.0)) * 1000000.0 + 0.5) / 1000000.0
            ).alias("ppmi"),
        )
    )


def _bigram_counts(docs):
    """(big, cb): the per-position bigram stream (doc_id, bg) and its
    corpus counts (bg, cb) — the IDENTICAL construction q_bigram_lm and
    q_kneser_ney open with, factored so (a) the two LMs cannot drift and
    (b) the scale probe can measure the distinct-bigram volume of exactly
    the frame both queries aggregate (r10 verdict #5: their >=10x probe
    walls are claimed to track this workload).

    r14: ``split(text)`` bound in its own projection before the bigram
    lambda (the _ppmi_pair_stream fix — interpreted HOF lambdas re-split
    per element otherwise); values unchanged."""
    toks = F.col("toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = (
        fan_out(docs)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.explode_outer(bigrams).alias("bg"))
        .filter(F.col("bg").isNotNull())
    )
    cb = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    return big, cb


@query(
    "q_bigram_lm",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), big AS (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))]) AS bg
      FROM t WHERE len(toks) >= 2
    ), cb AS (
      SELECT bg, count(*) AS cb FROM big GROUP BY bg
    ), cu AS (
      SELECT tok, count(*) AS cu
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
    ), v AS (
      SELECT count(*) AS v FROM cu
    ), scored AS (
      SELECT b.doc_id, count(*) AS n_bigrams,
             sum(ln((cb.cb + 1.0) / (cu.cu + v.v))) AS ll
      FROM big b JOIN cb USING (bg)
      JOIN cu ON cu.tok = string_split(b.bg, ' ')[1]
      CROSS JOIN v
      GROUP BY b.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(-ll / n_bigrams, 4) AS avg_nll
    FROM scored
    """,
    doc=(
        "Bigram language-model quality score — q_unigram_lm's degree-1 "
        "upgrade, the closer-to-KenLM signal: train the conditional LM "
        "in-query (bigram counts with add-one smoothing over context "
        "count + vocab) and score each doc by average negative "
        "log-likelihood of its transitions. Catches scrambled/"
        "concatenated text whose unigram mix looks normal but whose "
        "TRANSITIONS are improbable. Bigram generation is row-local "
        "sequence+transform; the score join runs shuffle-on-bigram "
        "against the |vocab^2|-bounded count table (NOT broadcast — the "
        "q_tfidf web-scale rule), the context-count join rides the "
        "vocab key, and only the 1-row vocab size broadcasts. Sum of "
        "ln() terms rounded to 4 decimals per the unigram convention."
    ),
)
def q_bigram_lm(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    big, cb = _bigram_counts(docs)
    uni = (
        fan_out(docs)
        .select(F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    # cu feeds both the score join and the vocab-size scalar; without
    # materialization the full unigram explode+count runs twice (r13).
    # |vocab| rows — cheap to checkpoint at any scale. eager KEPT (r14):
    # an interleaved fresh-JVM A/B of eager vs lazy here measured lazy
    # ~5% slower (AB_R14_CKPT_LAZY.json) — with a lazy checkpoint the
    # consumers' stages race to compute the shared RDD concurrently and
    # duplicate its work, costing more than the dedicated job saves.
    # NOT a lazy plan constructor: building this frame runs the
    # materialization job (r13 ADVICE #2 contract note).
    cu = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("cu")).localCheckpoint(
        eager=True
    )
    v = cu.agg(F.count(F.lit(1)).alias("v"))
    w1 = F.element_at(F.split(F.col("bg"), " "), 1)
    scored = (
        big.join(cb, "bg")
        .withColumn("tok", w1)
        .join(cu, "tok")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v")))
            ).alias("ll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(-F.col("ll") / F.col("n_bigrams"), 4).alias("avg_nll"),
    )


#: Fixed linear-classifier weights over the 32 hashed-feature buckets,
#: micro-integer scaled (1e6 = weight 1.0) so per-doc margins accumulate in
#: exact BIGINT. Knuth-hash-derived literals: deterministic, sign-mixed,
#: shared textually with the oracle. In production these come from a
#: trained quality model (FineWeb-Edu / DCLM recipe); the PLAN is identical
#: — only the literals change.
_QC_W = [((i * 2654435761) % 1000001) - 500000 for i in range(_FEAT_BUCKETS)]
_QC_BIAS = 25000  # +0.025 margin


def _qc_margins(docs, with_label: bool = False):
    """Shared classifier-inference core for q_quality_classifier /
    q_auc_roc / q_calibration_bins: per-doc exact BIGINT margin + token
    count via one explode + one aggregate. With ``with_label`` the
    lang='en' holdout label rides the explode as a doc-constant grouping
    column (so no join back to documents is ever needed). The label is
    when/otherwise, NOT a bool cast: (lang == 'en').cast('long') is NULL
    for NULL lang, silently dropping the doc from both classes, while the
    oracles' CASE WHEN counts it as a negative."""
    toks = fan_out(docs).select(
        "doc_id",
        *(
            [F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("pos")]
            if with_label
            else []
        ),
        F.explode_outer(F.split("text", " ")).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    warr = F.array(*[F.lit(w).cast("long") for w in _QC_W])
    bucket = (dedup_hash.token_hash(F.col("tok")) % _FEAT_BUCKETS).cast("int")
    keys = ["doc_id", "pos"] if with_label else ["doc_id"]
    return (
        toks.select(*keys, F.element_at(warr, bucket + 1).alias("w"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            (F.sum("w") + _QC_BIAS * F.count(F.lit(1))).alias("m_micro"),
        )
    )




@query(
    "q_quality_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), contrib AS (
      SELECT doc_id,
             ({_QC_W!r})[CAST((CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                % 2147483647) % {_FEAT_BUCKETS} AS INTEGER) + 1] AS w
      FROM toks
    ), margins AS (
      SELECT doc_id, count(*) AS n_tok,
             sum(w) + {_QC_BIAS} * count(*) AS m_micro
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           floor(1.0 / (1.0 + exp(-(m_micro * 1.0 / (n_tok * 1000000.0))))
                 * 1000000.0 + 0.5) / 1000000.0 AS score,
           m_micro >= 0 AS keep
    FROM margins
    """,
    doc=(
        "Model-based quality filtering (the FineWeb-Edu / DCLM curation "
        "step): score every document with a linear classifier over "
        "hashed bag-of-words features and keep docs above threshold. "
        "Inference is ONE explode + one aggregate: each token occurrence "
        "contributes element_at(weights, bucket) — no feature vector is "
        "ever materialized, no vocab table exists (hashing trick), and "
        "the 32-weight model is a literal (broadcast-free; a real "
        "checkpoint would broadcast kilobytes). Margins accumulate in "
        "exact micro-integer BIGINTs so `keep` (margin >= 0, i.e. "
        "sigmoid >= 0.5) is integer-exact with NO float tie risk; only "
        "the reported sigmoid score touches FP, floor-scale rounded. "
        "At 100 TB this is the canonical classifier-inference shape: "
        "row-local scoring, partial+final agg, nothing model-sized "
        "shuffles."
    ),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    margins = _qc_margins(docs)
    sig = 1.0 / (
        1.0 + F.exp(-(F.col("m_micro") * 1.0 / (F.col("n_tok") * 1000000.0)))
    )
    return margins.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        (F.floor(sig * 1000000.0 + 0.5) / 1000000.0).alias("score"),
        (F.col("m_micro") >= 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Classifier evaluation (X4 extension): once a quality model scores every
# document (q_quality_classifier), the pipeline needs to EVALUATE it at the
# same scale — AUC against a held-out signal and a calibration table. Both
# reuse the q_quality_classifier margin (exact micro-integer BIGINT) as the
# score and `lang = 'en'` as the stand-in binary target (in production: a
# human-labeled or LLM-judged holdout); only the label expression changes.
# ---------------------------------------------------------------------------

#: Shared margins CTE (textually the q_quality_classifier inference): per-doc
#: exact integer margin m_micro and token count, joined back to documents for
#: the label column.
_QC_LABELED_CTE = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), contrib AS (
      SELECT doc_id,
             ({_QC_W!r})[CAST((CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                % 2147483647) % {_FEAT_BUCKETS} AS INTEGER) + 1] AS w
      FROM toks
    ), margins AS (
      SELECT doc_id, count(*) AS n_tok,
             sum(w) + {_QC_BIAS} * count(*) AS m_micro
      FROM contrib GROUP BY doc_id
    ), labeled AS (
      SELECT m.doc_id, m.m_micro, m.n_tok,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM margins m JOIN documents d ON m.doc_id = d.doc_id
    )
"""

#: Score-range bucket width for the two-phase exact rank cumsum (the
#: q_ks_test / q_global_shuffle construction). Margins at any SF span
#: roughly +-6e7 micro-units (|w| <= 5.25e5 per token x <=110-token docs),
#: so 2^17-wide buckets keep the offset table at ~1e3 rows — bounded,
#: independent of corpus size. Power of two: s / W is an exact double
#: scaling, so floor() agrees bit-for-bit between Spark and DuckDB.
_AUC_BUCKET_W = 1 << 17


@query(
    "q_auc_roc",
    oracle=f"""
    WITH {_QC_LABELED_CTE}, per_score AS (
      SELECT m_micro AS s, sum(pos) AS p, sum(1 - pos) AS ng
      FROM labeled GROUP BY m_micro
    ), tot AS (
      SELECT sum(p) AS n_pos, sum(ng) AS n_neg FROM per_score
    ), cum AS (
      SELECT p, ng,
             coalesce(sum(ng) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
      FROM per_score
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           floor(sum(p * (2 * nb + ng)) * 1.0
                 / (2.0 * n_pos * n_neg) * 1000000.0 + 0.5) / 1000000.0 AS auc
    FROM cum CROSS JOIN tot
    GROUP BY n_pos, n_neg
    HAVING n_pos > 0 AND n_neg > 0
    """,
    doc=(
        "EXACT tie-corrected ROC AUC of the quality-classifier margin "
        "against the lang='en' holdout label — the Mann-Whitney rank-sum "
        "identity (AUC = P(score_pos > score_neg) + 0.5*P(tie)) computed "
        "without ever materializing per-row ranks: group to per-score "
        "(pos, neg) counts, then AUC = sum(p * (2*neg_below + neg_at)) / "
        "(2*P*N). The global 'negatives below this score' cumsum uses the "
        "two-phase bucket construction (per-bucket windowed cumsums in "
        "parallel + a broadcast ~1e3-row bucket-offset table), so there "
        "is NO global sort and no rank window over the corpus — the "
        "q_ks_test shape. All counts and the AUC numerator are exact "
        "BIGINTs (numerator <= 2*P*N, int64-safe to ~2e9 pos x neg "
        "pairs... per the q_target_encoding convention, corpora beyond "
        "that promote the product to DOUBLE before summing); only the "
        "final ratio touches FP, floor-scale rounded."
    ),
)
def q_auc_roc(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    labeled = _qc_margins(docs, with_label=True)
    per_score = (
        labeled.groupBy(F.col("m_micro").alias("s"))
        .agg(F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("ng"))
        .withColumn("b", F.floor(F.col("s") / float(_AUC_BUCKET_W)).cast("long"))
    )
    tot = per_score.agg(F.sum("p").alias("n_pos"), F.sum("ng").alias("n_neg"))
    # Bounded per-bucket exclusive offsets (~1e3 rows at any corpus size).
    boffs = (
        per_score.groupBy("b")
        .agg(F.sum("ng").alias("bn"))
        .select(
            "b",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("off_n"),
        )
    )
    wloc = Window.partitionBy("b").orderBy("s")
    cum = per_score.join(F.broadcast(boffs), "b").select(
        "p",
        "ng",
        (
            F.col("off_n")
            + F.coalesce(
                F.sum("ng").over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).alias("nb"),
    )
    out = cum.join(F.broadcast(tot)).agg(
        F.first("n_pos").alias("n_pos"),
        F.first("n_neg").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("nb") + F.col("ng"))).alias("num"),
    )
    # AUC is undefined on an empty or single-class corpus: emit ZERO rows
    # (matching the oracle's GROUP BY + HAVING) instead of Spark's global-
    # agg one-NULL-row / a 0/0 NaN division.
    out = out.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    return out.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        (
            F.floor(
                F.col("num") * 1.0
                / (2.0 * F.col("n_pos") * F.col("n_neg"))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("auc"),
    )


#: Calibration bins over the PER-TOKEN margin (m_micro / n_tok, weight
#: micro-units): 10 fixed 120k-wide bins centered on 0 (clamped ends). The
#: bin edge arithmetic is a single IEEE double division of two exactly-
#: representable integers plus shift/scale by exact constants — identical
#: expression text on both sides, so bin assignment cannot disagree.
_CAL_BIN_W = 120000.0
_CAL_SHIFT = 600000.0
_CAL_BINS = 10


@query(
    "q_calibration_bins",
    oracle=f"""
    WITH {_QC_LABELED_CTE}, binned AS (
      SELECT least(greatest(CAST(floor(
               (m_micro * 1.0 / n_tok + {_CAL_SHIFT}) / {_CAL_BIN_W}
             ) AS INTEGER), 0), {_CAL_BINS - 1}) AS bin,
             pos, m_micro, n_tok
      FROM labeled
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           floor(sum(pos) * 1.0 / count(*) * 1000000.0 + 0.5) / 1000000.0
             AS pos_rate,
           floor(sum(m_micro) * 1.0 / sum(n_tok) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_margin
    FROM binned GROUP BY bin
    """,
    doc=(
        "Reliability table for the quality classifier: bucket documents "
        "into 10 fixed per-token-margin bins and report observed "
        "positive rate vs mean margin per bin — the calibration curve "
        "that says whether margin 0.3 actually means ~58% positives. "
        "One groupBy on a row-local bin expression (partial+final agg, "
        "10-row result); the per-bin mean margin is computed from exact "
        "BIGINT sums (sum m_micro / sum n_tok), NOT an FP avg over "
        "per-doc ratios, so no summation-order sensitivity exists "
        "anywhere. The canonical eval-table shape at any corpus size."
    ),
)
def q_calibration_bins(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    labeled = _qc_margins(docs, with_label=True)
    bin_col = F.least(
        F.greatest(
            F.floor(
                (F.col("m_micro") * 1.0 / F.col("n_tok") + _CAL_SHIFT) / _CAL_BIN_W
            ).cast("int"),
            F.lit(0),
        ),
        F.lit(_CAL_BINS - 1),
    )
    g = labeled.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum("m_micro").alias("sm"),
        F.sum("n_tok").alias("st"),
    )
    return g.select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        (
            F.floor(F.col("n_pos") * 1.0 / F.col("n") * 1000000.0 + 0.5) / 1000000.0
        ).alias("pos_rate"),
        (
            F.floor(
                F.col("sm") * 1.0 / F.col("st") / 1000000.0 * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("mean_margin"),
    )


#: Operating-point sweep for the quality classifier: PER-TOKEN margin
#: thresholds in weight micro-units (0 = the q_quality_classifier keep
#: cutoff; +-60000 are stricter/looser curation operating points). The
#: predicate m_micro >= t * n_tok stays in exact BIGINTs.
_PR_THRESHOLDS = [-60000, 0, 60000]


@query(
    "q_precision_recall",
    oracle=f"""
    WITH {_QC_LABELED_CTE}, ts AS (
      SELECT unnest({_PR_THRESHOLDS!r}) AS t_micro
    ), conf AS (
      SELECT t_micro,
             CAST(sum(CASE WHEN pos = 1 AND m_micro >= t_micro * n_tok
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pos = 0 AND m_micro >= t_micro * n_tok
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pos = 1 AND m_micro <  t_micro * n_tok
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN pos = 0 AND m_micro <  t_micro * n_tok
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM labeled CROSS JOIN ts
      GROUP BY t_micro
    )
    SELECT t_micro, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
             AS precision_ppm,
           CASE WHEN tp + fn > 0
                THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
             AS recall_ppm,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(tp * 2000000 // (2 * tp + fp + fn) AS BIGINT) END
             AS f1_ppm
    FROM conf
    """,
    doc=(
        "Precision / recall / F1 of the quality classifier at three "
        "operating points against the lang='en' holdout — the threshold-"
        "selection table that complements q_auc_roc's threshold-free "
        "ranking metric (production curation picks t off THIS table: AUC "
        "says the model ranks well, this says what a given cutoff keeps "
        "and loses). Reuses the shared _qc_margins inference core; the "
        "decision predicate m_micro >= t * n_tok and the full confusion "
        "matrix are exact BIGINT arithmetic, and the P/R/F1 ratios are "
        "integer-ppm divisions NULL-guarded at degenerate thresholds — "
        "zero float tie risk anywhere. Shape: one explode + one per-doc "
        "aggregate, a 3-row broadcast threshold grid, and a 3-group "
        "final aggregate."
    ),
)
def q_precision_recall(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    labeled = _qc_margins(docs, with_label=True)
    ths = spark.createDataFrame(
        [(t,) for t in _PR_THRESHOLDS], "t_micro INT"
    )
    pred = F.col("m_micro") >= F.col("t_micro").cast("long") * F.col("n_tok")
    conf = (
        labeled.join(F.broadcast(ths))
        .groupBy("t_micro")
        .agg(
            F.sum(((F.col("pos") == 1) & pred).cast("long")).alias("tp"),
            F.sum(((F.col("pos") == 0) & pred).cast("long")).alias("fp"),
            F.sum(((F.col("pos") == 1) & ~pred).cast("long")).alias("fn"),
            F.sum(((F.col("pos") == 0) & ~pred).cast("long")).alias("tn"),
        )
    )
    return conf.select(
        "t_micro",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("CAST(tp * 1000000 div (tp + fp) AS BIGINT)"),
        ).alias("precision_ppm"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("CAST(tp * 1000000 div (tp + fn) AS BIGINT)"),
        ).alias("recall_ppm"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr("CAST(tp * 2000000 div (2 * tp + fp + fn) AS BIGINT)"),
        ).alias("f1_ppm"),
    )


@query(
    "q_bpe_fertility",
    oracle=_bpe_merges_oracle(emit="fertility"),
    doc=(
        "Tokenizer EVALUATION — per-language fertility (average subword "
        "tokens per word) of the q_bpe_merges-trained tokenizer: the "
        "standard multilingual-tokenizer-equity report (a language with "
        "2x fertility pays 2x the context budget per word; vocab sizing "
        "and mixture decisions read THIS table). The corpus is tokenized "
        "ONCE into per-(lang, word) counts; the training vocab is a "
        "rollup of that same aggregate (no second corpus scan), the "
        "trained symbol sequences join back on the word key, and "
        "fertility = sum(wc * |syms|) / sum(wc) is computed as exact "
        "integer ppm. Shape: everything after the one corpus-sized "
        "tokenize touches |lang x V| rows; the join back is "
        "vocab-to-vocab, co-partitioned on the word key."
    ),
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    # Materialize the per-(lang, word) counts ONCE (the q_rfm_segments
    # pattern): the training rollup below AND the final fertility join both
    # reference wl — un-materialized, the corpus tokenize would execute
    # twice (once inside _bpe_train's eager checkpoint, again when the
    # returned frame runs).
    wl = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    ).localCheckpoint(eager=True)
    wc_global = wl.groupBy("w").agg(F.sum("wc").cast("bigint").alias("wc"))
    _, v = _bpe_train(
        spark, sf_dir, _BPE_MERGES, apply_last=True, word_counts=wc_global
    )
    return (
        wl.join(v.select("w", F.size("syms").alias("n_syms")), "w")
        .groupBy("lang")
        .agg(
            F.sum("wc").cast("bigint").alias("n_words"),
            F.sum(F.col("wc") * F.col("n_syms")).cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("CAST(n_tokens * 1000000 div n_words AS BIGINT)").alias(
                "fertility_ppm"
            ),
        )
    )


#: RRF constant (Cormack et al. 2009's k=60, the Elasticsearch/Vespa
#: hybrid-search default) and the per-ranker candidate pool depth.
_RRF_K = 60
_RRF_POOL = 50


@query(
    "q_rrf_fusion",
    oracle=f"""{_SQL_BM25_SCORED}, bm25_rnk AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
        FROM bm25
      ) WHERE rnk <= {_RRF_POOL}
    ), dens0 AS (
      SELECT doc_id,
             CAST(length(list_filter(string_split(text, ' '),
                                     t -> t IN {_BM25_TERMS!r})) AS BIGINT)
               AS tf_total,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), dens_rnk AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               row_number() OVER (
                 ORDER BY tf_total * 1000000 // dl DESC, doc_id) AS rnk
        FROM dens0 WHERE tf_total > 0
      ) WHERE rnk <= {_RRF_POOL}
    ), fused AS (
      SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
             coalesce(1000000 // ({_RRF_K} + b.rnk), 0)
               + coalesce(1000000 // ({_RRF_K} + d.rnk), 0) AS rrf_micro,
             b.rnk AS bm25_rnk, d.rnk AS density_rnk
      FROM bm25_rnk b FULL OUTER JOIN dens_rnk d ON b.doc_id = d.doc_id
    )
    SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(bm25_rnk AS INTEGER) AS bm25_rnk,
           CAST(density_rnk AS INTEGER) AS density_rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rr
      FROM fused
    ) WHERE rr <= {_BM25_TOPK}
    """,
    doc=(
        "HYBRID RETRIEVAL via Reciprocal Rank Fusion (Cormack et al. "
        "2009, k=60 — the Elasticsearch/Vespa default): the BM25 ranking "
        "(same scorer as q_bm25, ONE textual source of truth via the "
        "shared CTE chain / _bm25_scored helper) fused with a "
        "term-density ranking (probe-term occurrences per token, a "
        "row-local array filter — standing in for the dense/vector leg "
        "of production hybrid search, which plugs in at the same "
        "doc_id+rank interface). RRF needs only RANKS, never score "
        "calibration, which is exactly why it is the production fusion "
        "default — and why it hash-matches here: contributions are "
        "1e6 div (60+rank) integer divisions, summed as BIGINTs, zero "
        "FP anywhere past BM25's already-quantized micro-scores. Plan: "
        "each ranker's global ordering is orderBy+limit "
        "(TakeOrderedAndProject, 50-row driver merge), the fusion is a "
        "full-outer join of two <=50-row sets, and the final top-10 "
        "window sorts a bounded set — nothing corpus-sized past the "
        "two scoring aggregates, at any scale."
    ),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    b_pool = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    wb = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    b_rnk = b_pool.withColumn("bm25_rnk", F.row_number().over(wb)).select(
        "doc_id", "bm25_rnk"
    )
    is_probe = " or ".join(f"t = '{w}'" for w in _BM25_TERMS)
    dens0 = docs.select(
        "doc_id",
        F.expr(
            f"CAST(size(filter(split(text, ' '), t -> {is_probe})) AS BIGINT)"
        ).alias("tf_total"),
        F.size(F.split("text", " ")).cast("bigint").alias("dl"),
    )
    d_pool = (
        dens0.filter(F.col("tf_total") > 0)
        .select(
            "doc_id", F.expr("tf_total * 1000000 div dl").alias("d_micro")
        )
        .orderBy(F.col("d_micro").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    wd = Window.orderBy(F.col("d_micro").desc(), "doc_id")
    d_rnk = d_pool.withColumn("density_rnk", F.row_number().over(wd)).select(
        "doc_id", "density_rnk"
    )
    fused = b_rnk.join(d_rnk, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(
                F.expr(f"1000000 div ({_RRF_K} + bm25_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({_RRF_K} + density_rnk)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_micro"),
        "bm25_rnk",
        "density_rnk",
    )
    wf = Window.orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.withColumn("rr", F.row_number().over(wf))
        .filter(F.col("rr") <= _BM25_TOPK)
        .select(
            "doc_id",
            "rrf_micro",
            F.col("bm25_rnk").cast("int").alias("bm25_rnk"),
            F.col("density_rnk").cast("int").alias("density_rnk"),
        )
    )


_KN_D = 0.75  # absolute discount (the standard Kneser-Ney choice)


@query(
    "q_kneser_ney",
    oracle=f"""
    WITH t0 AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), big AS MATERIALIZED (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))]) AS bg
      FROM t0 WHERE len(toks) >= 2
    ), cb AS MATERIALIZED (
      SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY bg
    ), pair AS MATERIALIZED (
      SELECT bg, cb,
             string_split(bg, ' ')[1] AS v, string_split(bg, ' ')[2] AS w
      FROM cb
    ), ctx AS MATERIALIZED (
      SELECT v, CAST(sum(cb) AS BIGINT) AS ctx,
             CAST(count(*) AS BIGINT) AS n1f
      FROM pair GROUP BY v
    ), cont AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n1b FROM pair GROUP BY w
    ), tt AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS t FROM pair
    ), lp AS MATERIALIZED (
      SELECT pair.bg,
             CAST(floor(ln(((pair.cb - {_KN_D}) / ctx.ctx)
                           + (({_KN_D} * ctx.n1f) / ctx.ctx)
                             * ((cont.n1b * 1.0) / tt.t))
                        * 1000000.0) AS BIGINT) AS lp
      FROM pair JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN tt
    )
    SELECT big.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(-sum(lp.lp) AS BIGINT) AS nll_micro,
           floor(-sum(lp.lp) * 1.0 / count(*) / 1000000.0 * 10000.0 + 0.5)
             / 10000.0 AS avg_nll
    FROM big JOIN lp USING (bg)
    GROUP BY big.doc_id
    """,
    doc=(
        "Interpolated Kneser-Ney bigram LM score per document — the "
        "KenLM-style smoothing the CCNet/Wikipedia-LM quality filter "
        "actually uses, upgrading q_bigram_lm's add-one: absolute "
        "discount D=0.75 on bigram counts, mass redistributed by the "
        "CONTINUATION probability (how many distinct contexts a word "
        "follows — the 'San Francisco' effect add-one cannot model). "
        "All smoothing statistics (context totals, distinct-continuation "
        "and distinct-left-context counts, bigram-type total) derive "
        "from the bigram count table itself; each distinct pair's "
        "log-prob is computed ONCE, floor-quantized to int64 micro-nats, "
        "and the per-doc score is an exact integer sum over the doc's "
        "bigram occurrences. Shapes follow the q_bigram_lm web-scale "
        "rule: every vocab-sized table shuffle-joins on its key (bg, v, "
        "w), only the 1-row type total broadcasts; scoring is one join "
        "of the doc bigram stream against the pair-lp table on bg."
    ),
)
def q_kneser_ney(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    # Shared construction with q_bigram_lm (count() is already bigint, so
    # the helper's plain count matches the cast the inline version carried).
    big, cb = _bigram_counts(docs)
    # The pair table feeds FOUR consumers (ctx, cont, the type total and
    # the lp join), and each would otherwise re-run the corpus bigram
    # explode + count aggregate from scratch (r13 — the
    # q_minhash_est_jaccard share-the-subtree fix). It is vocab^2-BOUNDED
    # (distinct bigrams, not occurrences), so materializing it once is
    # the cheap side of the trade at any scale. eager KEPT (r14): the
    # interleaved fresh-JVM A/B measured the lazy variant ~5% slower
    # (AB_R14_CKPT_LAZY.json) — lazy lets the four consumers' stages
    # race and duplicate the shared compute. NOT a lazy plan
    # constructor: building this frame runs the materialization job
    # (r13 ADVICE #2 contract note).
    pair = cb.select(
        "bg",
        "cb",
        F.element_at(F.split(F.col("bg"), " "), 1).alias("v"),
        F.element_at(F.split(F.col("bg"), " "), 2).alias("w"),
    ).localCheckpoint(eager=True)
    ctx = pair.groupBy("v").agg(
        F.sum("cb").cast("bigint").alias("ctx"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    cont = pair.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    tt = pair.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    d = _KN_D
    p_kn = ((F.col("cb") - d) / F.col("ctx")) + (
        (d * F.col("n1f")) / F.col("ctx")
    ) * ((F.col("n1b") * 1.0) / F.col("t"))
    lp = (
        pair.join(ctx, "v")
        .join(cont, "w")
        .crossJoin(F.broadcast(tt))
        .select(
            "bg",
            F.floor(F.log(p_kn) * 1000000.0).cast("bigint").alias("lp"),
        )
    )
    return (
        big.join(lp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (-F.sum("lp")).cast("bigint").alias("nll_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_micro",
            (
                F.floor(
                    F.col("nll_micro") * 1.0 / F.col("n_bigrams") / 1000000.0
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("avg_nll"),
        )
    )


@query(
    "q_video_frames",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             CAST(3 + doc_id % 5 AS INTEGER)  AS width,
             CAST(2 + doc_id % 3 AS INTEGER)  AS height,
             CAST(5 + doc_id % 12 AS BIGINT)  AS n_frames
      FROM documents
    ), lumas AS (
      SELECT doc_id, width, height, n_frames,
             [CAST(floor(((doc_id * 7 + i * 11) % 256) * 0.299) AS BIGINT)
              FOR i IN range(0, CAST(n_frames AS INTEGER), 2)] AS ls
      FROM params
    )
    SELECT doc_id AS media_id, width, height, n_frames,
           CAST(len(ls) AS BIGINT) AS n_sampled,
           CAST(list_sum(ls) AS BIGINT) AS luma_floor_sum,
           CAST(coalesce(list_sum(
             [abs(ls[i + 1] - ls[i]) FOR i IN range(1, len(ls))]), 0)
             AS BIGINT) AS motion_sum
    FROM lumas
    """,
    doc=(
        "VIDEO frame-sampling round-trip with a full hash-match oracle — "
        "the third media type beside q_media_roundtrip's image/audio: per "
        "doc, synthesize a real multi-frame raw-video container (VID0 "
        "header + n solid-color RGB frames derived from doc_id) inside "
        "Arrow-batched mapInPandas, then run it through the REAL numpy "
        "frame-sampling decoder (operators/multimodal.py "
        "video_frame_sample: header parse, (n,h,w,3) reshape, every-2nd-"
        "frame keyframe subsampling, per-frame Rec.601 luma, abs-diff "
        "motion signal). Solid frames make the per-frame floored luma "
        "integer-exact, so the oracle predicts the decoded aggregates "
        "arithmetically — container framing, byte round-trip, stride "
        "arithmetic, and motion diffs are all inside the hash. The "
        "motion_sum is the scene-change signal that decides extraction "
        "density in a real pipeline. Payloads never shuffle: synth + "
        "decode fuse in one narrow stage, executor memory bounded by the "
        "Arrow batch."
    ),
)
def q_video_frames(spark: SparkSession, sf_dir: str):
    import pandas as pd

    from ..operators.multimodal import encode_raw_video, video_frame_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    out_schema = (
        "media_id long, width int, height int, n_frames long, "
        "n_sampled long, luma_floor_sum long, motion_sum long"
    )

    def synth_and_decode(batches):
        import numpy as np

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            vids = []
            for d in ids:
                w, h, n = 3 + d % 5, 2 + d % 3, 5 + d % 12
                frames = np.zeros((n, h, w, 3), dtype="uint8")
                for i in range(n):
                    frames[i, :, :, 0] = (d * 7 + i * 11) % 256
                vids.append(encode_raw_video(frames))
            feats = video_frame_sample(pd.Series(vids))
            out = pd.DataFrame({"media_id": ids.to_numpy()})
            for c in feats.columns:
                out[c] = feats[c].to_numpy()
            yield out

    return docs.mapInPandas(synth_and_decode, schema=out_schema)


_NDCG_K = 10


@query(
    "q_ndcg",
    oracle=f"""{_SQL_BM25_SCORED}
    , ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id)
               AS rnk
      FROM bm25
    ), grades AS (
      SELECT doc_id,
             CAST(list_contains(string_split(text, ' '), '{_BM25_TERMS[0]}') AS BIGINT)
           + CAST(list_contains(string_split(text, ' '), '{_BM25_TERMS[1]}') AS BIGINT)
           + CAST(list_contains(string_split(text, ' '), '{_BM25_TERMS[2]}') AS BIGINT)
               AS g
      FROM documents
    ), dcg AS (
      SELECT CAST(sum(CAST(floor(
               (CASE g WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)
               / (ln(CAST(rnk + 1 AS DOUBLE)) / ln(2.0))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_micro
      FROM ranked JOIN grades USING (doc_id)
      WHERE rnk <= {_NDCG_K}
    ), gcount AS (
      SELECT CAST(sum(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM grades
    ), ideal AS (
      SELECT CAST(sum(CAST(floor(
               (CASE WHEN i <= n3 THEN 7
                     WHEN i <= n3 + n2 THEN 3
                     WHEN i <= n3 + n2 + n1 THEN 1
                     ELSE 0 END)
               / (ln(CAST(i + 1 AS DOUBLE)) / ln(2.0))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_micro
      FROM gcount, range(1, {_NDCG_K} + 1) AS r(i)
    )
    SELECT dcg_micro, idcg_micro,
           CASE WHEN idcg_micro > 0
                THEN CAST(dcg_micro AS DOUBLE) / idcg_micro END AS ndcg,
           n3 AS n_rel3, n2 AS n_rel2, n1 AS n_rel1
    FROM dcg, ideal, gcount
    """,
    doc=(
        "nDCG@10 of the BM25 ranking against GRADED relevance (grade = "
        "how many distinct probe terms the document contains, 0-3) — the "
        "position-discounted retrieval-quality metric that completes the "
        "eval family: q_ann_recall_eval checks set overlap, "
        "q_precision_recall checks thresholded decisions, THIS checks "
        "whether the most relevant documents surface FIRST (gain 2^g-1, "
        "discount log2(rank+1), normalized by the ideal ordering "
        "computed from the global grade histogram — never a global sort "
        "of the corpus, just three counts + a 10-position generated "
        "table). Per-position contributions floor-quantize to int64 "
        "micro-units before summation (the q_bm25 discipline), so "
        "DCG/IDCG are exact integers and the final ratio is the only "
        "FP. Shape: reuses the shared _bm25_scored chain (ONE textual "
        "source of truth with q_bm25/q_rrf_fusion); grades are "
        "row-local; everything after the grade histogram is bounded at "
        "10 rows."
    ),
)
def q_ndcg(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    g = sum(
        F.array_contains(toks, t).cast("bigint") for t in _BM25_TERMS
    ).alias("g")
    grades = docs.select("doc_id", g)

    ranked = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_NDCG_K)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("score_micro").desc(), "doc_id")
            ),
        )
    )
    gain = (
        F.when(F.col("g") == 3, 7.0)
        .when(F.col("g") == 2, 3.0)
        .when(F.col("g") == 1, 1.0)
        .otherwise(0.0)
    )
    dcg = (
        ranked.join(grades, "doc_id")
        .select(
            F.floor(
                gain
                / (F.log(F.col("rnk").cast("double") + 1.0) / F.log(F.lit(2.0)))
                * 1000000.0
                + 0.5
            )
            .cast("bigint")
            .alias("c")
        )
        .agg(F.sum("c").cast("bigint").alias("dcg_micro"))
    )
    gcount = grades.agg(
        F.sum(F.when(F.col("g") == 3, 1).otherwise(0)).cast("bigint").alias("n3"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
    )
    pos = gcount.select(
        "n3", "n2", "n1", F.explode(F.sequence(F.lit(1), F.lit(_NDCG_K))).alias("i")
    )
    igain = (
        F.when(F.col("i") <= F.col("n3"), 7.0)
        .when(F.col("i") <= F.col("n3") + F.col("n2"), 3.0)
        .when(F.col("i") <= F.col("n3") + F.col("n2") + F.col("n1"), 1.0)
        .otherwise(0.0)
    )
    ideal = pos.select(
        F.floor(
            igain
            / (F.log(F.col("i").cast("double") + 1.0) / F.log(F.lit(2.0)))
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("c")
    ).agg(F.sum("c").cast("bigint").alias("idcg_micro"))
    return (
        dcg.join(ideal)
        .join(gcount)
        .select(
            "dcg_micro",
            "idcg_micro",
            F.when(
                F.col("idcg_micro") > 0,
                F.col("dcg_micro").cast("double") / F.col("idcg_micro"),
            ).alias("ndcg"),
            F.col("n3").alias("n_rel3"),
            F.col("n2").alias("n_rel2"),
            F.col("n1").alias("n_rel1"),
        )
    )


@query(
    "q_mrr",
    oracle=f"""{_SQL_BM25_SCORED}
    , terms AS (
      SELECT unnest({list(_BM25_TERMS)!r}) AS term
    ), rel AS (
      SELECT t.term, b.doc_id, b.score_micro
      FROM terms t
      JOIN documents d ON list_contains(string_split(d.text, ' '), t.term)
      JOIN bm25 b ON b.doc_id = d.doc_id
    ), winners AS (
      SELECT term, doc_id AS w_doc, score_micro AS w_score FROM (
        SELECT term, doc_id, score_micro,
               row_number() OVER (PARTITION BY term
                 ORDER BY score_micro DESC, doc_id) AS rn
        FROM rel
      ) WHERE rn = 1
    ), ranks AS (
      SELECT w.term,
             CAST(1 + sum(CASE WHEN b.score_micro > w.w_score
                               OR (b.score_micro = w.w_score
                                   AND b.doc_id < w.w_doc)
                          THEN 1 ELSE 0 END) AS BIGINT) AS first_rank
      FROM winners w CROSS JOIN bm25 b
      GROUP BY w.term
    ), agg AS (
      SELECT CAST(sum(1000000 // first_rank) // count(*) AS BIGINT)
               AS mrr_ppm
      FROM ranks
    )
    SELECT r.term, r.first_rank,
           CAST(1000000 // r.first_rank AS BIGINT) AS rr_ppm, a.mrr_ppm
    FROM ranks r CROSS JOIN agg a
    """,
    doc=(
        "Per-query MRR of the BM25 ranking — the reciprocal-rank eval "
        "beside q_ndcg's position-discounted one (r8 verdict #8): each "
        "probe term is a query, its relevant set is the documents "
        "containing it (row-local contains, independent of the scoring "
        "feature), and RR = 1/rank of the FIRST relevant document in "
        "the shared 3-term BM25 ranking — 'how quickly is each aspect "
        "of the query first covered'. Plan shape avoids both global "
        "sorts and |terms|-key windows over the corpus: the first "
        "relevant doc per term is a max_by((doc, score), (score, "
        "-doc)) aggregate (map-side partial, mirrors the oracle's "
        "(score DESC, doc_id) rank), and its rank is 1 + count of "
        "scored docs strictly ahead under the SAME exact-integer "
        "ordering, via one conditional aggregate against the 3-row "
        "broadcast winner table — a zero-ahead winner keeps its group "
        "because the count rides a when() inside the aggregate, not a "
        "filter. Scores are the shared _bm25_scored exact micro-integer "
        "chain (one textual source of truth with q_bm25 / q_rrf_fusion "
        "/ q_ndcg), so every comparison is integer math and the ranks "
        "are hash-stable; rr/mrr are integer-ppm divisions."
    ),
)
def q_mrr(spark: SparkSession, sf_dir: str):
    # The scored table feeds TWO consumers (the relevance join and the
    # rank-counting cross join), and Catalyst re-runs the whole BM25
    # chain (explode + tf + three joins) per consumer. Materialize once
    # (r13): the table is (doc_id, score_micro) ints for probe-matching
    # docs only — bounded, the cheap kind of checkpoint (same call as
    # q_minhash_est_jaccard's signature share). eager KEPT (r14): the
    # interleaved fresh-JVM A/B measured the lazy variant ~5% slower
    # (AB_R14_CKPT_LAZY.json) — lazy lets both consumers' stages race
    # and duplicate the BM25 chain. NOT a lazy plan constructor:
    # building this frame runs the materialization job (r13 ADVICE #2).
    scored = _bm25_scored(spark, sf_dir).localCheckpoint(eager=True)
    docs = read_table(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "term string"
    )
    rel = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .crossJoin(F.broadcast(terms))
        .filter(F.expr("array_contains(toks, term)"))
        .select("doc_id", "term")
        .join(scored, "doc_id")
    )
    winners = (
        rel.groupBy("term")
        .agg(
            F.expr(
                "max_by(struct(doc_id AS d, score_micro AS s), "
                "struct(score_micro, -doc_id))"
            ).alias("w")
        )
        .select(
            "term",
            F.col("w.d").alias("w_doc"),
            F.col("w.s").alias("w_score"),
        )
    )
    ahead = (
        F.col("score_micro") > F.col("w_score")
    ) | (
        (F.col("score_micro") == F.col("w_score"))
        & (F.col("doc_id") < F.col("w_doc"))
    )
    ranks = (
        scored.crossJoin(F.broadcast(winners))
        .groupBy("term")
        .agg(
            (
                F.lit(1)
                + F.sum(F.when(ahead, 1).otherwise(0))
            )
            .cast("bigint")
            .alias("first_rank")
        )
    )
    agg = ranks.agg(
        F.expr(
            "CAST(sum(1000000 div first_rank) div count(*) AS BIGINT)"
        ).alias("mrr_ppm")
    )
    return ranks.select(
        "term",
        "first_rank",
        F.expr("CAST(1000000 div first_rank AS BIGINT)").alias("rr_ppm"),
    ).crossJoin(F.broadcast(agg))


@query(
    "q_lift_gain",
    oracle=f"""
    WITH {_QC_LABELED_CTE}, per_score AS (
      SELECT m_micro AS s, count(*) AS n, sum(pos) AS p
      FROM labeled GROUP BY m_micro
    ), tot AS (
      SELECT sum(n) AS n_tot, sum(p) AS p_tot FROM per_score
    ), buck AS (
      SELECT s, n, p, CAST(floor(s / {_AUC_BUCKET_W}) AS BIGINT) AS b
      FROM per_score
    ), boffs AS (
      SELECT b, coalesce(sum(bn) OVER (ORDER BY b DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off_n
      FROM (SELECT b, sum(n) AS bn FROM buck GROUP BY b)
    ), cum AS (
      SELECT s, n, p,
             off_n + coalesce(sum(n) OVER (PARTITION BY buck.b ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
      FROM buck JOIN boffs ON buck.b = boffs.b
    ), dec AS (
      SELECT least(CAST(above * 10 // n_tot AS BIGINT), 9) AS decile,
             n, p, n_tot, p_tot
      FROM cum CROSS JOIN tot
      WHERE p_tot > 0
    )
    SELECT decile,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(p) * 1000000 // sum(n) AS BIGINT) AS pos_rate_ppm,
           CAST(sum(p) * n_tot * 1000 // (sum(n) * p_tot) AS BIGINT)
             AS lift_milli
    FROM dec GROUP BY decile, n_tot, p_tot
    """,
    doc=(
        "Lift table by score decile for the quality-classifier margin "
        "against the lang='en' label — the marketing/risk-team view of "
        "the same model q_auc_roc and q_calibration_bins audit (lift@d = "
        "how much richer decile d is in positives than random; decile 0 "
        "= top scores). Deciles come from EXACT global ranks with NO "
        "global sort: the q_auc_roc / q_ks_test two-phase construction "
        "(per-bucket DESC cumsums in parallel + a broadcast bounded "
        "bucket-offset table) yields each tie-group's exact "
        "count-strictly-above, and decile = above*10 div n_total, so "
        "tied scores always share a decile and both engines bucket "
        "identically. All counts and ratios exact BIGINT (lift in "
        "milli-x via integer division; headroom n_pos * n_tot * 1000 < "
        "2^63 to ~3e7-doc corpora per the q_target_encoding convention "
        "— promote to DOUBLE beyond). Output: <= 10 rows."
    ),
)
def q_lift_gain(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    labeled = _qc_margins(docs, with_label=True)
    per_score = labeled.groupBy(F.col("m_micro").alias("s")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p")
    )
    tot = per_score.agg(F.sum("n").alias("n_tot"), F.sum("p").alias("p_tot"))
    buck = per_score.withColumn(
        "b", F.floor(F.col("s") / float(_AUC_BUCKET_W)).cast("long")
    )
    boffs = (
        buck.groupBy("b")
        .agg(F.sum("n").alias("bn"))
        .select(
            "b",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy(F.col("b").desc()).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off_n"),
        )
    )
    wloc = Window.partitionBy("b").orderBy(F.col("s").desc())
    cum = buck.join(F.broadcast(boffs), "b").select(
        "n",
        "p",
        (
            F.col("off_n")
            + F.coalesce(
                F.sum("n").over(
                    wloc.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("above"),
    )
    # Lift is undefined with zero positives (the milli-x division would be
    # by zero): emit ZERO rows, matching the oracle's WHERE (the q_auc_roc
    # single-class convention).
    dec = (
        cum.join(F.broadcast(tot))
        .filter(F.col("p_tot") > 0)
        .select(
            F.least(
                F.expr("CAST(above * 10 div n_tot AS BIGINT)"), F.lit(9)
            ).alias("decile"),
            "n",
            "p",
            "n_tot",
            "p_tot",
        )
    )
    return dec.groupBy("decile", "n_tot", "p_tot").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("p").cast("bigint").alias("n_pos"),
        F.expr("CAST(sum(p) * 1000000 div sum(n) AS BIGINT)").alias(
            "pos_rate_ppm"
        ),
        F.expr(
            "CAST(sum(p) * first(n_tot) * 1000"
            " div (sum(n) * first(p_tot)) AS BIGINT)"
        ).alias("lift_milli"),
    ).drop("n_tot", "p_tot")


@query(
    "q_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), posting AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
    ), stats AS (
      SELECT term, count(*) AS df, sum(tf) AS total_tf
      FROM posting GROUP BY term
    ), top AS (
      SELECT term, doc_id AS top_doc_id, tf AS top_tf FROM (
        SELECT term, doc_id, tf,
               row_number() OVER (PARTITION BY term
                                  ORDER BY tf DESC, doc_id) AS rk
        FROM posting
      ) WHERE rk = 1
    )
    SELECT s.term, CAST(s.df AS BIGINT) AS df,
           CAST(s.total_tf AS BIGINT) AS total_tf,
           t.top_doc_id, CAST(t.top_tf AS BIGINT) AS top_tf
    FROM stats s JOIN top t ON s.term = t.term
    """,
    doc=(
        "Inverted-index build: the full posting-list statistics table "
        "(per term: document frequency, total term frequency, and the "
        "heaviest posting with deterministic (tf DESC, doc_id) "
        "tie-break) — the structure a BM25/retrieval serving layer "
        "(q_bm25, q_rrf_fusion) is actually SERVED from; building it IS "
        "the retrieval-side output of a training-data pipeline. Shape: "
        "explode is narrow; the (term, doc) aggregate partial-combines "
        "before its shuffle so shuffle volume is |postings|, not "
        "|tokens|; the per-term stats and the top-posting window then "
        "ride the SAME term partitioning (one more exchange on term, "
        "AQE-coalesced). Skewed terms (stopwords) are bounded by "
        "per-doc tf, and the hottest terms are exactly what "
        "q_skew_audit-style review reads off this table's df column."
    ),
)
def q_inverted_index(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    posting = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = posting.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    wt = Window.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    top = (
        posting.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") == 1)
        .select(
            "term",
            F.col("doc_id").alias("top_doc_id"),
            F.col("tf").alias("top_tf"),
        )
    )
    return stats.join(top, "term").select(
        "term",
        F.col("df").cast("bigint").alias("df"),
        F.col("total_tf").cast("bigint").alias("total_tf"),
        "top_doc_id",
        F.col("top_tf").cast("bigint").alias("top_tf"),
    )
