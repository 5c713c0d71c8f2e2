"""Corpus-curation operators: rule-based quality gating, source-mixture
sampling, per-slice profiling, and embedding-space outlier screening.

These are the training-data curation steps downstream of dedup (the
reference pipeline stops at serving candles, reference
spark_processor/processor.py:77-101; an LLM-data pipeline at 100 TB runs
these over every shard before packing). All four are expressed with
built-in columnar functions — rule evaluation and norms are row-local
(narrow, codegen'd), and each query's only shuffle is the aggregate or
window on its natural grouping key (source / (lang, source) / label), so
the plans scale with the slice sizes, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from ..operators import dedup_hash
from ..operators.scale import fan_out
from ..operators.similarity import as_double_vec
from . import query

#: Gopher-style hard-filter bounds (Rae et al. 2021 table A1 shape —
#: thresholds tuned to the fixture's vocabulary, same rule structure).
_GOPHER_MIN_TOKENS, _GOPHER_MAX_TOKENS = 20, 1000
_GOPHER_MIN_WORDLEN, _GOPHER_MAX_WORDLEN = 2.0, 10.0
_GOPHER_MIN_STOP_HITS = 2
_GOPHER_MAX_TOP_SHARE = 0.30
_GOPHER_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


@query(
    "q_quality_gopher",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(list_aggregate(list_transform(toks, w -> len(w)), 'sum') AS DOUBLE)
               / len(toks) AS mean_wordlen,
             len(list_filter(list_distinct(toks),
                 w -> list_contains({_GOPHER_STOPWORDS!r}, w))) AS stop_hits,
             CAST(list_aggregate(list_transform(list_distinct(toks),
                    w -> len(list_filter(toks, x -> x = w))), 'max') AS DOUBLE)
               / len(toks) AS top_share
      FROM t
    )
    SELECT doc_id, n_tokens, mean_wordlen, stop_hits, top_share,
           CAST(n_tokens BETWEEN {_GOPHER_MIN_TOKENS} AND {_GOPHER_MAX_TOKENS} AS INTEGER) AS ok_len,
           CAST(mean_wordlen BETWEEN {_GOPHER_MIN_WORDLEN} AND {_GOPHER_MAX_WORDLEN} AS INTEGER) AS ok_wordlen,
           CAST(stop_hits >= {_GOPHER_MIN_STOP_HITS} AS INTEGER) AS ok_stop,
           CAST(top_share <= {_GOPHER_MAX_TOP_SHARE} AS INTEGER) AS ok_rep,
           CAST(n_tokens BETWEEN {_GOPHER_MIN_TOKENS} AND {_GOPHER_MAX_TOKENS}
                AND mean_wordlen BETWEEN {_GOPHER_MIN_WORDLEN} AND {_GOPHER_MAX_WORDLEN}
                AND stop_hits >= {_GOPHER_MIN_STOP_HITS}
                AND top_share <= {_GOPHER_MAX_TOP_SHARE} AS INTEGER) AS keep
    FROM m
    """,
    doc=(
        "Gopher-style rule-based quality gate: token-count bounds, mean "
        "word length bounds, minimum distinct-stopword hits (natural-"
        "language evidence), and top-token share cap (template/spam "
        "repetition). Emits each rule verdict separately plus the combined "
        "keep flag so curation can audit WHY a document was dropped — the "
        "per-rule rejection histogram is the standard curation report. "
        "Entirely row-local (one narrow pass, no shuffle); ratios are "
        "single integer divisions, bit-identical across engines. The "
        "top-token count is LINEAR per row: sort the tokens, then one "
        "fold over the sorted array tracking the longest equal-run — the "
        "max run of a sorted array IS the max term frequency. (The naive "
        "distinct x len counting transform is O(d*n) per row: a 100k-token "
        "doc costs ~10^10 comparisons inside ONE task with no parallelism "
        "to hide it; the oracle keeps that form as the readable spec.)"
    ),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS])
    n = F.size("toks")
    mean_wl = (
        F.aggregate("toks", F.lit(0), lambda acc, w: acc + F.length(w)).cast("double") / n
    )
    stop_hits = F.size(F.filter(F.array_distinct("toks"), lambda w: F.array_contains(stop, w)))
    # Max term frequency = longest run in the sorted token array: one
    # O(n log n) sort + one O(n) fold, all row-local codegen.
    run_step = lambda acc, w: F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))  # noqa: E731
    top_share = (
        F.aggregate(
            F.array_sort("toks"),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, w: F.struct(
                w.alias("prev"),
                run_step(acc, w).alias("run"),
                F.greatest(acc["best"], run_step(acc, w)).alias("best"),
            ),
            lambda acc: acc["best"],
        ).cast("double")
        / n
    )
    m = docs.withColumn("toks", toks).select(
        "doc_id",
        n.alias("n_tokens"),
        mean_wl.alias("mean_wordlen"),
        stop_hits.alias("stop_hits"),
        top_share.alias("top_share"),
    )
    ok_len = F.col("n_tokens").between(_GOPHER_MIN_TOKENS, _GOPHER_MAX_TOKENS)
    ok_wl = F.col("mean_wordlen").between(_GOPHER_MIN_WORDLEN, _GOPHER_MAX_WORDLEN)
    ok_stop = F.col("stop_hits") >= _GOPHER_MIN_STOP_HITS
    ok_rep = F.col("top_share") <= _GOPHER_MAX_TOP_SHARE
    return m.select(
        "doc_id",
        "n_tokens",
        "mean_wordlen",
        "stop_hits",
        "top_share",
        ok_len.cast("int").alias("ok_len"),
        ok_wl.cast("int").alias("ok_wordlen"),
        ok_stop.cast("int").alias("ok_stop"),
        ok_rep.cast("int").alias("ok_rep"),
        (ok_len & ok_wl & ok_stop & ok_rep).cast("int").alias("keep"),
    )


#: Mixture target: the sampled corpus is MIX_FRACTION of the input, spread
#: uniformly across sources (each source's quota = budget / n_sources,
#: capped by availability) — the "data mixing" step that rebalances
#: over-represented crawls before training.
_MIX_FRACTION = 0.4

#: Hash-range buckets for the two-phase quota selection. The boundary
#: bucket of a source holds ~1/_MIX_BUCKETS of its rows (md5-uniform), so
#: the only sorted partition is bounded at source_size/_MIX_BUCKETS.
_MIX_BUCKETS = 256
_MIX_BUCKET_WIDTH = -(-dedup_hash.MINHASH_P // _MIX_BUCKETS)  # ceil div


@query(
    "q_mixture_sample",
    oracle=f"""
    WITH t AS (
      SELECT CAST(ceil(ceil({_MIX_FRACTION} * count(*))
                       / count(DISTINCT source)) AS BIGINT) AS quota
      FROM documents
    ), r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source FROM r, t WHERE rk <= quota
    """,
    doc=(
        "Source-mixture sampling (data mixing): draw a 40%-of-corpus "
        "budget spread UNIFORMLY across sources — each source contributes "
        "min(quota, available) documents, chosen by deterministic id-hash "
        "rank so the draw is reproducible and append-stable per source. "
        "This is the rebalancing step that stops one over-crawled source "
        "from dominating a training mix.\n\n"
        "Scale shape: NOT a per-source row_number over the whole corpus — "
        "with O(100) sources at 100 TB that window sends ~1 TB per source "
        "through one sort task. Instead a two-phase distributed selection: "
        "(1) a per-(source, hash-range-bucket) histogram (tiny: sources x "
        f"{_MIX_BUCKETS} rows) whose running sum locates each source's "
        "boundary bucket and the residual rows needed from it; (2) rows in "
        "buckets strictly below the boundary are kept with a broadcast "
        "semi-join check (narrow), and only the boundary bucket — "
        f"~1/{_MIX_BUCKETS} of one source — is ranked, in a window keyed "
        "on (source, bucket). Bucket order is hash order, so the kept set "
        "is bit-identical to the single-sort rank's first-quota rows. The "
        "oracle states the semantics with the plain rank; the Spark plan "
        "is the scaled equivalent."
    ),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    totals = docs.agg(
        F.ceil(
            F.ceil(F.lit(_MIX_FRACTION) * F.count(F.lit(1)))
            / F.countDistinct("source")
        ).alias("quota")
    )
    h = dedup_hash.token_hash(F.col("doc_id").cast("string"))
    base = docs.select(
        "doc_id", "source", h.alias("h"), (h / _MIX_BUCKET_WIDTH).cast("int").alias("b")
    )

    # Phase 1: per-(source, bucket) histogram -> boundary bucket + residual.
    # |hist| <= n_sources * _MIX_BUCKETS, so the cumulative window is tiny.
    hist = base.groupBy("source", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "source", "b", "cnt", F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).alias("below")
    ).join(F.broadcast(totals))
    # Exactly one bucket per source straddles the quota (sources smaller
    # than the quota have none -> every row kept via the null boundary).
    bound = cum.filter(
        (F.col("below") < F.col("quota")) & (F.col("below") + F.col("cnt") >= F.col("quota"))
    ).select(
        "source",
        F.col("b").alias("b_star"),
        (F.col("quota") - F.col("below")).alias("need"),
    )

    # Phase 2: whole buckets below the boundary keep without sorting; only
    # the boundary bucket is ranked (bounded at ~source_size/_MIX_BUCKETS).
    j = base.join(F.broadcast(bound), "source", "left")
    keep_whole = j.filter(F.col("b_star").isNull() | (F.col("b") < F.col("b_star")))
    wb = Window.partitionBy("source", "b").orderBy("h", "doc_id")
    boundary = (
        j.filter(F.col("b") == F.col("b_star"))
        .withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= F.col("need"))
    )
    return keep_whole.select("doc_id", "source").unionAll(
        boundary.select("doc_id", "source")
    )


@query(
    "q_corpus_profile",
    oracle="""
    WITH r AS (
      SELECT lang, source, n_chars,
             len(string_split(text, ' ')) AS n_toks,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY n_chars, doc_id) AS rk,
             count(*)    OVER (PARTITION BY lang, source) AS n
      FROM documents
    )
    SELECT lang, source,
           count(*)                          AS n_docs,
           CAST(sum(n_toks) AS BIGINT)       AS total_tokens,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
           min(n_chars)                      AS min_chars,
           max(n_chars)                      AS max_chars,
           max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN n_chars END) AS p50_chars,
           max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN n_chars END) AS p90_chars
    FROM r GROUP BY lang, source
    """,
    doc=(
        "Per-(lang, source) corpus profile: doc count, token volume, char "
        "length mean/min/max and EXACT discrete p50/p90 — the shard "
        "report a curation run publishes per slice. Percentiles come from "
        "a rank-within-group window (value at rank ceil(p*n)), not an "
        "interpolating percentile whose convention differs across "
        "engines; the rank and the final aggregate share one (lang, "
        "source) exchange. At 100 TB the same plan holds: slice "
        "cardinality is what grows, and both the window and the aggregate "
        "key on it."
    ),
)
def q_corpus_profile(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    wo = Window.partitionBy("lang", "source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("lang", "source")
    r = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.row_number().over(wo).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    at = lambda p: F.max(  # noqa: E731
        F.when(F.col("rk") == F.ceil(p * F.col("n")), F.col("n_chars"))
    )
    return r.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        at(F.lit(0.5)).alias("p50_chars"),
        at(F.lit(0.9)).alias("p90_chars"),
    )


#: |z| above this flags an embedding outlier (degenerate/corrupt vectors —
#: clipped, near-one-hot, or wrongly-scaled — surface as extreme component
#: concentration; the cheap pre-ANN sanity screen).
_EMBED_Z_THRESHOLD = 2.0


@query(
    "q_embed_outliers",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label,
             CAST(list_aggregate(list_transform(embedding, x -> abs(x)), 'max')
                  AS DOUBLE) AS peak
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, peak,
             avg(peak)         OVER (PARTITION BY label) AS mu,
             stddev_samp(peak) OVER (PARTITION BY label) AS sd
      FROM n
    )
    SELECT vec_id, label, round(peak, 6) AS peak,
           round((peak - mu) / sd, 4) AS z,
           CAST(abs((peak - mu) / sd) > {_EMBED_Z_THRESHOLD} AS INTEGER) AS is_outlier
    FROM s
    """,
    doc=(
        "Embedding-space quality screen: per-label z-score of vector "
        "PEAKEDNESS (max |component|); |z| > 2 flags degenerate vectors — "
        "clipped, near-one-hot, or mis-scaled embeddings concentrate mass "
        "in few components and stand out long before any ANN search "
        "breaks. (The L2 norm is NOT the statistic: these fixtures, like "
        "production embedding stores, are unit-normalized, so norms carry "
        "only float noise.) The peak is a row-local fold with no "
        "summation, so it is bit-identical across engines; the only "
        "shuffle is the per-label moment window — at extreme scale swap "
        "the window for a tiny per-label aggregate broadcast join, same "
        "key. z is rounded at 4 because group-moment summation order "
        "differs between engines."
    ),
)
def q_embed_outliers(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    peak = F.array_max(F.transform(as_double_vec(F.col("embedding")), F.abs))
    n = emb.select("vec_id", "label", peak.alias("peak"))
    w = Window.partitionBy("label")
    s = n.select(
        "vec_id",
        "label",
        "peak",
        F.avg("peak").over(w).alias("mu"),
        F.stddev_samp("peak").over(w).alias("sd"),
    )
    z = (F.col("peak") - F.col("mu")) / F.col("sd")
    return s.select(
        "vec_id",
        "label",
        F.round("peak", 6).alias("peak"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > _EMBED_Z_THRESHOLD).cast("int").alias("is_outlier"),
    )


#: Duplicate word-3-gram fraction cap (Rae et al. 2021 §A1.1 "duplicate
#: n-gram fraction" — theirs over char n-grams at several n; one word-n
#: here, same rule shape). Tuned to the fixture vocabulary.
_DUP_NGRAM_N = 3
_DUP_NGRAM_MAX_FRAC = 0.20


@query(
    "q_dup_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), w AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - {_DUP_NGRAM_N} + 2),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS wins
      FROM t WHERE len(toks) >= {_DUP_NGRAM_N}
    )
    SELECT doc_id,
           len(wins) AS n_windows,
           round(1.0 - CAST(len(list_distinct(wins)) AS DOUBLE) / len(wins), 6)
             AS dup_ngram_frac,
           CAST(1.0 - CAST(len(list_distinct(wins)) AS DOUBLE) / len(wins)
                <= {_DUP_NGRAM_MAX_FRAC} AS INTEGER) AS ok_dup
    FROM w
    """,
    doc=(
        "Duplicate n-gram fraction (the Gopher repetition rule family, "
        "Rae et al. 2021 A1.1): fraction of a document's word 3-gram "
        "windows that are repeats — 1 - distinct/total — catching the "
        "looping/boilerplate spam that top-token share misses (a document "
        "cycling a 50-word paragraph has low top-token share but near-1 "
        "duplicate n-gram fraction). Entirely row-local: the window array "
        "is a sequence+transform projection, the fraction one "
        "array_distinct — no shuffle anywhere, scales as a pure map."
    ),
)
def q_dup_ngrams(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = _DUP_NGRAM_N
    wins = F.transform(
        F.sequence(F.lit(1), F.size("toks") - n + 1),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
        ),
    )
    # Threshold on the RAW fraction, round only for display — the oracle
    # compares unrounded, so thresholding the rounded value would disagree
    # on documents landing inside the rounding half-ulp of the cutoff.
    raw_frac = 1.0 - F.size(F.array_distinct("wins")).cast("double") / F.size("wins")
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select("doc_id", wins.alias("wins"))
        .select(
            "doc_id",
            F.size("wins").alias("n_windows"),
            F.round(raw_frac, 6).alias("dup_ngram_frac"),
            (raw_frac <= _DUP_NGRAM_MAX_FRAC).cast("int").alias("ok_dup"),
        )
    )


#: Range-bucket count for the two-phase global permutation. Buckets are the
#: hash's HIGH bits (order-preserving prefix), so per-bucket numbering plus
#: bucket-count offsets reproduces the exact global ORDER BY rank. Width is
#: derived from the hash's actual range so bucket count and uniformity
#: survive a MINHASH_P change.
_SHUFFLE_BUCKETS = 256
_SHUFFLE_BUCKET_WIDTH = (dedup_hash.MINHASH_P - 1) // _SHUFFLE_BUCKETS + 1


@query(
    "q_global_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS BIGINT) AS shuffle_pos
    FROM documents
    """,
    doc=(
        "Deterministic global permutation for training-data ordering: every "
        "doc gets its rank under ORDER BY (md5-hash of id, id) — a seeded, "
        "reproducible shuffle any worker can recompute. The naive global "
        "row_number is the canonical scale-killer (one task sorts the "
        "corpus through an Exchange SinglePartition); this plan is "
        "two-phase: range-bucket on the hash's HIGH bits (order-preserving "
        "prefix, so bucket order == global order; md5 uniformity makes "
        "buckets ~n/256 each), rank within each bucket in parallel, then "
        "add broadcast per-bucket offsets (a 256-row count + cumsum). Same "
        "exact ranks as the oracle's one-line window, corpus never passes "
        "through a single task. The only bounded single-partition exchange "
        "is the 256-row offset cumsum."
    ),
)
def q_global_shuffle(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string"))
    # Integer division (`div`), not float-divide-then-truncate: double
    # division is only order-preserving while the hash fits the 2^53
    # mantissa, so bucketing would silently break if MINHASH_P ever grew.
    keyed = docs.select("doc_id", h.alias("h")).withColumn(
        "b", F.expr(f"CAST(h div {_SHUFFLE_BUCKET_WIDTH} AS INT)")
    )
    within = F.row_number().over(
        Window.partitionBy("b").orderBy("h", "doc_id")
    )
    counts = keyed.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    offset = (
        F.sum("cnt").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
        )
    )
    offsets = counts.select(
        "b", F.coalesce(offset, F.lit(0)).alias("off")
    )
    return (
        keyed.withColumn("pos_in_bucket", within)
        .join(F.broadcast(offsets), "b")
        .select(
            "doc_id",
            (F.col("off") + F.col("pos_in_bucket")).cast("long").alias("shuffle_pos"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction & per-source quota (round 6)
# ---------------------------------------------------------------------------

#: PII patterns in the Java-regex / RE2 COMMON dialect (no lookaround, no
#: backrefs; \b, \d, {m,n}, non-capturing groups behave identically), so
#: the Spark expressions and the DuckDB oracle compile the same automaton.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_PII_IP = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
#: Replacement order matters (an IP-like span inside an already-redacted
#: email must not double-count): email -> phone -> ip, identical both sides.
_PII_ORDER = [("email", _PII_EMAIL, "<EMAIL>"), ("phone", _PII_PHONE, "<PHONE>"),
              ("ip", _PII_IP, "<IP>")]


def redact_pii(text):
    """(redacted_text_column, {kind: count_column}) — counts measured on the
    ORIGINAL text per pattern, replacements chained in _PII_ORDER."""
    counts = {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for kind, pat, _ in _PII_ORDER
    }
    red = text
    for _, pat, token in _PII_ORDER:
        red = F.regexp_replace(red, pat, token)
    return red, counts


@query(
    "q_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INTEGER)    AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
    FROM documents
    """,
    doc=(
        "PII scrub (emails / NANP phones / IPv4) — the redaction pass every "
        "published web-corpus pipeline runs before training. Per doc: match "
        "counts per category (measured on the original text) plus the md5 "
        "of the fully redacted text — the digest makes the ENTIRE redacted "
        "string part of the hash-match, so the oracle verifies the actual "
        "replacement output, not just the counts. Patterns live in the "
        "Java-regex/RE2 common dialect so both engines compile the same "
        "automaton. Pure row-local map: no shuffle, scales as a scan; "
        "replacement order is fixed (email before phone before ip) so "
        "overlapping spans resolve identically everywhere. Exact-match "
        "semantics on synthetic PII are pinned in tests/test_curation.py."
    ),
)
def q_pii_redact(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    red, counts = redact_pii(F.col("text"))
    return docs.select(
        "doc_id",
        counts["email"].cast("int").alias("n_emails"),
        counts["phone"].cast("int").alias("n_phones"),
        counts["ip"].cast("int").alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


#: Per-source document quota (RefinedWeb-style domain cap): keep the top
#: _SOURCE_CAP docs per source by (n_chars DESC, doc_id ASC).
_SOURCE_CAP = 10
_SOURCE_CAP_SALTS = 4


@query(
    "q_source_cap",
    oracle=f"""
    SELECT doc_id, source, n_chars, CAST(rk AS INTEGER) AS src_rank FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents
    ) WHERE rk <= {_SOURCE_CAP}
    """,
    doc=(
        "Per-source quota: keep the best N docs per source (quality proxy "
        "n_chars, deterministic doc_id tie-break) — the domain-cap step "
        "web-corpus pipelines use to stop one crawl domain from dominating "
        "the mixture (RefinedWeb/C4 lineage). The oracle is one window; "
        "the Spark plan is the SKEW-PROOF two-phase form: rank within "
        "(source, salt) slices and keep <= N per slice, then rank the "
        "<= N x salts survivors per source — identical result (the true "
        "top-N per source survives its salt slice by construction), but no "
        "task ever windows more than the slice, so a monster source (half "
        "the crawl from one domain) cannot pin a single partition. "
        "Equivalence of the two forms is exactly what the oracle checks."
    ),
)
def q_source_cap(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    salted = docs.withColumn(
        "salt", (F.col("doc_id") % _SOURCE_CAP_SALTS).cast("int")
    )
    local_rank = F.row_number().over(
        Window.partitionBy("source", "salt").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
    )
    survivors = (
        salted.withColumn("lr", local_rank)
        .filter(F.col("lr") <= _SOURCE_CAP)
        .drop("lr", "salt")
    )
    final_rank = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
    )
    return (
        survivors.withColumn("src_rank", final_rank)
        .filter(F.col("src_rank") <= _SOURCE_CAP)
        .select("doc_id", "source", "n_chars", F.col("src_rank").cast("int"))
    )


#: Blocklist terms + max fraction of a doc's tokens that may be blocked
#: occurrences before the doc is dropped (density gate, not C4's any-hit
#: rule — the fixture vocabulary is dense enough that any-hit would drop
#: nearly everything, which is itself the lesson: blocklist gates must be
#: calibrated to corpus term frequency).
_BLOCKLIST = ["slow", "big", "merge"]
_BLOCKLIST_MAX_FRAC = 0.05


@query(
    "q_blocklist_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN ('slow', 'big', 'merge'))) AS INTEGER) AS n_hits,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(CASE WHEN len(list_filter(toks, x -> x IN ('slow', 'big', 'merge')))
                     < {_BLOCKLIST_MAX_FRAC} * len(toks)
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM t
    """,
    doc=(
        "Blocklist density gate: count occurrences of blocked terms per "
        "doc and keep docs where the blocked fraction stays under 5% "
        "(C4-lineage bad-words filtering, density-calibrated). Occurrence "
        "count via a lambda filter over the token array — NOT "
        "array_intersect, which dedups and would undercount repeated "
        "hits. Fully row-local (narrow, codegen'd higher-order "
        "functions); at 100 TB this is a scan-speed map and the "
        "blocklist, however large, broadcasts as a literal array or a "
        "broadcast join against a terms table."
    ),
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    blocked = F.size(
        F.filter(toks, lambda t: t.isin(*_BLOCKLIST))
    )
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        blocked.cast("int").alias("n_hits"),
        n_tokens.cast("int").alias("n_tokens"),
        (blocked < F.lit(_BLOCKLIST_MAX_FRAC) * n_tokens)
        .cast("int")
        .alias("keep"),
    )


_JL_K, _JL_DIM = 8, 64


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 sign matrix for the Johnson-Lindenstrauss random
    projection — md5-seeded so both engines inline the identical
    literals (no RNG state, reproducible across sessions and rounds)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(_JL_DIM)
        ]
        for j in range(_JL_K)
    ]


_JL_SIGNS = _jl_signs()
#: 1/sqrt(k) — the JL scale keeping expected norms unchanged. Written as
#: one literal so both engines multiply by the identical double.
_JL_SCALE = "0.35355339059327373"


def _jl_expr(j: int, elem: str) -> str:
    """Sum-of-signed-elements expression for output dim j; `elem` formats
    the 1-based input element access for the target engine. Textually
    identical term order on both sides => identical double rounding."""
    terms = " + ".join(
        f"({s}.0)*{elem.format(i=i + 1)}" for i, s in enumerate(_JL_SIGNS[j])
    )
    return f"round(({terms})*{_JL_SCALE}, 4)"


@query(
    "q_embed_project",
    oracle="SELECT vec_id, "
    + ", ".join(
        _jl_expr(j, "CAST(embedding[{i}] AS DOUBLE)") + f" AS proj_{j}"
        for j in range(_JL_K)
    )
    + " FROM embeddings",
    doc=(
        "Johnson-Lindenstrauss random projection 64d -> 8d: signed-sum of "
        "components with a fixed md5-seeded +/-1 matrix, scaled 1/sqrt(8) "
        "(Achlioptas 2003 database-friendly JL — pairwise distances "
        "preserved within epsilon w.h.p.). Pure row-local arithmetic "
        "(codegen'd, no shuffle, no UDF); the 100 TB use is shrinking the "
        "ANN/cluster working set 8x before any distance computation, with "
        "the sign matrix inlined as literals — nothing to broadcast. Both "
        "engines evaluate the textually identical left-to-right sum, so "
        "doubles round identically and the check is a full hash match."
    ),
)
def q_embed_project(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.withColumn("e", as_double_vec(F.col("embedding")))
    return e.select(
        "vec_id",
        *[
            F.expr(_jl_expr(j, "element_at(e, {i})")).alias(f"proj_{j}")
            for j in range(_JL_K)
        ],
    )


@query(
    "q_embed_drift",
    oracle="""
    WITH comp AS (
      SELECT label, vec_id % 2 AS grp, i AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS r(i)
    ), cent AS (
      SELECT label, grp, pos, avg(x) AS c
      FROM comp GROUP BY label, grp, pos
    ), paired AS (
      SELECT a.label, a.pos, a.c AS c0, b.c AS c1
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.pos = b.pos AND a.grp = 0 AND b.grp = 1
    )
    SELECT label,
           floor(sqrt(sum((c1 - c0) * (c1 - c0))) * 10000.0 + 0.5) / 10000.0
             AS centroid_dist
    FROM paired GROUP BY label
    """,
    doc=(
        "Embedding-space drift per label: L2 distance between the class "
        "centroid of cohort A (even vec_id — standing in for 'reference "
        "snapshot') and cohort B (odd — 'current') — the vector-space "
        "complement of q_psi's scalar drift, catching representation "
        "shift (new encoder version, upstream text drift) that marginal "
        "value histograms can't see. Shape: posexplode to (label, "
        "cohort, dim) components, ONE partial+final avg — centroids are "
        "k x 2 x 64 rows however big the corpus — then a tiny pairing "
        "join and per-label reduce. No vector ever crosses the wire "
        "whole; at 100 TB this is strictly aggregate-shaped."
    ),
)
def q_embed_drift(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("grp"),
        F.posexplode(as_double_vec(F.col("embedding"))).alias("pos0", "x"),
    ).withColumn("pos", F.col("pos0") + 1)
    cent = comp.groupBy("label", "grp", "pos").agg(F.avg("x").alias("c"))
    a = cent.filter(F.col("grp") == 0).select("label", "pos", F.col("c").alias("c0"))
    b = cent.filter(F.col("grp") == 1).select(
        F.col("label").alias("label_b"), F.col("pos").alias("pos_b"), F.col("c").alias("c1")
    )
    paired = a.join(
        b, (a.label == b.label_b) & (a.pos == b.pos_b)
    )
    d2 = (F.col("c1") - F.col("c0")) * (F.col("c1") - F.col("c0"))
    return (
        paired.groupBy("label")
        .agg(
            (F.floor(F.sqrt(F.sum(d2)) * 10000.0 + 0.5) / 10000.0).alias(
                "centroid_dist"
            )
        )
    )


#: Corpus-diff derivation constants: v2 drops every 7th doc, rewrites every
#: 10th, and the diff statuses below are the dataset-release audit contract.
_DIFF_DROP_MOD = 7
_DIFF_EDIT_MOD = 10


@query(
    "q_corpus_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
    ), v2 AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % {_DIFF_EDIT_MOD} = 0
                  THEN md5(text || ' [rev2]') ELSE md5(text) END AS fp
      FROM documents WHERE doc_id % {_DIFF_DROP_MOD} <> 0
    ), d AS (
      SELECT coalesce(v1.source, v2.source) AS source,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.fp <> v2.fp     THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    )
    SELECT source, status, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY 1, 2
    """,
    doc=(
        "Corpus release diff (dataset-versioning audit): full-outer join of "
        "two corpus versions on doc_id comparing content fingerprints, "
        "classifying every doc added / removed / changed / unchanged, "
        "rolled up per source. The v2 side is DERIVED in-query (drop every "
        "7th doc, rewrite every 10th) so the diff semantics are "
        "oracle-checkable without a second fixture; in production v2 is the "
        "next release's parquet. Shape at 100 TB: fingerprints are "
        "row-local md5, the diff is ONE doc_id-partitioned full-outer join "
        "(both sides co-partition on the join key), and only (source, "
        "status) counts ever leave it — release audits stay one shuffle "
        "regardless of corpus size, which is why diffing fingerprints "
        "beats re-running dedup between releases."
    ),
)
def q_corpus_diff(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", "source", F.md5(F.col("text").cast("binary")).alias("fp"))
    v2 = docs.filter(F.col("doc_id") % _DIFF_DROP_MOD != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % _DIFF_EDIT_MOD == 0,
            F.md5(F.concat(F.col("text"), F.lit(" [rev2]")).cast("binary")),
        )
        .otherwise(F.md5(F.col("text").cast("binary")))
        .alias("fp"),
    )
    # Presence is detected with explicit marker columns, NOT fp
    # nullability: md5(NULL text) is NULL, so a NULL-text doc present on
    # both sides would read as "added" under an fp-null test while the
    # oracle (doc_id-null checks) says "unchanged". The fp inequality for
    # "changed" stays plain != on purpose — NULL <> NULL is NULL in both
    # engines, falling through to "unchanged" identically.
    j = v1.alias("a").withColumn("in_a", F.lit(1)).join(
        v2.alias("b").withColumn("in_b", F.lit(1)), "doc_id", "full_outer"
    )
    status = (
        F.when(F.col("in_a").isNull(), F.lit("added"))
        .when(F.col("in_b").isNull(), F.lit("removed"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: Character-entropy alphabet: the 26 letters + space. Occurrence counting
#: is length(text) - length(replace(text, ch)) per char — row-local string
#: ops both engines share, no explode, no shuffle.
_ENTROPY_CHARS = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]


@query(
    "q_char_entropy",
    oracle=f"""
    WITH cnts AS (
      SELECT doc_id,
             [{", ".join(f"length(text) - length(replace(text, '{c}' , ''))" for c in _ENTROPY_CHARS if c != " ")}, length(text) - length(replace(text, ' ', ''))] AS cs
      FROM documents
    ), tot AS (
      SELECT doc_id, cs, CAST(list_aggregate(cs, 'sum') AS BIGINT) AS total
      FROM cnts
    )
    SELECT doc_id, total,
           floor(-list_aggregate(
                   list_transform(list_filter(cs, c -> c > 0),
                                  c -> (1.0 * c / total) * ln(1.0 * c / total)),
                   'sum')
                 * 10000.0 + 0.5) / 10000.0 AS entropy
    FROM tot WHERE total > 0
    """,
    doc=(
        "Per-document character-distribution Shannon entropy over "
        "[a-z ]: the CCNet-family gibberish/boilerplate signal — natural "
        "text sits near the language's typical ~2.8-3.1 nats, base64 blobs "
        "and key-mash spam run high, repeated-char padding runs low. "
        "Fully ROW-LOCAL: per-char occurrence counts via "
        "length(text)-length(replace(text,ch)) (27 codegen'd string ops, "
        "no explode -> the per-doc histogram never shuffles), entropy "
        "folded with array HOFs. At 100 TB this is a narrow map like the "
        "other quality gates — zero exchanges, scales with bytes scanned. "
        "ln() is libm on both engines; the tie-proof 4-dp round absorbs "
        "any last-ulp divergence."
    ),
)
def q_char_entropy(spark: SparkSession, sf_dir: str):
    # fan_out: 27 length(replace()) passes per row dwarf the scan, and the
    # single-file fixture gives one input split (r10 serialization audit:
    # a 0.94 s one-task stage).
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    cs = F.array(
        *[
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(c)))
            for c in _ENTROPY_CHARS
        ]
    )
    # The total>0 gate is expressed as the equivalent one-regex predicate
    # (total = count of [a-z ] chars, so total>0 <=> the text contains
    # one): Catalyst pushes Filters below the fan_out exchange by
    # SUBSTITUTING the alias, so `total > 0` sank the whole 27-replace
    # expression into the single-split scan stage and serialized it (r10
    # serialization audit) — the cheap regex pushes down harmlessly while
    # the counting Projects stay above the exchange. Same row set, so the
    # oracle's WHERE total > 0 still matches.
    d = docs.filter(F.col("text").rlike("[a-z ]")).select("doc_id", cs.alias("cs"))
    d = d.select(
        "doc_id",
        "cs",
        F.aggregate("cs", F.lit(0).cast("bigint"), lambda acc, c: acc + c).alias(
            "total"
        ),
    )
    p_ln_p = F.transform(
        F.filter("cs", lambda c: c > 0),
        lambda c: (c * 1.0 / F.col("total")) * F.log(c * 1.0 / F.col("total")),
    )
    ent = -F.aggregate(p_ln_p, F.lit(0.0), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        "total",
        (F.floor(ent * 10000.0 + 0.5) / 10000.0).alias("entropy"),
    )


#: Embedding covariance quantization: values are fixed-point at 1e-4, so
#: every Gram entry accumulates exactly in int64 (|q| <= ~6e3 on unit-ish
#: embeddings -> q^2 <= ~4e7; the n*Sij product in the covariance formula
#: stays under 2^63 through n ~ 5e5 vectors at this quantization — beyond
#: that, center first or widen the fixed point).
_COV_SCALE = 10000.0
_COV_DIM = 64


@query(
    "q_embed_covariance",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_COV_SCALE!r} + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ), ex AS (
      SELECT vec_id, CAST(t.i AS INTEGER) AS i, q[t.i + 1] AS v
      FROM q, generate_series(0, {_COV_DIM - 1}) t(i)
    ), mom AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sij
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ), sums AS (
      SELECT i, CAST(sum(v) AS BIGINT) AS si FROM ex GROUP BY 1
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM q
    )
    SELECT mom.i AS i, mom.j AS j,
           floor(1.0 * (n * sij - sa.si * sb.si) / (n * n)
                 / {_COV_SCALE * _COV_SCALE!r}
                 * 1000000.0 + 0.5) / 1000000.0 AS cov
    FROM mom JOIN sums sa ON mom.i = sa.i JOIN sums sb ON mom.j = sb.i, n
    """,
    doc=(
        "Distributed embedding covariance matrix (the second-moment input "
        "to PCA/whitening/ZCA preprocessing): upper triangle of cov(i,j) "
        "over all vectors. The Spark side is the SCALE-CORRECT shape — an "
        "Arrow-batched mapInPandas accumulates a per-partition int64 Gram "
        "matrix Q^T Q (numpy, exact integer matmul on the fixed-point "
        "quantization) and emits just d(d+1)/2 = 2080 partial rows PER "
        "PARTITION, so the shuffle carries partitions x 2080 rows no "
        "matter how many vectors exist — the classic partial-aggregate "
        "pattern for moment matrices, where the naive dimension-pair "
        "self-join shuffles n*d^2 rows (the oracle uses that form: same "
        "exact integers, different plan). Centering happens in the final "
        "combine via (n*Sij - Si*Sj)/n^2 on exact longs; the only FP is "
        "the last division chain, written identically on both sides."
    ),
)
def q_embed_covariance(spark: SparkSession, sf_dir: str):
    import pandas as pd  # noqa: PLC0415 — Arrow path only

    emb = read_table(spark, sf_dir, "embeddings")
    # The quantized vector is AUGMENTED with a constant 1 (the classic
    # (d+1)x(d+1) moment-matrix trick): the Gram's extra row then carries
    # the per-dimension sums Si at (i, d) and the vector count n at
    # (d, d), so ONE mapInPandas pass over ONE scan yields every moment —
    # the previous formulation re-scanned the table for a posexplode sum
    # pass and a count pass (3 FileScans in PLANS.md).
    q = emb.select(
        F.concat(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * _COV_SCALE + 0.5).cast("long"),
            ),
            F.array(F.lit(1).cast("long")),
        ).alias("q")
    )

    dim = _COV_DIM + 1

    def gram(batches):
        import numpy as np

        g = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            g += m.T @ m
            seen = True
        if seen:
            iu = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "s": g[iu],
                }
            )

    partials = q.mapInPandas(gram, schema="i int, j int, s long")
    # localCheckpoint the (d+1)(d+2)/2-row moment table: it feeds three
    # consumers (moments / Si row / n cell) and without materialization
    # each re-derives the whole scan+Gram pass (4 MapInPandas stages
    # measured). 2145 tiny rows, invocation-scoped — the q_pagerank
    # materialization rule applied one level up.
    mom_all = (
        partials.groupBy("i", "j").agg(F.sum("s").alias("sij"))
        .localCheckpoint(eager=True)
    )
    mom = mom_all.filter(F.col("j") < _COV_DIM)
    sums = mom_all.filter(
        (F.col("j") == _COV_DIM) & (F.col("i") < _COV_DIM)
    ).select("i", F.col("sij").alias("si"))
    n = mom_all.filter(
        (F.col("i") == _COV_DIM) & (F.col("j") == _COV_DIM)
    ).select(F.col("sij").alias("n"))
    sa = sums.select(F.col("i").alias("i_a"), F.col("si").alias("si_a"))
    sb = sums.select(F.col("i").alias("i_b"), F.col("si").alias("si_b"))
    cov = (
        (F.col("n") * F.col("sij") - F.col("si_a") * F.col("si_b"))
        * 1.0
        / (F.col("n") * F.col("n"))
        / F.lit(_COV_SCALE * _COV_SCALE)
    )
    return (
        mom.join(F.broadcast(sa), mom.i == F.col("i_a"))
        .join(F.broadcast(sb), mom.j == F.col("i_b"))
        .join(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.floor(cov * 1000000.0 + 0.5) / 1000000.0).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# Portable Bloom filter build + probe (round 7)
# ---------------------------------------------------------------------------

#: Bloom geometry: 1024 bits as 32 words x 32 bits (masks stay positive in
#: int64 on both engines — no 1<<63 sign edge), k=3 seeded hashes.
#: DELIBERATELY undersized for the ~400-key build set (fill ~0.7) so the
#: fixture exercises real false positives and the fp-rate accounting is
#: nontrivial; production sizes m ~ 10 bits/key for ~1% fp.
_BLOOM_BITS = 1024
_BLOOM_WORD_BITS = 32
_BLOOM_K = 3
_BLOOM_CUTOFF = 400

_SQL_NORM_FP = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


def _bloom_sql_pos(seed: int) -> str:
    seeded = "fp || '#" + str(seed) + "'"
    return f"({dedup_hash.sql_token_hash(seeded)} % {_BLOOM_BITS})"


@query(
    "q_bloom_probe",
    oracle=f"""
    WITH fps AS (
      SELECT doc_id, source, {_SQL_NORM_FP} AS fp FROM documents
    ), bench AS (
      SELECT DISTINCT fp FROM fps WHERE doc_id < {_BLOOM_CUTOFF}
    ), bpos AS (
      {" UNION ALL ".join(f"SELECT {_bloom_sql_pos(i)} AS pos FROM bench" for i in range(_BLOOM_K))}
    ), filt AS (
      SELECT CAST(pos // {_BLOOM_WORD_BITS} AS INTEGER) AS word,
             bit_or(CAST(1 AS BIGINT) << (pos % {_BLOOM_WORD_BITS})) AS bits
      FROM bpos GROUP BY 1
    ), probe AS (
      SELECT doc_id, source, fp FROM fps WHERE doc_id >= {_BLOOM_CUTOFF}
    ), ppos AS (
      {" UNION ALL ".join(f"SELECT doc_id, source, fp, {_bloom_sql_pos(i)} AS pos FROM probe" for i in range(_BLOOM_K))}
    ), checks AS (
      SELECT p.doc_id, p.source, p.fp,
             CASE WHEN f.bits IS NOT NULL
                       AND (f.bits & (CAST(1 AS BIGINT) << (p.pos % {_BLOOM_WORD_BITS}))) <> 0
                  THEN 1 ELSE 0 END AS hit
      FROM ppos p
      LEFT JOIN filt f ON CAST(p.pos // {_BLOOM_WORD_BITS} AS INTEGER) = f.word
    ), perdoc AS (
      SELECT doc_id, any_value(source) AS source, any_value(fp) AS fp,
             min(hit) AS bloom_pass
      FROM checks GROUP BY doc_id
    ), truth AS (
      SELECT DISTINCT p.doc_id FROM probe p JOIN bench b ON p.fp = b.fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN bloom_pass = 1 AND t.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM perdoc LEFT JOIN truth t USING (doc_id)
    GROUP BY source
    """,
    doc=(
        "Portable Bloom filter, built and probed in pure DataFrame ops — "
        "the EXPLICIT form of the runtime bloom pruning Spark injects "
        "into selective joins, made engine-checkable: membership keys are "
        "normalized text fingerprints of the existing-corpus side "
        "(doc_id < cutoff), hashed k=3 times with the repo's md5 31-bit "
        "hash into a 1024-bit / 32-word filter, aggregated with bit_or "
        "into a <= 32-ROW table. The probe side (new docs) recomputes its "
        "k positions row-locally and broadcast-joins the word table — at "
        "100 TB this is how a dedup/decontamination pre-screen avoids "
        "shuffling the full corpus fingerprint set: the filter is a few "
        "KB per million keys (production m ~ 10 bits/key), ships to every "
        "executor, and only bloom-positive rows reach the exact "
        "verification join. Output: per-source probe counts, bloom "
        "passes, exact-membership truth, and the false-positive count — "
        "the filter is deliberately undersized for the fixture so "
        "n_false_pos > 0 and the no-false-NEGATIVES invariant "
        "(n_true <= n_bloom_pass per source, asserted in pytest) is "
        "exercised against real collisions."
    ),
)
def q_bloom_probe(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id",
        "source",
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fp"),
    )
    bench = fps.filter(F.col("doc_id") < _BLOOM_CUTOFF).select("fp").distinct()

    def pos(c, i: int):
        return dedup_hash.token_hash(F.concat(c, F.lit(f"#{i}"))) % _BLOOM_BITS

    word = F.expr(f"CAST(pos div {_BLOOM_WORD_BITS} AS INT)").alias("word")
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
    )
    filt = (
        bench.select(
            F.explode(F.array(*[pos(F.col("fp"), i) for i in range(_BLOOM_K)])).alias(
                "pos"
            )
        )
        .select(word, mask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probe = fps.filter(F.col("doc_id") >= _BLOOM_CUTOFF)
    checks = (
        probe.select(
            "doc_id",
            "source",
            "fp",
            F.explode(F.array(*[pos(F.col("fp"), i) for i in range(_BLOOM_K)])).alias(
                "pos"
            ),
        )
        .select("doc_id", "source", "fp", word, mask.alias("mask"))
        .join(F.broadcast(filt), "word", "left")
        .select(
            "doc_id",
            "source",
            "fp",
            F.when(
                F.col("bits").isNotNull()
                & (F.expr("bits & mask") != 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("hit"),
        )
    )
    perdoc = checks.groupBy("doc_id").agg(
        F.any_value("source").alias("source"),
        F.any_value("fp").alias("fp"),
        F.min("hit").alias("bloom_pass"),
    )
    truth = (
        probe.join(bench, "fp", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_member", F.lit(1))
    )
    return (
        perdoc.join(truth, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probe"),
            F.sum("bloom_pass").cast("bigint").alias("n_bloom_pass"),
            F.sum(F.coalesce(F.col("is_member"), F.lit(0))).cast("bigint").alias("n_true"),
            F.sum(
                F.when(
                    (F.col("bloom_pass") == 1) & F.col("is_member").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
      SELECT vec_id, label, v,
             CASE WHEN m = 0.0 THEN 1.0 ELSE m / 127.0 END AS scale
      FROM (SELECT vec_id, label, v,
                   list_max(list_transform(v, x -> abs(x))) AS m
            FROM e)
    ), c AS (
      SELECT vec_id, label, scale, v,
             list_transform(v, x -> greatest(-127.0, least(127.0,
                                             floor(x / scale + 0.5)))) AS codes
      FROM s
    ), err AS (
      SELECT label,
             CAST(floor(list_aggregate(
                    list_transform(range(1, len(v) + 1),
                      i -> (v[i] - codes[i] * scale) * (v[i] - codes[i] * scale)),
                    'sum') * 1000000000.0 + 0.5) AS BIGINT) AS e9
      FROM c
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(e9) AS BIGINT) AS sum_err_nano,
           round(1.0 * sum(e9) / count(*) / 1000000000.0, 6) AS avg_mse
    FROM err GROUP BY label
    """,
    doc=(
        "Symmetric int8 embedding quantization with per-vector max-abs "
        "scaling — the storage-compression step an embedding warehouse "
        "runs before indexing (float32 -> int8 is 4x fewer bytes; PQ "
        "compresses further but loses the vector, int8 keeps it usable "
        "for exact re-ranking). Everything is ROW-LOCAL codegen: scale = "
        "maxabs/127, code = clamp(floor(x/scale + 0.5)) (explicit floor "
        "half-up — engine round() ties disagree), and the per-vector "
        "reconstruction MSE folds left-to-right exactly like both "
        "engines' list sums, then quantizes to integer NANO-UNITS so the "
        "per-label aggregate is an exact int64 sum — bit-identical at any "
        "parallelism, where a double MSE sum would drift with partition "
        "order. Output is |labels| rows: count, exact error mass, and the "
        "avg MSE a compression dashboard tracks. The zero-vector guard "
        "(scale=1) keeps ANSI division live-safe."
    ),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str):
    from ..operators.scale import fan_out

    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    n = emb.select("vec_id", "label", as_double_vec(F.col("embedding")).alias("v"))
    maxabs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    s = n.withColumn(
        "scale",
        F.when(maxabs == 0.0, F.lit(1.0)).otherwise(maxabs / F.lit(127.0)),
    )
    codes = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / F.col("scale") + F.lit(0.5))),
        ),
    )
    c = s.withColumn("codes", codes)
    sq = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("codes"),
            lambda x, cd: (x - cd * F.col("scale")) * (x - cd * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    err = c.select(
        "label",
        F.floor(sq * F.lit(1000000000.0) + F.lit(0.5)).cast("bigint").alias("e9"),
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("e9").cast("bigint").alias("sum_err_nano"),
        F.round(
            F.lit(1.0) * F.sum("e9") / F.count(F.lit(1)) / F.lit(1000000000.0), 6
        ).alias("avg_mse"),
    )


@query(
    "q_mutual_info",
    oracle="""
    WITH joint AS (
      SELECT lang, source, count(*) AS n_xy FROM documents GROUP BY 1, 2
    ), px AS (
      SELECT lang, sum(n_xy) AS n_x FROM joint GROUP BY 1
    ), py AS (
      SELECT source, sum(n_xy) AS n_y FROM joint GROUP BY 1
    ), n AS (
      SELECT sum(n_xy) AS n FROM joint
    )
    SELECT lang, source, CAST(n_xy AS BIGINT) AS n_xy,
           floor((n_xy * 1.0 / n) * ln(n_xy * 1.0 * n / (n_x * 1.0 * n_y))
                 * 1000000.0 + 0.5) / 1000000.0 AS mi_term
    FROM joint JOIN px USING (lang) JOIN py USING (source) CROSS JOIN n
    """,
    doc=(
        "Mutual information between language and source (per-cell "
        "decomposition): the dataset-audit statistic that flags when a "
        "provenance dimension secretly encodes another (e.g. one crawl "
        "source contributing all of a language — the stratified-split "
        "and mixture-sampling assumptions break exactly there). One "
        "groupBy builds the joint table; marginals derive FROM it (no "
        "second corpus pass) and broadcast back. Emitting per-cell "
        "mi_terms (floor-scale rounded) instead of the summed scalar "
        "keeps every value exact-hash-checkable with no cross-cell "
        "FP-addition-order concern; MI itself is the sum of the "
        "|langs| x |sources| terms. Plan never exceeds category-product "
        "cardinality after the first aggregate."
    ),
)
def q_mutual_info(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_xy"))
    px = joint.groupBy("lang").agg(F.sum("n_xy").alias("n_x"))
    py = joint.groupBy("source").agg(F.sum("n_xy").alias("n_y"))
    n = joint.agg(F.sum("n_xy").alias("n"))
    term = (F.col("n_xy") * 1.0 / F.col("n")) * F.log(
        F.col("n_xy") * 1.0 * F.col("n") / (F.col("n_x") * 1.0 * F.col("n_y"))
    )
    return (
        joint.join(F.broadcast(px), "lang")
        .join(F.broadcast(py), "source")
        .join(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.col("n_xy").cast("bigint").alias("n_xy"),
            (F.floor(term * 1000000.0 + 0.5) / 1000000.0).alias("mi_term"),
        )
    )


#: Temperature-mixing exponent (T5/mT5 alpha-sampling) and sample budget.
_TMIX_ALPHA = 0.3
_TMIX_BUDGET = 100_000


@query(
    "q_temperature_mix",
    oracle=f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), scaled AS (
      SELECT source, n_docs,
             CAST(floor(pow(n_docs * 1.0, {_TMIX_ALPHA}) * 1000000.0 + 0.5)
                  AS BIGINT) AS s_micro
      FROM per_source
    ), tot AS (
      SELECT sum(s_micro) AS denom FROM scaled
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           floor(s_micro * 1.0 / denom * 1000000.0 + 0.5) / 1000000.0 AS weight,
           CAST((s_micro * {_TMIX_BUDGET}) // denom AS BIGINT) AS expected_docs
    FROM scaled CROSS JOIN tot
    """,
    doc=(
        "Temperature-scaled source mixing (the T5/mT5 alpha-sampling "
        "recipe, alpha=0.3): per-source sampling weights proportional to "
        "n^alpha — upweights small sources relative to proportional "
        "sampling without letting giants dominate, THE standard "
        "multi-source/multilingual mixing policy. One |sources|-row "
        "aggregate; n^alpha is floored to micro-integers per source "
        "BEFORE the normalizer sum, so the denominator is exact BIGINT "
        "(no FP-order concern) and expected per-source sample counts are "
        "pure integer division — bit-identical everywhere. The weight "
        "table this emits is what q_mixture_sample-style quota samplers "
        "consume as their one-row-per-source broadcast."
    ),
)
def q_temperature_mix(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    s_micro = F.floor(
        F.pow(F.col("n_docs") * 1.0, F.lit(_TMIX_ALPHA)) * 1000000.0 + 0.5
    ).cast("bigint")
    scaled = per_source.select("source", "n_docs", s_micro.alias("s_micro"))
    tot = scaled.agg(F.sum("s_micro").alias("denom"))
    return scaled.join(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (
            F.floor(F.col("s_micro") * 1.0 / F.col("denom") * 1000000.0 + 0.5)
            / 1000000.0
        ).alias("weight"),
        F.expr(f"CAST((s_micro * {_TMIX_BUDGET}) div denom AS BIGINT)").alias(
            "expected_docs"
        ),
    )


#: Token-budgeted mixture: fraction of the corpus's total TOKENS the
#: assembled mix targets (exact integer: sum * NUM // DEN).
_TBMIX_NUM, _TBMIX_DEN = 3, 10


@query(
    "q_token_budget_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ), ps AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS t_s
      FROM tok GROUP BY source
    ), sc AS (
      SELECT source, n_docs, t_s,
             CAST(floor(pow(t_s * 1.0, {_TMIX_ALPHA}) * 1000000.0 + 0.5)
                  AS BIGINT) AS s_micro
      FROM ps
    ), den AS (
      SELECT sum(s_micro) AS denom,
             CAST(sum(t_s) * {_TBMIX_NUM} // {_TBMIX_DEN} AS BIGINT) AS target
      FROM sc
    ), bud AS (
      SELECT source, n_docs, t_s,
             CAST(s_micro * target // denom AS BIGINT) AS token_budget
      FROM sc CROSS JOIN den
    ), r AS (
      SELECT doc_id, source, nt,
             coalesce(sum(nt) OVER (
               PARTITION BY source
               ORDER BY {dedup_hash.sql_token_hash("CAST(doc_id AS VARCHAR)")},
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM tok
    ), sel AS (
      SELECT r.source, CAST(count(*) AS BIGINT) AS n_selected,
             CAST(sum(r.nt) AS BIGINT) AS selected_tokens
      FROM r JOIN bud b ON r.source = b.source
      WHERE r.cum_before < b.token_budget
      GROUP BY r.source
    )
    SELECT b.source, b.n_docs, b.t_s AS total_tokens, b.token_budget,
           CAST(coalesce(s.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(coalesce(s.selected_tokens, 0) AS BIGINT) AS selected_tokens,
           CAST(coalesce(s.selected_tokens, 0) * 1000000
                // nullif(b.token_budget, 0) AS BIGINT) AS fill_ppm
    FROM bud b LEFT JOIN sel s ON b.source = s.source
    """,
    doc=(
        "Token-budgeted mixture assembly — the step AFTER "
        "q_temperature_mix's policy: per-source TOKEN budgets (n^alpha "
        "temperature weights applied to a 30%-of-corpus token target, all "
        "exact integer arithmetic) filled greedily in deterministic "
        "id-hash order — docs keep while the tokens BEFORE them fit the "
        "budget, so the crossing doc is included and the draw is "
        "reproducible and append-stable per source. Emits the per-source "
        "audit (docs/tokens selected vs budget, fill ppm) a mixture build "
        "publishes alongside the selected set.\n\n"
        "Scale shape: the oracle states the semantics with a per-source "
        "running-token window; the Spark plan is the two-phase "
        "q_mixture_sample construction generalized from row ranks to a "
        "WEIGHTED prefix sum — (1) a per-(source, hash-bucket) token "
        f"histogram ({_MIX_BUCKETS} rows/source) locates each source's "
        "boundary bucket and residual token budget, (2) whole buckets "
        "below the boundary keep via a broadcast join and only the "
        f"boundary bucket (~1/{_MIX_BUCKETS} of one source) runs a local "
        "running sum. Bucket order is hash order, so below+local_before "
        "< budget is exactly the single-window cum_before < budget. "
        "pow() runs on exact integer token totals on both engines "
        "(the q_temperature_mix libm-agreement rule)."
    ),
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    h = dedup_hash.token_hash(F.col("doc_id").cast("string"))
    base = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("nt"),
        h.alias("h"),
        (h / _MIX_BUCKET_WIDTH).cast("int").alias("b"),
    )

    ps = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("t_s"),
    )
    sc = ps.withColumn(
        "s_micro",
        F.floor(F.pow(F.col("t_s") * 1.0, F.lit(_TMIX_ALPHA)) * 1000000.0 + 0.5).cast(
            "bigint"
        ),
    )
    den = sc.agg(
        F.sum("s_micro").alias("denom"),
        F.expr(f"CAST(sum(t_s) * {_TBMIX_NUM} div {_TBMIX_DEN} AS BIGINT)").alias(
            "target"
        ),
    )
    # |sources| rows, consumed three times (phase-1 join, phase-2 join,
    # final audit): localCheckpoint so the scan+aggregate subtree plans
    # once, not per consumer (the q_rfm_segments chained-reuse lesson);
    # eager + not persist() per the q_pagerank cache-leak rationale.
    bud = (
        sc.join(F.broadcast(den))
        .select(
            "source",
            "n_docs",
            "t_s",
            F.expr("CAST(s_micro * target div denom AS BIGINT)").alias("token_budget"),
        )
        .localCheckpoint(eager=True)
    )

    # Phase 1: per-(source, bucket) token histogram -> boundary bucket +
    # residual token budget. |hist| <= n_sources * _MIX_BUCKETS.
    hist = base.groupBy("source", "b").agg(F.sum("nt").alias("btok"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "source",
        "b",
        "btok",
        F.coalesce(F.sum("btok").over(wcum), F.lit(0)).alias("below"),
    ).join(F.broadcast(bud.select("source", "token_budget")), "source")
    bound = cum.filter(
        (F.col("below") < F.col("token_budget"))
        & (F.col("below") + F.col("btok") >= F.col("token_budget"))
    ).select(
        "source",
        F.col("b").alias("b_star"),
        (F.col("token_budget") - F.col("below")).alias("residual"),
    )

    # Phase 2: whole buckets below the boundary keep without sorting. A
    # source with NO boundary bucket either fits entirely inside its
    # budget (budget >= t_s: keep all) or has budget 0 (keep none) — the
    # t_s check distinguishes them.
    j = base.join(F.broadcast(bound), "source", "left").join(
        F.broadcast(bud.select("source", "t_s", "token_budget")), "source"
    )
    keep_whole = j.filter(
        F.when(F.col("b_star").isNull(), F.col("token_budget") >= F.col("t_s")).otherwise(
            F.col("b") < F.col("b_star")
        )
    )
    wb = Window.partitionBy("source", "b").orderBy("h", "doc_id")
    boundary = (
        j.filter(F.col("b") == F.col("b_star"))
        .withColumn(
            "local_before",
            F.coalesce(
                F.sum("nt").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .filter(F.col("local_before") < F.col("residual"))
    )
    selected = keep_whole.select("source", "nt").unionAll(
        boundary.select("source", "nt")
    )
    sel = selected.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.sum("nt").cast("bigint").alias("selected_tokens"),
    )
    return bud.join(sel, "source", "left").select(
        "source",
        "n_docs",
        F.col("t_s").alias("total_tokens"),
        "token_budget",
        F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
        F.coalesce("selected_tokens", F.lit(0)).cast("bigint").alias("selected_tokens"),
        F.expr(
            "CAST(coalesce(selected_tokens, 0) * 1000000"
            " div nullif(token_budget, 0) AS BIGINT)"
        ).alias("fill_ppm"),
    )


# ---------------------------------------------------------------------------
# Repeated-substring spans (X2 extension): the exact-substring complement of
# q_dup_ngrams. Dup-ngram fraction says HOW MUCH of a doc repeats somewhere;
# this finds the maximal contiguous spans that do, per document — the signal
# exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data Makes
# Language Models Better") cuts out of training text. Their suffix-array
# machinery is single-node; the distributable form anchors on word k-grams:
# every duplicated substring of >= k tokens is a run of duplicated k-gram
# windows, so corpus-count the windows, keep positions whose window repeats,
# and merge runs (windows i, j overlap in token space iff j - i <= k) into
# maximal spans with the islands trick. Finds every duplicated span of
# length >= k exactly; shorter repeats are invisible by construction.
# ---------------------------------------------------------------------------
_SPAN_K = 3  # window width = minimum reportable duplicated span, in tokens


def _span_windows(docs):
    """Positional word-k-gram window stream (doc_id, n_toks, i, g) —
    q_dup_span_stats' heavy frame, factored so the scale probe measures
    the gram volume of exactly the frame the query aggregates (r10
    verdict #5)."""
    toks = F.split(F.col("text"), " ")
    k = _SPAN_K
    wins = F.transform(
        F.sequence(F.lit(1), F.size("toks") - k + 1),
        lambda i: F.struct(
            i.alias("i"),
            F.concat_ws(
                " ", *[F.element_at(F.col("toks"), i + j) for j in range(k)]
            ).alias("g"),
        ),
    )
    # fan_out: the gram-construction explode is the heavy pre-shuffle stage
    # and must not run at raw-split parallelism on a skinny input file.
    return (
        fan_out(docs).select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= k)
        .select("doc_id", F.size("toks").alias("n_toks"), F.explode(wins).alias("win"))
        .select("doc_id", "n_toks", F.col("win.i").alias("i"), F.col("win.g").alias("g"))
    )


@query(
    "q_dup_span_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), w0 AS (
      SELECT doc_id, len(toks) AS n_toks,
             list_transform(range(1, len(toks) - {_SPAN_K} + 2),
               i -> {{'i': i, 'g': concat_ws(' ', toks[i], toks[i+1], toks[i+2])}})
               AS wins
      FROM t WHERE len(toks) >= {_SPAN_K}
    ), w AS (
      SELECT doc_id, n_toks, unnest(wins, recursive := true) FROM w0
    ), dup AS (
      SELECT g FROM w GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, n_toks, i FROM w JOIN dup USING (g)
    ), isl AS (
      SELECT doc_id, n_toks, i,
             CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                  <= {_SPAN_K} THEN 0 ELSE 1 END AS brk
      FROM hits
    ), spans AS (
      SELECT doc_id, n_toks,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id,
             i
      FROM isl
    ), per_span AS (
      SELECT doc_id, n_toks, span_id,
             max(i) - min(i) + {_SPAN_K} AS span_toks
      FROM spans GROUP BY doc_id, n_toks, span_id
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_toks) AS BIGINT) AS dup_tokens,
           floor(sum(span_toks) * 1.0 / n_toks * 1000000.0 + 0.5) / 1000000.0
             AS dup_frac
    FROM per_span GROUP BY doc_id, n_toks
    """,
    doc=(
        "Maximal cross-corpus duplicated spans per document: positional "
        f"word {_SPAN_K}-gram windows, corpus-counted; windows whose gram "
        "occurs >= 2 times anywhere mark duplicated positions; adjacent/"
        f"overlapping hits (gap <= {_SPAN_K}) merge into maximal spans via "
        "the islands trick (lag -> break flag -> running span_id). Emits "
        "per-doc span count, duplicated-token total, and duplicated "
        "fraction — the exact-substring-dedup signal of Lee et al. 2021 "
        "in distributable form (their suffix arrays are single-node; "
        "k-gram anchoring finds every duplicated span >= k tokens). Two "
        "shuffles that matter at 100 TB: the gram-count aggregate and "
        "the gram->position join, both keyed on the gram (partial-agg "
        "combines the heavy head); span merging is doc-local windows. "
        "NULL-break note: lag's first-row NULL makes the CASE yield the "
        "span-opening 1 on both engines (NULL <= k is false/NULL -> ELSE)."
    ),
)
def q_dup_span_stats(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    k = _SPAN_K
    w = _span_windows(docs)
    dup = w.groupBy("g").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    hits = w.join(dup.select("g"), "g").select("doc_id", "n_toks", "i")
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    isl = hits.withColumn(
        "brk",
        F.when(F.col("i") - F.lag("i").over(wdoc) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    spans = isl.withColumn(
        "span_id",
        F.sum("brk").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_span = spans.groupBy("doc_id", "n_toks", "span_id").agg(
        (F.max("i") - F.min("i") + k).alias("span_toks")
    )
    return per_span.groupBy("doc_id", "n_toks").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_toks").cast("bigint").alias("dup_tokens"),
        (
            F.floor(
                F.sum("span_toks") * 1.0 / F.col("n_toks") * 1000000.0 + 0.5
            )
            / 1000000.0
        ).alias("dup_frac"),
    ).drop("n_toks")


@query(
    "q_span_dedup_apply",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), w0 AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - {_SPAN_K} + 2),
               i -> {{'i': i, 'g': concat_ws(' ', toks[i], toks[i+1], toks[i+2])}})
               AS wins
      FROM t WHERE len(toks) >= {_SPAN_K}
    ), w AS (
      SELECT doc_id, unnest(wins, recursive := true) FROM w0
    ), dup AS (
      SELECT g FROM w GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, i FROM w JOIN dup USING (g)
    ), covered AS (
      SELECT DISTINCT doc_id, i + j AS pos FROM hits, range(0, {_SPAN_K}) r(j)
    ), toksp AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1),
               i -> {{'pos': i, 'tok': toks[i]}}), recursive := true)
      FROM t
    ), kept AS (
      SELECT toksp.* FROM toksp ANTI JOIN covered USING (doc_id, pos)
    ), clean AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_toks,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
           CAST(coalesce(kept_toks, 0) AS BIGINT) AS kept_toks,
           CAST(len(string_split(d.text, ' ')) - coalesce(kept_toks, 0)
             AS BIGINT) AS removed_toks,
           md5(coalesce(clean_text, '')) AS clean_md5
    FROM documents d LEFT JOIN clean USING (doc_id)
    """,
    doc=(
        "Exact-substring dedup APPLY — the transformation q_dup_span_stats "
        "only measures: every token position covered by a cross-corpus "
        f"duplicated word {_SPAN_K}-gram window is EXCISED and the document "
        "re-emitted from its surviving tokens (kept/removed counts + md5 "
        "of the cleaned text, so the oracle verifies the full rewritten "
        "output, not just the counts). This is the Lee et al. 2021 "
        "deduplicate-training-data step in distributable form: their "
        "suffix-array dedup is single-node; k-gram anchoring finds every "
        "duplicated span >= k tokens and the rewrite is a distributed "
        "anti-join. Plan at 100 TB: gram counts and the gram->position "
        "semi-join shuffle on the gram key (partial-agg combines the "
        "heavy head, same as the stats query); covered positions "
        "dedup on (doc, pos); the rewrite anti-joins the positional "
        "token stream on (doc, pos) and reassembles per doc with a "
        "doc-local sort (bounded by document length, never corpus-"
        "ordered). Docs shorter than k pass through verbatim via the "
        "left join. md5 is byte-identical across engines; the empty "
        "document (everything duplicated) hashes '' on both."
    ),
)
def q_span_dedup_apply(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    k = _SPAN_K
    w = _span_windows(docs)
    dup = w.groupBy("g").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    hits = w.join(dup.select("g"), "g").select("doc_id", "i")
    covered = hits.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))).alias("pos"),
    ).distinct()
    toks = (
        fan_out(docs)
        .select("doc_id", F.posexplode_outer(F.split("text", " ")).alias("pos0", "tok"))
        .filter(F.col("tok").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_toks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_toks")
    )
    return base.join(clean, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce(F.col("kept_toks"), F.lit(0)).cast("bigint").alias("kept_toks"),
        (F.col("n_toks") - F.coalesce(F.col("kept_toks"), F.lit(0)))
        .cast("bigint")
        .alias("removed_toks"),
        F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_md5"),
    )


#: Vocabulary-coverage report points: fraction of all token occurrences
#: covered by the top-k most frequent tokens. The k grid is the dataset-card
#: / tokenizer-sizing sweep shape.
_VOCAB_COVERAGE_KS = [10, 100, 1000]
_VOCAB_COVERAGE_TOPN = 1000


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), cnts AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total_cnt FROM cnts
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rn FROM cnts
    ), ks AS (
      SELECT unnest({_VOCAB_COVERAGE_KS!r}) AS k
    )
    SELECT k,
           CAST(sum(c) AS BIGINT) AS cov_cnt,
           any_value(total_cnt) AS total_cnt,
           CAST(sum(c) * 1000000 // any_value(total_cnt) AS BIGINT) AS cov_ppm
    FROM ranked CROSS JOIN ks CROSS JOIN tot
    WHERE rn <= k AND rn <= {_VOCAB_COVERAGE_TOPN}
    GROUP BY k
    """,
    doc=(
        "Vocabulary coverage curve: the fraction of ALL token occurrences "
        "captured by the top-10/100/1000 most frequent tokens — the "
        "tokenizer-vocabulary-sizing and head-heaviness statistic every "
        "dataset card reports (a near-1.0 top-10 coverage means templated "
        "text; a flat curve means noise). Token counts aggregate "
        "partial+final on the token key; the global ordering then touches "
        "ONLY the top-1000 candidates via TakeOrderedAndProject (never a "
        "corpus- or vocab-sized sort), ranks are a bounded <=1000-row "
        "window, and coverage is exact integer ppm division against the "
        "one-row occurrence total. Ties broken (count desc, token) on "
        "both sides so the cut at each k is deterministic. The k grid "
        "join is a 3-row broadcast nested loop."
    ),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    cnts = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = cnts.agg(F.sum("c").cast("bigint").alias("total_cnt"))
    top = cnts.orderBy(F.col("c").desc(), "t").limit(_VOCAB_COVERAGE_TOPN)
    ranked = top.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("c").desc(), "t"))
    )
    ks = spark.createDataFrame([(k,) for k in _VOCAB_COVERAGE_KS], "k INT")
    return (
        ranked.join(F.broadcast(ks), F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("c").cast("bigint").alias("cov_cnt"))
        .join(F.broadcast(total))
        .select(
            "k",
            "cov_cnt",
            "total_cnt",
            F.expr("CAST(cov_cnt * 1000000 div total_cnt AS BIGINT)").alias(
                "cov_ppm"
            ),
        )
    )


#: Boilerplate-prefix key length (normalized characters). Long enough that
#: coincidental collisions are rare, short enough to catch shared headers /
#: license banners / scraped-template openings.
_PREFIX_LEN = 40


@query(
    "q_prefix_dedup",
    oracle=f"""
    SELECT substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                  1, {_PREFIX_LEN}) AS prefix,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS rep_doc,
           CAST(count(*) - 1 AS BIGINT) AS dup_docs
    FROM documents
    GROUP BY 1 HAVING count(*) >= 2
    """,
    doc=(
        "Boilerplate-prefix clustering: documents sharing the same "
        "normalized {n}-char opening (lowercase, trimmed, whitespace-"
        "collapsed — the q_dedup_norm canonicalization) grouped into "
        "clusters with a deterministic min-doc_id representative — the "
        "CCNet-style screen for shared headers, license banners, and "
        "scraped-template openings that whole-document fingerprints miss "
        "because the TAILS differ. One partial+final aggregate on the "
        "prefix key, entirely row-local before the shuffle; at 100 TB "
        "the prefix key is 40 chars however long the documents are, so "
        "the shuffle payload is constant-width and the skew ceiling is "
        "the largest boilerplate family (AQE skew-split handles it)."
    ).format(n=_PREFIX_LEN),
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.substring(normalize_text(F.col("text")), 1, _PREFIX_LEN).alias(
                "prefix"
            ),
            "doc_id",
        )
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("rep_doc"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("dup_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Corpus statistics, round 7 late: lexical-richness, readability, Zipf fit
# ---------------------------------------------------------------------------


@query(
    "q_hapax_ttr",
    oracle="""
    WITH tok AS (
      SELECT coalesce(lang, '(null)') AS lang,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), vc AS (
      SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT)                                  AS n_tokens,
           CAST(count(*) AS BIGINT)                                AS n_types,
           CAST(count(*) FILTER (WHERE c = 1) AS BIGINT)           AS n_hapax,
           CAST(count(*) FILTER (WHERE c = 2) AS BIGINT)           AS n_dis,
           CAST(count(*) * 1000000 // sum(c) AS BIGINT)            AS ttr_ppm,
           CAST(count(*) FILTER (WHERE c = 1) * 1000000 // count(*)
                AS BIGINT)                                         AS hapax_share_ppm
    FROM vc GROUP BY lang
    """,
    doc=(
        "Lexical-richness profile per language: type/token counts, hapax "
        "and dis legomena (vocabulary items seen exactly once/twice), "
        "type-token ratio and hapax share as exact integer ppm. The "
        "dataset-card statistics behind tokenizer vocab sizing and "
        "synthetic-text detection (template-generated corpora crater the "
        "hapax share; boilerplate craters TTR). Vocab-aggregate-FIRST "
        "shape: the corpus collapses to (lang, token) counts in one "
        "partial+final aggregate, and the per-lang rollup runs over the "
        "vocabulary — never the raw token stream — so the second "
        "exchange is |V|-bounded at any corpus size."
    ),
)
def q_hapax_ttr(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    vc = (
        fan_out(docs)
        .select(
            F.coalesce("lang", F.lit("(null)")).alias("lang"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return vc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).cast("bigint").alias("n_hapax"),
        F.count(F.when(F.col("c") == 2, 1)).cast("bigint").alias("n_dis"),
        F.expr("CAST(count(1) * 1000000 div sum(c) AS BIGINT)").alias("ttr_ppm"),
        F.expr(
            "CAST(count(IF(c = 1, 1, NULL)) * 1000000 div count(1) AS BIGINT)"
        ).alias("hapax_share_ppm"),
    )


@query(
    "q_readability",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z]', ' ', 'g') AS t1,
             greatest(length(text)
               - length(replace(replace(replace(text, '.', ''), '!', ''),
                                '?', '')), 1) AS n_sentences
      FROM documents
    ), counted AS (
      SELECT doc_id, n_sentences,
             length(replace(regexp_replace(t1, '[a-z]+', '#', 'g'), ' ', ''))
               AS n_words,
             length(regexp_replace(
               regexp_replace(t1, '[aeiouy]+', '#', 'g'), '[^#]', '', 'g'))
               AS n_syllables
      FROM base
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT)     AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(greatest(n_syllables, n_words) AS BIGINT) AS n_syllables,
           CASE WHEN n_words = 0 THEN NULL ELSE
             CAST(206835000
                  - (1015000 * n_words) // n_sentences
                  - (84600000 * greatest(n_syllables, n_words)) // n_words
                  AS BIGINT)
           END AS flesch_micro
    FROM counted
    """,
    doc=(
        "Flesch reading-ease score per document with a deterministic "
        "syllable heuristic (vowel-group runs over [aeiouy], floored at "
        "one syllable per word) — the classic readability quality signal "
        "for curation gates beside q_quality_score. Fully ROW-LOCAL: "
        "words and syllable groups are counted by collapsing regex runs "
        "to '#' and measuring lengths (no explode, no UDF), sentences by "
        "pure replace() on terminal punctuation; the regexes stay in the "
        "Java-regex/RE2 common dialect (q_pii_redact rule). The score is "
        "emitted in exact integer micro-units via two truncating "
        "divisions written identically on both engines, so the hash "
        "cannot drift on FP; zero-word docs emit NULL."
    ),
)
def q_readability(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    t1 = F.regexp_replace(F.lower("text"), "[^a-z]", " ")
    n_sent = F.greatest(
        F.length("text")
        - F.length(
            F.replace(
                F.replace(F.replace(F.col("text"), F.lit("."), F.lit("")),
                          F.lit("!"), F.lit("")),
                F.lit("?"), F.lit(""),
            )
        ),
        F.lit(1),
    )
    n_words = F.length(
        F.replace(F.regexp_replace(t1, "[a-z]+", "#"), F.lit(" "), F.lit(""))
    )
    n_syl = F.length(
        F.regexp_replace(F.regexp_replace(t1, "[aeiouy]+", "#"), "[^#]", "")
    )
    base = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        F.greatest(n_syl, n_words).cast("bigint").alias("n_syllables"),
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.expr(
                "CAST(206835000 - (1015000 * n_words) div n_sentences"
                " - (84600000 * n_syllables) div n_words AS BIGINT)"
            ),
        ).alias("flesch_micro"),
    )


#: Zipf fit: how many head ranks enter the log-log regression, and the
#: fixed-point scale for ln() values (milli-units keep every moment sum
#: far inside int64: |x|,|y| <= ~2e4 milli-units, n=1000 -> n*Sxy <= ~1e14,
#: x10000 for the slope output <= ~2e18 < 2^63).
_ZIPF_TOPN = 1000
_ZIPF_S = 1000


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), vc AS (
      SELECT tok, count(*) AS c FROM tok GROUP BY tok
    ), top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
      FROM vc ORDER BY c DESC, tok LIMIT {_ZIPF_TOPN}
    ), pts AS (
      SELECT CAST(floor(ln(r) * {_ZIPF_S} + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(c) * {_ZIPF_S} + 0.5) AS BIGINT) AS y
      FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ranks,
           CAST(((count(*) * sum(x * y) - sum(x) * sum(y)) * 10000)
                // nullif(count(*) * sum(x * x) - sum(x) * sum(x), 0)
                AS BIGINT)
             AS slope_e4
    FROM pts
    """,
    doc=(
        "Zipf's-law fit: least-squares slope of log(frequency) vs "
        "log(rank) over the top-1000 vocabulary head — natural text sits "
        "near slope -1; template spam and synthetic corpora bend it, "
        "making this the distribution-level companion to q_hapax_ttr's "
        "tail statistics. The global ordering touches only the top-1000 "
        "candidates (TakeOrderedAndProject per-partition heaps; the "
        "1000-row rank window is bounded, never corpus-sized), ln() "
        "values are floored to milli-units so all five regression "
        "moments accumulate as exact BIGINTs, and the slope is one "
        "truncating division emitted in 1e-4 units. ln() runs on exact "
        "integer inputs on both engines, so libm agreement holds to the "
        "quantization boundary (q_sample_weighted_topk rule)."
    ),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    vc = (
        fan_out(docs)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = vc.orderBy(F.col("c").desc(), "tok").limit(_ZIPF_TOPN)
    # row_number over the already-limited head: the single-partition sort
    # is bounded at _ZIPF_TOPN rows regardless of corpus size.
    w = Window.orderBy(F.col("c").desc(), "tok")
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.floor(F.log(F.col("r")) * _ZIPF_S + 0.5).cast("bigint").alias("x"),
        F.floor(F.log(F.col("c")) * _ZIPF_S + 0.5).cast("bigint").alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        # nullif: a degenerate head where every point shares one x
        # (all-identical token counts at a single rank) has no defined
        # slope; both engines emit NULL instead of raising.
        F.expr(
            "CAST(((count(1) * sum(x * y) - sum(x) * sum(y)) * 10000)"
            " div nullif(count(1) * sum(x * x) - sum(x) * sum(x), 0)"
            " AS BIGINT)"
        ).alias("slope_e4"),
    )


_HH_K = 200  # report items with frequency > n/200 (0.5% of the token stream)
_HH_M = 800  # Misra-Gries counters per partition (4x headroom over _HH_K)


def _misra_gries_candidates(toks):
    """Per-partition Misra-Gries(m) candidate tokens of ``toks.tok``, with
    m = ``_HH_M``.

    The full-vocabulary ``groupBy(tok).count()`` that answers "which items
    exceed phi*n frequency" shuffles EVERY distinct item — at 100 TB a
    vocabulary-sized exchange to answer a question whose output is a
    handful of rows. Each partition here keeps at most m counters and ships
    at most m candidates, and the candidate set PROVABLY contains every
    token whose PARTITION count exceeds n_partition/(m+1), and therefore
    (pigeonhole over partitions) every token whose GLOBAL count exceeds
    n_total/(m+1) (Misra & Gries 1982; mergeability per Agarwal et al.,
    "Mergeable Summaries", PODS 2012).

    Arrow-batched (mapInPandas): each batch folds in via value_counts, and
    the summary prunes back to m counters by subtracting the (m+1)-th
    largest counter from all and dropping non-positives — the standard
    mergeable-summaries reduction, vectorized.
    """
    import numpy as np
    import pandas as pd

    def mg(batches):
        counts: dict = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > _HH_M:
                vals = np.sort(np.fromiter(counts.values(), dtype=np.int64))
                thresh = int(vals[-(_HH_M + 1)])
                counts = {t: c - thresh for t, c in counts.items() if c > thresh}
        yield pd.DataFrame({"tok": pd.Series(list(counts.keys()), dtype="object")})

    return toks.mapInPandas(mg, schema="tok string")


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM t
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(*) * 1000000 // n AS BIGINT) AS share_ppm
    FROM t CROSS JOIN tot
    GROUP BY tok, n
    HAVING count(*) * {_HH_K} > n
    """,
    doc=(
        "Exact phi-frequent items (tokens above 1/200 of the stream) "
        "WITHOUT the full-vocabulary shuffle: per-partition Misra-Gries "
        "summaries (_misra_gries_candidates) ship at most 800 candidate "
        "tokens per partition — provably a superset of every token above "
        "the threshold (pigeonhole: a globally-frequent token is "
        "locally frequent in at least one partition) — then an exact "
        "recount of candidates only, via a broadcast semi-join back onto "
        "the token stream. The output is EXACT (counts from the recount, "
        "threshold applied to exact counts), which is why a plain-SQL "
        "oracle can hash-match a sketch-routed plan. At 100 TB: the "
        "vocabulary-sized exchange becomes partitions x 800 rows, the "
        "recount aggregates only rows matching a <=|candidates| hash "
        "set, and the 1-row total rides a broadcast nested-loop join. "
        "The guarantee needs MG counters m >= K-1; m = 4K keeps the "
        "false-candidate recount small."
    ),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    cand = _misra_gries_candidates(toks).distinct()
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        toks.join(F.broadcast(cand), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * _HH_K > F.col("n"))
        .select(
            "tok",
            "cnt",
            F.expr("CAST(cnt * 1000000 div n AS BIGINT)").alias("share_ppm"),
        )
    )


_KANON_K = 5         # k-anonymity threshold
_KANON_BUCKET = 100  # n_chars quasi-identifier bucket width


@query(
    "q_kanonymity",
    oracle=f"""
    WITH qid AS (
      SELECT lang, source, n_chars // {_KANON_BUCKET} AS len_b
      FROM documents
    ), grp AS (
      SELECT lang, source, len_b, CAST(count(*) AS BIGINT) AS n
      FROM qid GROUP BY 1, 2, 3
    )
    SELECT lang,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(sum(n) AS BIGINT) AS risk_ppm
    FROM grp GROUP BY lang
    """,
    doc=(
        "k-anonymity audit of the corpus under the quasi-identifier "
        "(lang, source, length-bucket): how many documents sit in an "
        "equivalence class smaller than k=5 — the re-identification "
        "exposure screen that belongs beside q_pii_redact in any "
        "training-data release gate (PII redaction removes direct "
        "identifiers; this measures whether METADATA combinations "
        "still single documents out). Exact integers throughout "
        "(risk in ppm via integer division). Shape: two stacked "
        "partial+final aggregates — fact table -> QID classes -> "
        "per-lang report; the class table is bounded by the QID "
        "domain, not the corpus, so the audit prices the same at "
        "100 TB."
    ),
)
def q_kanonymity(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    grp = docs.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {_KANON_BUCKET}").alias("len_b"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    risk = F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0)).cast(
        "bigint"
    )
    return grp.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        risk.alias("rows_at_risk"),
        F.expr(
            f"CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)"
            f" * 1000000 div CAST(sum(n) AS BIGINT)"
        ).alias("risk_ppm"),
    )
