"""In-engine model training over the corpus — the step the curation
pipeline was missing: q_quality_classifier / q_auc_roc / q_calibration_bins
SCORE documents with a fixed linear model; these queries TRAIN models
distributed, with the same exact-integer determinism discipline the
iterative family (q_pagerank, q_kmeans_ivf, q_bpe_merges) established, so
even multi-iteration gradient descent hash-matches a DuckDB oracle
bit-for-bit.

Three trainers, three distinct mechanics:

- ``q_logreg_train``: batch gradient descent for a hashed bag-of-words
  logistic-regression quality/domain classifier (the FineWeb-Edu / DCLM
  curation model), 3 unrolled iterations. Per-doc gradient contributions
  are floor-quantized to exact int64 micro-units BEFORE the gradient
  aggregate, so the distributed sum is exact integer addition; the weight
  update uses a sign-safe floor-division written as an exact-multiple
  division (Spark ``div`` truncates toward zero while DuckDB ``//``
  floors — they agree only on exact multiples, which the form guarantees).
- ``q_naive_bayes``: multinomial Naive Bayes language-ID trained on a
  deterministic 80% split and applied to the held-out 20%, all log-probs
  floor-quantized to int64 micro-nats so the argmax is integer-exact.
- ``q_dsir_weights``: DSIR importance-resampling log-weights (Xie et al.
  2023, "Data Selection for Language Models via Importance Resampling"):
  hashed-unigram likelihood ratio of a target domain vs the raw corpus,
  per-bucket log-ratios quantized to int64 micro-nats, per-doc weight an
  exact integer sum.

Reference: n/a (capability extension; the reference engine has no ML
surface — SURVEY.md §2.5/§2.6).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from ..operators import dedup_hash
from . import query

# --- shared: hashed bag-of-words features ----------------------------------

_LR_BUCKETS = 32  # logreg feature buckets (hashing trick)
_LR_ITERS = 3
_LR_LR_NUM = 5  # learning rate numerator: w -= (5 * sum_grad) fdiv N

_SQL_TOKEN_HASH = (
    "CAST((CAST('0x' || substr(md5({t}), 1, 15) AS BIGINT) % 2147483647)"
    " % {b} AS INTEGER)"
)


def _sql_feat() -> str:
    """Per-(doc, bucket) token counts + label + doc token count (DuckDB)."""
    th = _SQL_TOKEN_HASH.format(t="tok", b=_LR_BUCKETS)
    return f"""
      SELECT doc_id, any_value(y) AS y, any_value(n_tok) AS n_tok,
             bucket, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, {th} AS bucket, y, n_tok
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 len(string_split(text, ' ')) AS n_tok
          FROM documents
        )
      ) GROUP BY doc_id, bucket
    """


def _feat(labeled):
    """Spark twin of _sql_feat: explode -> portable hash -> per-doc counts.

    ``labeled`` must carry (doc_id, y, text) — the label is the caller's
    choice, which is what makes the trainer reusable (the registered query
    uses the fixture's lang column; the sanity tests feed a synthetic
    separable corpus, since the fixture's lang label is independent of its
    text by construction)."""
    toks = labeled.select(
        "doc_id",
        "y",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    return (
        toks.withColumn(
            "bucket", (dedup_hash.token_hash(F.col("tok")) % _LR_BUCKETS).cast("int")
        )
        .groupBy("doc_id", "bucket")
        .agg(
            F.any_value("y").alias("y"),
            F.any_value("n_tok").alias("n_tok"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )


def _logreg_oracle() -> str:
    """3 GD iterations as generated MATERIALIZED CTEs (the q_pagerank /
    q_bpe_merges trick: same exact-integer recurrence, unrolled)."""
    lr = _LR_LR_NUM
    cte = f"""
    WITH feat AS MATERIALIZED (
      {_sql_feat()}
    ), nd AS MATERIALIZED (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM feat
    ), w0 AS MATERIALIZED (
      SELECT CAST(range AS INTEGER) AS bucket, CAST(0 AS BIGINT) AS w
      FROM range({_LR_BUCKETS})
    ), b0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS b)"""
    for i in range(1, _LR_ITERS + 1):
        p = i - 1
        cte += f""", marg{i} AS MATERIALIZED (
      SELECT f.doc_id, any_value(f.y) AS y, any_value(f.n_tok) AS n_tok,
             CAST(sum(w.w * f.c) AS BIGINT) AS m
      FROM feat f JOIN w{p} w USING (bucket) GROUP BY f.doc_id
    ), resid{i} AS MATERIALIZED (
      SELECT doc_id, n_tok,
             1.0 / (1.0 + exp(-(m * 1.0 / (n_tok * 1000000.0)
                                + b.b * 1.0 / 1000000.0))) - y AS r
      FROM marg{i} CROSS JOIN b{p} b
    ), grad{i} AS MATERIALIZED (
      SELECT f.bucket,
             CAST(sum(CAST(floor(r.r * f.c * 1000000.0 / f.n_tok + 0.5)
                           AS BIGINT)) AS BIGINT) AS g
      FROM feat f JOIN resid{i} r USING (doc_id) GROUP BY f.bucket
    ), w{i} AS MATERIALIZED (
      SELECT w.bucket,
             CAST(w.w - ({lr} * coalesce(g.g, 0)
                         - (({lr} * coalesce(g.g, 0) % nd.n + nd.n) % nd.n))
                        // nd.n AS BIGINT) AS w
      FROM w{p} w LEFT JOIN grad{i} g USING (bucket) CROSS JOIN nd
    ), b{i} AS MATERIALIZED (
      SELECT CAST(b.b - ({lr} * gb.g
                         - (({lr} * gb.g % nd.n + nd.n) % nd.n))
                        // nd.n AS BIGINT) AS b
      FROM b{p} b CROSS JOIN nd CROSS JOIN (
        SELECT CAST(sum(CAST(floor(r * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS g
        FROM resid{i}
      ) gb
    )"""
    sel = " UNION ALL ".join(
        f"SELECT {i} AS iter, bucket, w AS w_micro FROM w{i} "
        f"UNION ALL SELECT {i} AS iter, -1 AS bucket, b AS w_micro FROM b{i}"
        for i in range(1, _LR_ITERS + 1)
    )
    return cte + f" SELECT CAST(iter AS INTEGER) AS iter, bucket, w_micro FROM ({sel})"


@query(
    "q_logreg_train",
    oracle=_logreg_oracle(),
    doc=(
        "Distributed logistic-regression TRAINING: 3 unrolled batch-GD "
        "iterations over hashed bag-of-words features (32 buckets, label "
        "= is-English), emitting the weight trajectory (iter, bucket, "
        "w_micro; bucket -1 is the bias). The gradient is the only "
        "distributed reduction and it is EXACT: each doc's per-bucket "
        "contribution (sigmoid residual x count / doc length) is floor-"
        "quantized to int64 micro-units row-locally, then summed as "
        "integers — bit-identical under any partial-agg order; the "
        "weight update divides by N via an exact-multiple floor "
        "division, sidestepping the Spark-div-vs-DuckDB-// negative "
        "truncation split. Per iteration: one co-partitioned join of "
        "the cached feature table to the 32-row weight state (broadcast) "
        "and two aggregates (per-doc margin, per-bucket gradient); the "
        "feature table is localCheckpointed once. Model state collected "
        "to the driver per iteration is 33 rows (the q_kmeans_ivf "
        "bounded-centroid pattern) — at 100 TB this is the canonical "
        "distributed-GD shape: data-parallel gradient partials, "
        "kilobyte model broadcast."
    ),
)
def q_logreg_train(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        "text",
    )
    return spark.createDataFrame(
        logreg_train(labeled),
        schema="iter int, bucket int, w_micro bigint",
    )


def logreg_train(labeled):
    """Exact-integer batch-GD logistic regression trainer.

    ``labeled``: DataFrame with (doc_id, y in {0,1}, text). Returns the
    weight trajectory as [(iter, bucket, w_micro)] with bucket -1 = bias —
    33 ints per iteration of driver traffic, everything else distributed.
    """
    from ..operators.scale import fan_out

    # fan_out before featurization: the explode + md5 bucketing is the
    # expensive pass and the single-file fixture scan gives one split, so
    # the checkpoint materialization ran serialized (r10 audit, 1.1 s) —
    # and every GD iteration then aggregated over that one partition.
    # eager=False + count (r14): the n_docs count reads every partition
    # and materializes the checkpoint — one job instead of two; the GD
    # iterations' aggregates then read the cached blocks sequentially.
    feat = _feat(fan_out(labeled)).localCheckpoint(eager=False)
    n_docs = feat.select("doc_id").distinct().count()

    def fdiv(a: int, n: int) -> int:
        # Python // already floors; written via the same exact-multiple
        # identity as the SQL to make the equivalence inspectable.
        return (a - ((a % n + n) % n)) // n

    w = [0] * _LR_BUCKETS
    b = 0
    trajectory = []
    for it in range(1, _LR_ITERS + 1):
        from ..operators.scale import inline_literal

        warr = inline_literal([int(x) for x in w])
        marg = feat.groupBy("doc_id").agg(
            F.any_value("y").alias("y"),
            F.any_value("n_tok").alias("n_tok"),
            F.sum(F.element_at(warr, F.col("bucket") + 1) * F.col("c"))
            .cast("bigint")
            .alias("m"),
        )
        resid = marg.select(
            "doc_id",
            "n_tok",
            (
                1.0
                / (
                    1.0
                    + F.exp(
                        -(
                            F.col("m") * 1.0 / (F.col("n_tok") * 1000000.0)
                            + F.lit(int(b)).cast("long") * 1.0 / 1000000.0
                        )
                    )
                )
                - F.col("y")
            ).alias("r"),
        )
        joined = feat.join(resid.select("doc_id", "r"), "doc_id")
        # Weight and bias gradients in ONE action (r13): the bias gradient
        # is the per-doc residual sum, which rides the same groupBy as a
        # synthetic bucket -1 — before, it was a SECOND collect per
        # iteration that re-evaluated the whole margin aggregate in its
        # own job (2 jobs x 3 iterations of scheduler/collect round trips
        # for 33 ints of driver traffic; guide §2.4/§5 — don't pay two
        # barriers for one reduction). Values are bit-identical: the
        # bucket -1 branch is textually the old gb aggregate.
        contrib = joined.select(
            "bucket",
            F.floor(
                F.col("r") * F.col("c") * 1000000.0 / F.col("n_tok") + 0.5
            )
            .cast("bigint")
            .alias("gc"),
        )
        bias_contrib = resid.select(
            F.lit(-1).alias("bucket"),
            F.floor(F.col("r") * 1000000.0 + 0.5).cast("bigint").alias("gc"),
        )
        grad = (
            contrib.unionAll(bias_contrib)
            .groupBy("bucket")
            .agg(F.sum("gc").cast("bigint").alias("g"))
            .collect()
        )
        gmap = {row["bucket"]: row["g"] for row in grad}
        gb = gmap.get(-1, 0)
        w = [
            w[j] - fdiv(_LR_LR_NUM * int(gmap.get(j, 0)), n_docs)
            for j in range(_LR_BUCKETS)
        ]
        b = b - fdiv(_LR_LR_NUM * int(gb), n_docs)
        trajectory.extend((it, j, w[j]) for j in range(_LR_BUCKETS))
        trajectory.append((it, -1, b))
    return trajectory


@query(
    "q_naive_bayes",
    oracle="""
    WITH tr AS MATERIALIZED (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 5 <> 0
    ), cls AS MATERIALIZED (
      SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_tok_c
      FROM tr GROUP BY lang
    ), nv AS MATERIALIZED (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train
      FROM tr
    ), tc AS MATERIALIZED (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM tr GROUP BY lang, tok
    ), lp AS MATERIALIZED (
      SELECT tc.lang, tc.tok,
             CAST(floor(ln((tc.cnt + 1.0) / (c.n_tok_c + nv.v)) * 1000000.0)
                  AS BIGINT) AS lp
      FROM tc JOIN cls c USING (lang) CROSS JOIN nv
    ), priors AS MATERIALIZED (
      SELECT c.lang,
             CAST(floor(ln(c.n_docs * 1.0 / nv.n_train) * 1000000.0)
                  AS BIGINT) AS prior,
             CAST(floor(ln(1.0 / (c.n_tok_c + nv.v)) * 1000000.0)
                  AS BIGINT) AS lp0
      FROM cls c CROSS JOIN nv
    ), te AS MATERIALIZED (
      SELECT doc_id, any_value(lang) AS true_lang, tok,
             CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 5 = 0
      ) GROUP BY doc_id, tok
    ), scored AS MATERIALIZED (
      SELECT te.doc_id, any_value(te.true_lang) AS true_lang, p.lang,
             any_value(p.prior)
               + sum(te.c * coalesce(lp.lp, p.lp0)) AS score_micro
      FROM te CROSS JOIN priors p
      LEFT JOIN lp ON lp.lang = p.lang AND lp.tok = te.tok
      GROUP BY te.doc_id, p.lang
    )
    SELECT doc_id, true_lang, lang AS pred_lang,
           CAST(score_micro AS BIGINT) AS score_micro,
           true_lang = lang AS correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_micro DESC, lang) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    doc=(
        "Multinomial Naive Bayes language-ID, trained AND applied "
        "in-query: class priors + Laplace-smoothed token likelihoods fit "
        "on the deterministic 80% split (doc_id % 5 <> 0), held-out 20% "
        "scored and argmaxed. Every log-probability is floor-quantized "
        "to int64 micro-nats at its definition, so per-doc class scores "
        "are exact integer sums and the argmax (row_number over "
        "score DESC, lang — a fully deterministic total order) is "
        "tie-proof across engines. Shapes: training is two shuffles on "
        "(lang, tok) and lang; scoring expands held-out tokens by the "
        "|classes| (5-row, broadcast) prior table and joins the "
        "vocab-sized likelihood table on the token key — the q_bigram_lm "
        "web-scale rule (vocab tables shuffle-join, only the constant "
        "class/scalar tables broadcast). The model is never collected: "
        "unlike q_logreg_train's 33-row driver state, NB 'training' is "
        "pure aggregation, so train+apply is a single declarative plan."
    ),
)
def q_naive_bayes(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return naive_bayes(docs.select("doc_id", F.col("lang").alias("label"), "text"))


def naive_bayes(labeled):
    """Multinomial NB trainer+scorer over (doc_id, label, text): fit on the
    doc_id % 5 != 0 split, score the held-out rest. The label column is the
    caller's choice — the registered query uses the fixture lang column;
    the sanity test feeds a synthetic separable corpus."""
    from pyspark.sql import Window

    docs = labeled.withColumnRenamed("label", "lang")
    tr = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cls = tr.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_tok_c"),
    )
    nv = tr.agg(
        F.count_distinct("tok").cast("bigint").alias("v"),
        F.count_distinct("doc_id").cast("bigint").alias("n_train"),
    )
    tc = tr.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    lp = (
        tc.join(cls, "lang")
        .crossJoin(F.broadcast(nv))
        .select(
            "lang",
            "tok",
            F.floor(
                F.log((F.col("cnt") + 1.0) / (F.col("n_tok_c") + F.col("v")))
                * 1000000.0
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    priors = cls.crossJoin(F.broadcast(nv)).select(
        "lang",
        F.floor(F.log(F.col("n_docs") * 1.0 / F.col("n_train")) * 1000000.0)
        .cast("bigint")
        .alias("prior"),
        F.floor(F.log(1.0 / (F.col("n_tok_c") + F.col("v"))) * 1000000.0)
        .cast("bigint")
        .alias("lp0"),
    )
    te = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(
            F.any_value("true_lang").alias("true_lang"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )
    p = priors.select(
        F.col("lang").alias("p_lang"), "prior", "lp0"
    )
    lpr = lp.select(
        F.col("lang").alias("l_lang"),
        F.col("tok").alias("l_tok"),
        F.col("lp").alias("l_lp"),
    )
    scored = (
        te.crossJoin(F.broadcast(p))
        .join(
            lpr,
            (F.col("l_lang") == F.col("p_lang")) & (F.col("l_tok") == F.col("tok")),
            "left",
        )
        .groupBy("doc_id", "p_lang")
        .agg(
            F.any_value("true_lang").alias("true_lang"),
            (
                F.any_value("prior")
                + F.sum(F.col("c") * F.coalesce(F.col("l_lp"), F.col("lp0")))
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("p_lang")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("p_lang").alias("pred_lang"),
            F.col("score_micro").cast("bigint").alias("score_micro"),
            (F.col("true_lang") == F.col("p_lang")).alias("correct"),
        )
    )


_DSIR_BUCKETS = 1024  # hashed-unigram feature space for the likelihood ratio


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             {_SQL_TOKEN_HASH.format(t="tok", b=_DSIR_BUCKETS)} AS bucket
      FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
      )
    ), raw AS MATERIALIZED (
      SELECT bucket, CAST(count(*) AS BIGINT) AS r FROM toks GROUP BY bucket
    ), tgt AS MATERIALIZED (
      SELECT bucket, CAST(count(*) AS BIGINT) AS t
      FROM toks WHERE lang = 'en' GROUP BY bucket
    ), tots AS MATERIALIZED (
      SELECT CAST(sum(r) AS BIGINT) AS r_tot,
             (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) FROM tgt) AS t_tot
      FROM raw
    ), ratio AS MATERIALIZED (
      SELECT raw.bucket,
             CAST(floor((ln((coalesce(tgt.t, 0) + 1.0)
                            / (tots.t_tot + {_DSIR_BUCKETS}))
                         - ln((raw.r + 1.0)
                              / (tots.r_tot + {_DSIR_BUCKETS})))
                        * 1000000.0) AS BIGINT) AS lr
      FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tots
    )
    SELECT toks.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(ratio.lr) AS BIGINT) AS logw_micro
    FROM toks JOIN ratio USING (bucket)
    GROUP BY toks.doc_id
    """,
    doc=(
        "DSIR importance-resampling weights (Xie et al. 2023): per-doc "
        "log likelihood-ratio of a target domain (lang='en' stands in "
        "for the high-quality target corpus) vs the raw corpus, over "
        "1024 hashed-unigram features with add-one smoothing — the "
        "data-selection score used to resample a web-scale corpus "
        "toward a target distribution. Per-bucket log-ratios are "
        "floor-quantized to int64 micro-nats ONCE (1024 rows), so each "
        "doc's weight is an exact integer sum of its tokens' bucket "
        "ratios — hash-stable and streamable. Shapes: two aggregates "
        "over the hashed token stream build the bucket tables (the "
        "raw/target importance estimators), the 1024-row ratio table "
        "broadcasts back onto the token stream, one per-doc aggregate "
        "finishes. At 100 TB nothing model-sized shuffles: the ratio "
        "table is kilobytes regardless of corpus size, and the two "
        "distribution estimates are partial+final aggregates with a "
        "1024-row result."
    ),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_target"), "text")
    )


def dsir_weights(flagged):
    """DSIR log-weights over (doc_id, is_target, text): hashed-unigram
    likelihood ratio of the is_target subset vs the whole input. The target
    flag is the caller's choice — the registered query uses lang='en'; the
    sanity test feeds a synthetic skewed target."""
    from ..operators.scale import fan_out

    # fan_out: per-token md5 bucketing over a one-split fixture scan
    # serialized both count passes (r10 audit, 2 x 0.43 s stages).
    flagged = fan_out(flagged)
    toks = flagged.select(
        "doc_id",
        "is_target",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "is_target",
        (dedup_hash.token_hash(F.col("tok")) % _DSIR_BUCKETS)
        .cast("int")
        .alias("bucket"),
    )
    raw = toks.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    tgt = (
        toks.filter(F.col("is_target"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    tots = raw.agg(F.sum("r").cast("bigint").alias("r_tot")).crossJoin(
        tgt.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("t_tot"))
    )
    b = float(_DSIR_BUCKETS)
    ratio = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("t"), F.lit(0)) + 1.0)
                        / (F.col("t_tot") + b)
                    )
                    - F.log((F.col("r") + 1.0) / (F.col("r_tot") + b))
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    return (
        toks.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum("lr").cast("bigint").alias("logw_micro"),
        )
    )


@query(
    "q_decision_stump",
    oracle="""
    WITH pairs AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS d,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
             sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS neg
      FROM lineitem GROUP BY 1, 2
    ), melted AS (
      SELECT 'quantity' AS feature, q AS v,
             CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS ng
      FROM pairs GROUP BY 2
      UNION ALL
      SELECT 'discount_c', d,
             CAST(sum(pos) AS BIGINT), CAST(sum(neg) AS BIGINT)
      FROM pairs GROUP BY 2
    ), pref AS (
      SELECT feature, v,
             sum(p)  OVER (PARTITION BY feature ORDER BY v) AS pl,
             sum(ng) OVER (PARTITION BY feature ORDER BY v) AS nl,
             sum(p)  OVER (PARTITION BY feature) AS pt,
             sum(ng) OVER (PARTITION BY feature) AS nt
      FROM melted
    ), err AS (
      SELECT feature, v, pt, nt,
             least(pl, nl) + least(pt - pl, nt - nl) AS errors
      FROM pref
    ), best AS (
      SELECT feature, v, errors, pt, nt,
             row_number() OVER (PARTITION BY feature ORDER BY errors, v) AS rk
      FROM err
    )
    SELECT feature,
           CAST(pt + nt AS BIGINT)        AS n,
           CAST(least(pt, nt) AS BIGINT)  AS base_errors,
           CAST(v AS BIGINT)              AS best_threshold,
           CAST(errors AS BIGINT)         AS best_errors,
           CAST(least(pt, nt) - errors AS BIGINT) AS gain
    FROM best WHERE rk = 1
    """,
    doc=(
        "Exact distributed decision-stump training (1R, Holte 1993): for "
        "each candidate feature, find the threshold t minimizing "
        "MISCLASSIFIED COUNT when 'x <= t' and 'x > t' each predict "
        "their majority label (label: l_returnflag = 'R') — the "
        "tree-family trainer beside the gradient (q_logreg_train) and "
        "Bayesian (q_naive_bayes) ones, and the split criterion is "
        "pure-integer error counts, so there is NO impurity-ratio FP "
        "anywhere: the whole model selection hash-matches exactly. "
        "Shape: ONE partial+final aggregate reduces the fact table to "
        "the joint (quantity x discount-cent) value grid (<= 550 rows "
        "at any SF); both features' marginals melt from that grid, and "
        "the threshold scan is prefix sums + one top-1 window on the "
        "bounded table, partitioned by feature — errors(t) = "
        "min(PL,NL) + min(P-PL, N-NL) from left-prefix class counts. "
        "Generalizes to any categorical/bucketed feature set: the cost "
        "is one scan plus O(|value grid|) post-work, which is how "
        "GBDT-on-Spark histogram builders (LightGBM's feature "
        "histograms) price a split pass too."
    ),
)
def q_decision_stump(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    pairs = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint").alias("d"),
    ).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("l_returnflag") == "R", 0).otherwise(1))
        .cast("bigint")
        .alias("neg"),
    )
    melted = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("quantity").alias("feature"),
                        F.col("q").alias("v"),
                        F.col("pos"),
                        F.col("neg"),
                    ),
                    F.struct(
                        F.lit("discount_c").alias("feature"),
                        F.col("d").alias("v"),
                        F.col("pos"),
                        F.col("neg"),
                    ),
                )
            ).alias("m")
        )
        .select("m.*")
        .groupBy("feature", "v")
        .agg(F.sum("pos").alias("p"), F.sum("neg").alias("ng"))
    )
    wpre = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("feature")
    pref = melted.select(
        "feature",
        "v",
        F.sum("p").over(wpre).alias("pl"),
        F.sum("ng").over(wpre).alias("nl"),
        F.sum("p").over(wall).alias("pt"),
        F.sum("ng").over(wall).alias("nt"),
    )
    err = pref.select(
        "feature",
        "v",
        "pt",
        "nt",
        (
            F.least("pl", "nl")
            + F.least(F.col("pt") - F.col("pl"), F.col("nt") - F.col("nl"))
        ).alias("errors"),
    )
    best = err.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("feature").orderBy("errors", "v")),
    ).filter(F.col("rk") == 1)
    return best.select(
        "feature",
        (F.col("pt") + F.col("nt")).alias("n"),
        F.least("pt", "nt").alias("base_errors"),
        F.col("v").alias("best_threshold"),
        F.col("errors").alias("best_errors"),
        (F.least("pt", "nt") - F.col("errors")).alias("gain"),
    )


# --- PCA top component via power iteration ----------------------------------

_PCA_ITERS = 3
_PCA_Q = 1000  # data fixed-point scale (|x| <= 0.58 in the fixture)
_PCA_V = 10000  # direction scale: L-inf-normalized components in [-1e4, 1e4]
_PCA_DIM = 64


def _pca_oracle() -> str:
    """3 power-iteration steps as generated MATERIALIZED CTEs (the
    q_logreg_train / q_pagerank convention). Every value is an int64;
    the only divisions are truncating integer divisions (DuckDB // and
    Python's sign-safe tdiv truncate identically toward zero)."""
    cte = f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_PCA_Q} + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ), ex AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS INTEGER) AS i, q[t.i + 1] AS v
      FROM q, generate_series(0, {_PCA_DIM - 1}) t(i)
    ), s AS MATERIALIZED (
      SELECT i, CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY i
    ), n AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n FROM q
    ), v0 AS MATERIALIZED (
      SELECT CAST(t.i AS INTEGER) AS i, CAST({_PCA_V} AS BIGINT) AS w
      FROM generate_series(0, {_PCA_DIM - 1}) t(i)
    )"""
    for r in range(1, _PCA_ITERS + 1):
        cte += f""", dot{r} AS MATERIALIZED (
      SELECT e.vec_id, CAST(sum(e.v * w.w) AS BIGINT) AS d
      FROM ex e JOIN v{r - 1} w USING (i) GROUP BY e.vec_id
    ), av{r} AS MATERIALIZED (
      SELECT e.i, CAST(sum(e.v * d.d) AS BIGINT) AS av
      FROM ex e JOIN dot{r} d USING (vec_id) GROUP BY e.i
    ), sv{r} AS MATERIALIZED (
      SELECT CAST(sum(s.s * w.w) AS BIGINT) AS sv
      FROM s JOIN v{r - 1} w USING (i)
    ), z{r} AS MATERIALIZED (
      SELECT av.i, CAST(av.av - s.s * (sv.sv // n.n) AS BIGINT) AS z
      FROM av{r} av JOIN s ON av.i = s.i, sv{r} sv, n
    ), den{r} AS MATERIALIZED (
      SELECT CAST(max(abs(z)) // {_PCA_V} + 1 AS BIGINT) AS den FROM z{r}
    ), v{r} AS MATERIALIZED (
      SELECT i, CAST(z // den AS BIGINT) AS w FROM z{r}, den{r}
    )"""
    sel = " UNION ALL ".join(
        f"SELECT {r} AS iter, i, w AS comp FROM v{r}"
        for r in range(1, _PCA_ITERS + 1)
    )
    return cte + f" SELECT CAST(iter AS INTEGER) AS iter, i, comp FROM ({sel})"


@query(
    "q_pca_power",
    oracle=_pca_oracle(),
    doc=(
        "PCA top principal component by POWER ITERATION over the embedding "
        "table — the whitening/drift-direction step beside "
        "q_embed_covariance (which emits the moment matrix; this extracts "
        "the dominant eigendirection in-engine): 3 unrolled iterations of "
        "v <- normalize((A - S m^T) v) on the fixed-point-quantized data, "
        "emitting the direction trajectory (iter, i, comp). Each iteration "
        "is ONE aggregate pass over the corpus — the per-row dot product "
        "q.v folds row-locally against the 64-int broadcast direction "
        "literal and the d matvec sums accumulate as exact int64 partial "
        "aggregates (never a d x d matrix, never a self-join); the "
        "per-dimension sums S and count n are computed once (iteration-"
        "invariant) and centering is applied driver-side via the "
        "quantized identity z = Av - S * tdiv(S.v, n). Normalization is "
        "L-infinity with truncating integer division, so the whole "
        "trajectory is integer-exact on both engines (DuckDB // and the "
        "sign-safe Python tdiv truncate identically). Driver traffic is "
        "64 ints per iteration — the q_logreg_train bounded-model "
        "pattern; at 100 TB the aggregate is the only distributed work. "
        "int64 headroom at the scales in use (r11 ADVICE correction): "
        "|x| <= 0.6, Q=1e3, V=1e4 puts the per-row matvec term |q_j*d| "
        "near 2.3e11, so the summed partial reaches ~2.3e18 at 1e7 rows — "
        "inside int64 but only ~4x from the 9.2e18 cap, and non-ANSI "
        "Spark long arithmetic would WRAP SILENTLY past ~4e7 rows while "
        "DuckDB errors, diverging the engines with no failure signal. A "
        "loud row-count guard rejects corpora past 2e7 rows; larger "
        "corpora lower Q or move the matvec sums to decimal(38)."
    ),
)
def q_pca_power(spark: SparkSession, sf_dir: str):
    from ..operators.scale import fan_out

    emb = read_table(spark, sf_dir, "embeddings")
    q = fan_out(emb).select(
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * _PCA_Q + 0.5).cast("long"),
        ).alias("q")
    ).localCheckpoint(eager=True)

    def tdiv(a: int, b: int) -> int:
        # Truncate toward zero — what DuckDB // and Spark div do; Python's
        # // floors, so negatives go through the sign-safe form.
        return a // b if a >= 0 else -((-a) // b)

    qcol = F.col("q")
    base = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(F.element_at(qcol, j + 1)).cast("bigint").alias(f"s{j}")
            for j in range(_PCA_DIM)
        ],
    ).collect()[0]
    n = int(base["n"])
    # int64 wrap guard (r11 ADVICE): the matvec partial sum grows as
    # n * |q_j * d| ~ n * 2.3e11 — silent non-ANSI long wrap begins near
    # 4e7 rows. Fail loudly with margin rather than diverge from DuckDB.
    if n > 20_000_000:
        raise ValueError(
            f"q_pca_power: {n} rows exceeds the int64-exact regime "
            "(~4e7 rows at Q=1e3, V=1e4 wraps the matvec partial); "
            "lower _PCA_Q or accumulate in decimal(38)."
        )
    S = [int(base[f"s{j}"]) for j in range(_PCA_DIM)]

    w = [_PCA_V] * _PCA_DIM
    trajectory = []
    for it in range(1, _PCA_ITERS + 1):
        from ..operators.scale import inline_literal

        vlit = inline_literal([int(x) for x in w])
        dot = F.aggregate(
            F.zip_with(qcol, vlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        row = q.select(dot.alias("d"), qcol.alias("q")).agg(
            *[
                F.sum(F.element_at(F.col("q"), j + 1) * F.col("d"))
                .cast("bigint")
                .alias(f"av{j}")
                for j in range(_PCA_DIM)
            ]
        ).collect()[0]
        av = [int(row[f"av{j}"]) for j in range(_PCA_DIM)]
        sv = sum(S[j] * w[j] for j in range(_PCA_DIM))
        mv = tdiv(sv, n)
        z = [av[j] - S[j] * mv for j in range(_PCA_DIM)]
        den = tdiv(max(abs(x) for x in z), _PCA_V) + 1
        w = [tdiv(x, den) for x in z]
        trajectory.extend((it, j, w[j]) for j in range(_PCA_DIM))
    return spark.createDataFrame(trajectory, schema="iter int, i int, comp bigint")
