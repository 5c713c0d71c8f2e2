"""Model-quality tests for the in-engine trainers (queries/ml.py).

The DuckDB oracles prove Spark and DuckDB compute the SAME numbers; they
cannot prove the trainers LEARN. The fixture's lang label is independent of
its text by construction (every vocab token appears in all five langs), so
these tests feed the reusable cores a synthetic corpus with a known
separable signal and assert the models actually recover it:

- logistic GD reaches high training accuracy and its loss decreases
  monotonically across the 3 iterations;
- Naive Bayes classifies the held-out split of a vocab-separable corpus;
- DSIR weights rank target-skewed docs above background docs.

Plus a cross-engine check of the exact-multiple floor-division identity the
weight update relies on (Spark `div` truncates, DuckDB `//` floors; they
agree only because the dividend is made an exact multiple first).
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from crypto_trading_data_pipeline_spark.queries.ml import (
    _LR_BUCKETS,
    dsir_weights,
    logreg_train,
    naive_bayes,
)


def _synth_docs(n=200, seed=7):
    """Separable two-class corpus: class 1 draws from vocab A, class 0
    from vocab B, with 20% shared noise tokens."""
    rng = random.Random(seed)
    va = [f"alpha{i}" for i in range(8)]
    vb = [f"beta{i}" for i in range(8)]
    shared = [f"noise{i}" for i in range(4)]
    rows = []
    for d in range(n):
        y = d % 2
        pool = (va if y else vb) + shared
        text = " ".join(rng.choice(pool) for _ in range(30))
        rows.append((d, y, text))
    return rows


def test_logreg_learns_separable_signal(spark):
    import hashlib

    rows = _synth_docs()
    labeled = spark.createDataFrame(rows, "doc_id long, y int, text string")
    traj = logreg_train(labeled)
    by_iter = {}
    for it, bucket, w in traj:
        by_iter.setdefault(it, {})[bucket] = w

    def th(t):
        return (
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 2147483647
        ) % _LR_BUCKETS

    def z(toks, w):
        m = sum(w.get(th(t), 0) for t in toks)
        return m / (len(toks) * 1e6) + w[-1] / 1e6

    losses, accs = [], []
    for it in (1, 2, 3):
        w = by_iter[it]
        loss = acc = 0.0
        for _, y, text in rows:
            toks = text.split(" ")
            p = 1.0 / (1.0 + math.exp(-z(toks, w)))
            p = min(max(p, 1e-12), 1 - 1e-12)
            loss += -(y * math.log(p) + (1 - y) * math.log(1 - p))
            acc += (p >= 0.5) == bool(y)
        losses.append(loss / len(rows))
        accs.append(acc / len(rows))
    assert losses[0] > losses[1] > losses[2], f"loss not decreasing: {losses}"
    assert accs[-1] >= 0.9, f"separable corpus should train to >=0.9, got {accs}"


def test_naive_bayes_classifies_heldout(spark):
    rows = [(d, "pos" if y else "neg", text) for d, y, text in _synth_docs()]
    labeled = spark.createDataFrame(rows, "doc_id long, label string, text string")
    preds = naive_bayes(labeled).collect()
    heldout = [r for r in preds]
    assert len(heldout) == 40  # doc_id % 5 == 0 of 200
    acc = sum(r.correct for r in heldout) / len(heldout)
    assert acc >= 0.9, f"NB held-out accuracy {acc}"


def test_dsir_weights_rank_target_domain(spark):
    rows = [(d, bool(y), text) for d, y, text in _synth_docs()]
    flagged = spark.createDataFrame(rows, "doc_id long, is_target boolean, text string")
    got = {r.doc_id: r.logw_micro / r.n_tok for r in dsir_weights(flagged).collect()}
    tgt = [got[d] for d, y, _ in rows if y]
    bg = [got[d] for d, y, _ in rows if not y]
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(tgt) > mean(bg) + 100, (
        f"DSIR should upweight target-domain docs: {mean(tgt)} vs {mean(bg)}"
    )


@pytest.mark.parametrize("n", [7, 200])
def test_floor_division_identity_matches_duckdb(n):
    con = duckdb.connect()
    for a in [-17, -7, -1, 0, 1, 7, 23, -10 * n, 10 * n + 3]:
        py = (a - ((a % n + n) % n)) // n
        duck = con.execute(
            f"SELECT ({a} - (({a} % {n} + {n}) % {n})) // {n}"
        ).fetchone()[0]
        assert py == duck == math.floor(a / n)
    con.close()


def test_pq_trained_codebook_beats_literal(spark, sf_dir):
    """q_pq_train's Lloyd-refined codebooks must reconstruct the corpus
    with LOWER total quantization SSE than the literal vec_id<k codebook
    q_ann_pq serves from — the oracle proves the arithmetic matches
    DuckDB, this proves the training actually improves the index
    (r9 verdict #2's 'done' condition)."""
    from pyspark.sql import functions as F

    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.operators.cluster import _assign
    from crypto_trading_data_pipeline_spark.operators.similarity import (
        as_double_vec,
    )
    from crypto_trading_data_pipeline_spark.queries import REGISTRY
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _KMEANS_IVF_SCALE,
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        _PQ_TRAIN_MAX,
    )

    rows = REGISTRY["q_pq_train"].fn(spark, sf_dir).collect()
    assert len(rows) == _PQ_M * _PQ_K * _PQ_DSUB
    trained = {}
    trained_sse = {}
    for r in rows:
        trained.setdefault(r.j, {}).setdefault(r.code, {})[r.pos] = r.cw
        trained_sse[r.j] = r.sse_j
    # Non-degenerate: at least one codeword must differ from its seed
    # (otherwise the "training" was an identity pass).
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    sample = emb.filter(F.col("vec_id") < _PQ_TRAIN_MAX).withColumn(
        "v",
        F.transform(
            F.col("v"),
            lambda x: F.round(x * F.lit(float(_KMEANS_IVF_SCALE)), 0).cast("long"),
        ),
    )
    literal_rows = {
        r.vec_id: list(r.v) for r in sample.filter(F.col("vec_id") < _PQ_K).collect()
    }
    total_trained, total_literal = 0, 0
    for j in range(_PQ_M):
        sub = sample.select(
            "vec_id", F.slice(F.col("v"), j * _PQ_DSUB + 1, _PQ_DSUB).alias("v")
        )
        lit_cb = [
            literal_rows[code][j * _PQ_DSUB : (j + 1) * _PQ_DSUB]
            for code in range(_PQ_K)
        ]
        tr_cb = [
            [trained[j][code][pos] for pos in range(_PQ_DSUB)]
            for code in range(_PQ_K)
        ]
        lit_sse = _assign(sub, lit_cb).agg(F.sum("__d")).collect()[0][0]
        tr_sse = _assign(sub, tr_cb).agg(F.sum("__d")).collect()[0][0]
        # The query's reported per-subspace SSE is exactly the trained
        # assignment SSE (same integer arithmetic).
        assert tr_sse == trained_sse[j]
        total_trained += tr_sse
        total_literal += lit_sse
    assert total_trained < total_literal, (
        f"trained codebook SSE {total_trained} not below literal {total_literal}"
    )
