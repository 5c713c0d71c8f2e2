"""Round-9 property tests.

Replica discipline (per the repo's test strategy): where the DuckDB
oracle can only exercise fixture-scale behavior, an exact Python/numpy
replica pins the at-scale code path. Here: the two-level quantizer's
balanced coarse stride (floor(sqrt(k2))) is replicated bit-for-bit at
fixture scale (k2 = 10, stride = 3) AND at N = 13,000 (k2 = 260,
stride = 16), so the stride arithmetic, the coarse-subset predicate,
and all three deterministic ranks are pinned in both regimes.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from crypto_trading_data_pipeline_spark.io import read_table
from crypto_trading_data_pipeline_spark.operators.similarity import (
    as_double_vec,
    l2_norm,
)

SF_001 = "/root/testdata/sf0.001"


def _round6(x: np.ndarray) -> np.ndarray:
    """Spark F.round HALF_UP at 6dp (away from zero), vectorized."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _hier_replica(ids: np.ndarray, vecs: np.ndarray, cent_mod: int):
    """Exact numpy mirror of _ivf_assign_hier: balanced sqrt coarse
    stride, nearest-coarse routing for fine centroids and vectors, then
    the per-cell fine rank — every rank (rounded-6dp cosine DESC, id
    ASC). Returns ({vec_id: cent_id}, stride, n_coarse)."""
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    nrm = np.sqrt((vecs * vecs).sum(axis=1))

    fine_mask = ids % cent_mod == 0
    k2 = int(fine_mask.sum())
    stride = max(1, int(math.floor(math.sqrt(k2))))
    coarse_mask = ids % (cent_mod * stride) == 0

    def route(sub_vecs, sub_nrm):
        cos = _round6(
            (sub_vecs @ vecs[coarse_mask].T)
            / np.outer(sub_nrm, nrm[coarse_mask])
        )
        co_ids = ids[coarse_mask]
        return np.array(
            [co_ids[np.lexsort((co_ids, -cos[i]))[0]] for i in range(len(cos))]
        )

    fine_ids = ids[fine_mask]
    fine_cell = route(vecs[fine_mask], nrm[fine_mask])
    vec_cell = route(vecs, nrm)

    cell_members: dict[int, list[int]] = {}
    for fid, cell in zip(fine_ids, fine_cell):
        cell_members.setdefault(int(cell), []).append(int(fid))

    fine_pos = {int(f): i for i, f in enumerate(fine_ids)}
    out = {}
    for i in range(len(ids)):
        cands = cell_members[int(vec_cell[i])]
        idx = [fine_pos[c] for c in cands]
        cos = _round6(
            (vecs[i] @ vecs[fine_mask][idx].T) / (nrm[i] * nrm[fine_mask][idx])
        )
        out[int(ids[i])] = cands[np.lexsort((np.array(cands), -cos))[0]]
    return out, stride, int(coarse_mask.sum())


def _spark_hier(spark, frame):
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _ivf_assign_hier,
    )

    n = frame.withColumn("nrm", l2_norm(F.col("v")))
    return {
        r.vec_id: r.cent_id
        for r in _ivf_assign_hier(n).select("vec_id", "cent_id").collect()
    }


def test_ivf_hier_fixture_replica(spark):
    """Fixture scale (sf0.001: N = 500, k2 = 10 => stride = 3, four
    coarse cells) against the exact numpy replica — this is the regime
    the q_semdedup oracle hash-checks, proven here a second way."""
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _IVF_CENT_MOD,
    )

    frame = read_table(spark, SF_001, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    got = _spark_hier(spark, frame)

    rows = frame.collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([r.v for r in rows], dtype=np.float64)
    expected, stride, n_coarse = _hier_replica(ids, vecs, _IVF_CENT_MOD)
    assert stride == 3 and n_coarse == 4
    assert got == expected


def test_ivf_hier_stride_engages(spark):
    """The large-stride regime: replicate the sf0.001 embeddings 26x
    with jittered first coordinates (N = 13,000, k2 = 260 =>
    stride = floor(sqrt(260)) = 16, coarse = every 16th fine centroid =
    17 cells), far above every parquet fixture. Any drift in the stride
    arithmetic, the coarse-subset predicate, or the per-cell fine rank
    fails exactly against the replica."""
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _IVF_CENT_MOD,
    )

    reps, base = 26, 500
    frame = (
        read_table(spark, SF_001, "embeddings")
        .select("vec_id", as_double_vec(F.col("embedding")).alias("v0"))
        .crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") + F.col("rep") * base).alias("vec_id"),
            F.expr(
                "transform(v0, (x, j) -> x + if(j = 0, cast(rep as double), 0d))"
            ).alias("v"),
        )
    )
    got = _spark_hier(spark, frame)

    rows = frame.collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([r.v for r in rows], dtype=np.float64)
    expected, stride, n_coarse = _hier_replica(ids, vecs, _IVF_CENT_MOD)
    assert stride == 16 and n_coarse == 17
    assert len(got) == 13000
    assert got == expected


import pytest


@pytest.mark.parametrize("n_centroids", [0, 1])
def test_silhouette_degenerate(spark, tmp_path, n_centroids):
    """q_silhouette on corpora whose centroid predicate (vec_id < 8)
    matches fewer than two vectors: the oracle's rc = 2 self-join drops
    every row, and the Spark side must reproduce the EMPTY frame (same
    columns, zero rows). The r8 guard (a plan-time filter) was never
    exercised and actually CRASHED on the zero-centroid corpus —
    F.array() of no structs types as array<void>, failing analysis
    inside the transform — which this test caught; the fix returns the
    typed empty frame before any centroid expression is built. Both
    engines run on the same synthetic parquet via the standard compare,
    so the assertion is the full driver-shaped equivalence."""
    import os

    import duckdb

    from crypto_trading_data_pipeline_spark.io import TABLES
    from crypto_trading_data_pipeline_spark.queries import REGISTRY
    from .oracle_util import compare_query

    deg = tmp_path / "degenerate_sf"
    deg.mkdir()
    low_rows = (
        ""
        if n_centroids == 0
        else f"""
          UNION ALL
          SELECT 3 AS vec_id, embedding, label FROM (
            SELECT embedding, label
            FROM read_parquet('{SF_001}/embeddings.parquet') LIMIT 1
          )"""
    )
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT vec_id + 100 AS vec_id, embedding, label
          FROM read_parquet('{SF_001}/embeddings.parquet')
          {low_rows}
        ) TO '{deg}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    assert (
        con.execute(
            f"SELECT count(*) FROM read_parquet('{deg}/embeddings.parquet')"
            " WHERE vec_id < 8"
        ).fetchone()[0]
        == n_centroids
    )
    con.close()
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_001}/{t}.parquet", deg / f"{t}.parquet")

    spec = REGISTRY["q_silhouette"]
    df = spec.fn(spark, str(deg))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "cluster",
        "n_vectors",
        "sum_s_micro",
        "avg_silhouette",
        "n_negative",
    ]
    compare_query(spark, str(deg), "q_silhouette", spec.fn, spec.oracle)


def test_mrr_python_replica(spark):
    """q_mrr against a pure-Python replica computed from the raw
    documents: BM25 per-term contributions floored to micro-ints exactly
    as both engines do, ranking by (score DESC, doc_id), RR = 1/rank of
    the first doc containing each probe term, MRR the integer-ppm mean.
    Pins the max_by winner selection and the count-ahead rank against an
    independent implementation (two-sided oracles can agree on a shared
    misreading; a replica can't)."""
    from crypto_trading_data_pipeline_spark.queries import REGISTRY
    from crypto_trading_data_pipeline_spark.queries.llmdata import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    sf_dir = SF_001
    rows = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    toks = {r.doc_id: r.text.split(" ") for r in rows}
    dl = {d: len(t) for d, t in toks.items()}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    tf = {
        (d, term): sum(1 for w in t if w == term)
        for d, t in toks.items()
        for term in _BM25_TERMS
        if term in t
    }
    df = {
        term: sum(1 for (d, x) in tf if x == term) for term in _BM25_TERMS
    }
    score = {}
    for (d, term), f in tf.items():
        idf = math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
        c = math.floor(
            idf
            * (f * (_BM25_K1 + 1.0))
            / (f + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl[d] / avgdl))
            * 1000000.0
            + 0.5
        )
        score[d] = score.get(d, 0) + c

    expected = {}
    for term in _BM25_TERMS:
        rel = [d for d in score if term in toks[d]]
        if not rel:
            continue
        win = min(rel, key=lambda d: (-score[d], d))
        rank = 1 + sum(
            1
            for d in score
            if score[d] > score[win] or (score[d] == score[win] and d < win)
        )
        expected[term] = rank
    mrr = sum(1000000 // r for r in expected.values()) // len(expected)

    got = {
        r.term: r for r in REGISTRY["q_mrr"].fn(spark, sf_dir).collect()
    }
    assert {t: r.first_rank for t, r in got.items()} == expected
    for t, r in got.items():
        assert r.rr_ppm == 1000000 // expected[t]
        assert r.mrr_ppm == mrr


def test_ann_incremental_replica(spark):
    """q_ann_incremental's batch path against a numpy replica: centroids
    come from the (separately oracle-proven) trainer on the fixed-size
    prefix; the replica re-quantizes the batch, assigns by exact integer
    squared L2 with lowest-cluster tie-break, and recomputes the
    per-cluster delta counts. Pins the batch predicate, the microunit
    quantization, the frozen-centroid argmin, and the broadcast-join
    delta wiring."""
    from crypto_trading_data_pipeline_spark.operators.cluster import (
        kmeans_train,
    )
    from crypto_trading_data_pipeline_spark.queries import REGISTRY
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _ANN_INC_BATCH_MOD,
        _ANN_INC_BATCH_RES,
        _ANN_INC_TRAIN_MAX,
        _KMEANS_IVF_SCALE,
    )

    sf_dir = SF_001
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    _a, cents, _s = kmeans_train(emb.filter(F.col("vec_id") < _ANN_INC_TRAIN_MAX))
    cents = np.array(cents, dtype=np.int64)

    rows = emb.filter(
        F.col("vec_id") % _ANN_INC_BATCH_MOD == _ANN_INC_BATCH_RES
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    # round-half-up on negatives: Spark F.round is HALF_UP (away from 0)
    qr = np.array(
        [
            [
                int(
                    math.copysign(
                        math.floor(abs(x) * _KMEANS_IVF_SCALE + 0.5), x
                    )
                )
                for x in r.v
            ]
            for r in rows
        ],
        dtype=np.int64,
    )
    d2 = ((qr[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cluster = d2.argmin(axis=1)  # argmin ties -> lowest index, like _assign
    best = d2[np.arange(len(ids)), cluster]
    from collections import Counter

    delta = Counter(cluster.tolist())

    got = {
        r.vec_id: r
        for r in REGISTRY["q_ann_incremental"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(ids.tolist())
    for i, vid in enumerate(ids.tolist()):
        assert got[vid].cluster == cluster[i], vid
        assert got[vid].d2 == best[i], vid
        assert got[vid].n_new == delta[cluster[i]], vid


def test_oracle_fps_reproducible_from_git():
    """The committed ORACLE_FPS.json must be reproducible from git
    history — the run-order-independence contract of the refresh script.
    Sampled, not exhaustive (a full rebuild imports the registry at seven
    historical commits): rebuild the NEWEST round's fingerprints — oracle
    and code fields — and assert every query whose latest driver row is
    that round matches the committed file exactly. Any drift means someone
    hand-edited the file or the script's commit resolution broke."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib

    from crypto_trading_data_pipeline_spark.queries import _driver_check_rounds

    mod = importlib.import_module("scripts.refresh_oracle_fps")

    latest, _ = _driver_check_rounds()
    # Newest round WITH a driver commit: a brand-new CORRECTNESS file
    # the driver has written but not yet committed (the window between
    # its check run and its round-end commit) has no history to rebuild
    # from and must not fail this test.
    newest = sha = None
    for cand in sorted(set(latest.values()), reverse=True):
        sha = mod._driver_commit(cand)
        if sha:
            newest = cand
            break
    assert newest is not None, "no committed CORRECTNESS round found"
    dump = mod._fps_at_commit(sha)
    assert dump, f"registry import failed at {sha[:9]}"

    committed = json.load(open(os.path.join(mod.REPO, "ORACLE_FPS.json")))
    checked = [q for q, r in latest.items() if r == newest and q in dump]
    assert len(checked) >= 25  # the driver window holds 50
    assert all(set(dump[q]) == {"code", "oracle"} and dump[q]["code"] for q in checked)
    mismatched = [q for q in checked if committed.get(q) != dump[q]]
    assert not mismatched, f"ORACLE_FPS drift vs git for: {mismatched[:5]}"
