"""Scale helpers must not change semantics: salted aggregation equals plain
aggregation, and the scale-hardened operators keep their results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_trading_data_pipeline_spark.io import read_table
from crypto_trading_data_pipeline_spark.operators.scale import with_salt
from crypto_trading_data_pipeline_spark.queries.relational import _salted_group_sum


def test_salted_group_sum_matches_plain(spark, sf_dir):
    e = read_table(spark, sf_dir, "events")
    plain = {
        r.event_type: (round(r.s, 6), r.n)
        for r in e.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r.event_type: (round(r.total, 6), r.n)
        for r in _salted_group_sum(e.select("event_type", "value")).collect()
    }
    assert plain == salted


def test_with_salt_bounded_and_deterministic(spark, sf_dir):
    e = read_table(spark, sf_dir, "events").limit(100)
    s1 = [r["__salt"] for r in with_salt(e).select("__salt").collect()]
    s2 = [r["__salt"] for r in with_salt(e).select("__salt").collect()]
    assert s1 == s2
    assert 1 < len(set(s1)) and set(s1) <= set(range(16))


def test_connected_components_transitive_chain(spark):
    """A chain 1-2-3 collapses to one component even though (1,3) is no
    edge; disjoint pairs and isolated nodes stay separate."""
    from crypto_trading_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        ["src", "dst"],
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def test_kmeans_train_lloyd_invariants(spark):
    """Deterministic integer k-means: SSE non-increasing (Lloyd's
    monotonicity — the nearest-integer mean minimises the SSE over integer
    centroids), re-runs identical, final assignment self-consistent (each
    point sits in its argmin-distance cluster)."""
    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.operators.cluster import (
        _KMEANS_IVF_ITERS,
        _KMEANS_IVF_K,
        kmeans_train,
    )
    from crypto_trading_data_pipeline_spark.operators.similarity import as_double_vec
    from pyspark.sql import functions as F

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    out, cents, sse = kmeans_train(emb)
    assert len(sse) == _KMEANS_IVF_ITERS and all(a >= b for a, b in zip(sse, sse[1:]))
    assert len(cents) == _KMEANS_IVF_K and all(len(c) == 64 for c in cents)

    rows = out.collect()
    assert len(rows) == 500 and {r.cluster for r in rows} <= set(range(_KMEANS_IVF_K))

    def sqd(v, c):
        return sum((a - b) ** 2 for a, b in zip(v, c))

    for r in rows[:50]:
        dists = [sqd(r.v, c) for c in cents]
        assert dists[r.cluster] == min(dists)

    out2, cents2, sse2 = kmeans_train(emb)
    assert cents == cents2 and sse == sse2


def test_pq_train_matches_per_subspace_kmeans(spark, monkeypatch):
    """The joint PQ trainer (one job per Lloyd iteration across all m
    subspaces) must be BIT-IDENTICAL to m independent kmeans_train calls
    on the slices, given the PQ codebook size and iteration count —
    codebooks, SSE histories, and the final per-(id, subspace) assignment
    distances. This equality is what lets q_pq_train / q_ann_pq_trained
    swap trainers without touching their DuckDB oracles."""
    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.operators import cluster
    from crypto_trading_data_pipeline_spark.operators.similarity import as_double_vec
    from pyspark.sql import functions as F

    monkeypatch.setattr(cluster, "_KMEANS_IVF_K", cluster._PQ_K)
    monkeypatch.setattr(cluster, "_KMEANS_IVF_ITERS", cluster._PQ_TRAIN_ITERS)
    m, dsub, k = cluster._PQ_M, cluster._PQ_DSUB, cluster._PQ_K
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    train = emb.filter(F.col("vec_id") < 200)

    final, cbs, hists = cluster.pq_train(train)
    assert len(cbs) == m and all(len(cb) == k for cb in cbs)

    joint_sse = {
        r.j: r.sse_j
        for r in final.groupBy(F.col("__j").alias("j"))
        .agg(F.sum("__d").alias("sse_j"))
        .collect()
    }
    for j in range(m):
        sub = train.select(
            "vec_id", F.slice(F.col("v"), j * dsub + 1, dsub).alias("v")
        )
        _a, cents, hist = cluster.kmeans_train(sub)
        assert cbs[j] == cents, f"subspace {j}: codebooks diverge"
        assert hists[j] == hist, f"subspace {j}: SSE history diverges"
        quant = sub.withColumn("v", cluster.quantize(F.col("v")))
        (ref_sse,) = cluster._assign(quant, cents).agg(F.sum("__d")).first()
        assert joint_sse[j] == ref_sse, f"subspace {j}: final SSE diverges"


def test_approx_percentile_within_tolerance(spark):
    """The sketch answer must sit within 1% relative of the exact
    percentile at sf0.001 (accuracy parameter 10k on ~6k rows per flag
    is near-exact)."""
    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    approx = {
        r.l_returnflag: (r.p50, r.p90, r.p99)
        for r in REGISTRY["q_approx_percentile"].fn(spark, sf).collect()
    }
    from crypto_trading_data_pipeline_spark.io import read_table
    from pyspark.sql import functions as F

    exact = read_table(spark, sf, "lineitem").groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("p")
    )
    checked = 0
    for r in exact.collect():
        for i in range(3):
            assert abs(approx[r.l_returnflag][i] - r.p[i]) <= 0.01 * abs(r.p[i])
            checked += 1
    assert checked >= 6


def test_lsh_bucket_cap_bounds_skew(spark):
    """1000 byte-identical docs share every LSH band bucket. Without the
    per-bucket cap that is C(1000,2)=499500 pairs from ONE collect_set row;
    the cap bounds expansion at C(cap,2) per band and keeps the kept subset
    deterministic (lowest doc_ids)."""
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _LSH_BUCKET_CAP,
        _lsh_candidate_pairs,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document body repeated verbatim").alias("text"),
    )
    pairs = _lsh_candidate_pairs(docs)
    n = pairs.count()
    cap_pairs = _LSH_BUCKET_CAP * (_LSH_BUCKET_CAP - 1) // 2
    # All 4 bands hold the identical bucket, so the DISTINCT pair set is one
    # bucket's expansion: exactly C(cap,2), never the half-million all-pairs.
    assert n == cap_pairs, n
    kept = {r.doc_a for r in pairs.collect()} | {r.doc_b for r in pairs.collect()}
    assert kept == set(range(_LSH_BUCKET_CAP))


def test_lsh_bucket_cap_overflow_is_observable(spark):
    """Cap truncation must be a metric, not a silent drop (ADVICE r2): the
    CollectMetrics node riding the bucket aggregate reports how many
    buckets exceeded the cap and the max uncapped size. Overflow fixture ->
    4 truncated band buckets of 1000; clean fixture -> zero truncated, so
    the capped result is provably oracle-exact there."""
    from pyspark.sql import Observation

    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _lsh_candidate_pairs,
    )

    hot = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document body repeated verbatim").alias("text"),
    )
    obs = Observation("lsh_cap_hot")
    _lsh_candidate_pairs(hot, observation=obs).count()
    m = obs.get
    assert m["truncated_buckets"] == 4, m  # all 4 bands hold the one hot bucket
    assert m["max_bucket_size"] == 1000, m

    clean = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique document body number "), F.col("id").cast("string"),
                 F.lit(" with distinct trailing words")).alias("text"),
    )
    obs2 = Observation("lsh_cap_clean")
    _lsh_candidate_pairs(clean, observation=obs2).count()
    assert obs2.get["truncated_buckets"] == 0, obs2.get


def test_embed_neardup_guard_refuses_large_corpus(spark, monkeypatch, sf_dir):
    """q_embed_neardup is the exact O(n^2) baseline; above the row cap it
    must refuse with a pointer to the ANN paths instead of launching a
    quadratic join (VERDICT r2 #3). At fixture scale it still runs."""
    import crypto_trading_data_pipeline_spark.queries.dedup_advanced as da

    monkeypatch.setattr(da, "_EMBED_EXACT_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="q_ann_ivf"):
        da.q_embed_neardup(spark, sf_dir)


def test_hll_union_accuracy_bounded(spark, sf_dir):
    """The unioned sketch estimate must sit within HLL lgK=14 error bounds
    of exact (~0.8% typical; assert a loose 5%), and per-lang estimates
    likewise — otherwise sketch persistence would silently corrupt
    downstream rollups."""
    from crypto_trading_data_pipeline_spark.queries.relational import q_hll_union

    for r in q_hll_union(spark, sf_dir).collect():
        assert r.exact_distinct > 0
        rel = abs(r.estimate - r.exact_distinct) / r.exact_distinct
        assert rel < 0.05, (r.lang, r.estimate, r.exact_distinct)


def test_semdedup_cluster_skew_is_observable(spark):
    """A degenerate giant cluster silently re-creates the corpus-quadratic
    pairwise cost SemDeDup exists to avoid (VERDICT r3 #5 / r4 #5): the
    CollectMetrics node riding the pair join's build side must report it.
    Degenerate fixture (every vector nearest the single centroid) -> one
    cluster of 10, pairwise_rows = 10^2; balanced two-centroid fixture ->
    two clusters of 50, pairwise_rows = 2 * 50^2."""
    from pyspark.sql import Observation

    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        semdedup_flags,
    )

    # _ivf_assign draws centroids at vec_id % 50 == 0: ids 0..9 -> only
    # vec_id 0 is a centroid, so every vector lands in its cluster.
    degen = spark.createDataFrame(
        [(i, [1.0, 0.01 * i]) for i in range(10)], "vec_id: long, embedding: array<double>"
    )
    obs = Observation("semdedup_degen")
    semdedup_flags(degen, observation=obs).count()
    m = obs.get
    assert m["n_clusters"] == 1, m
    assert m["max_cluster_size"] == 10, m
    assert m["pairwise_rows"] == 100, m

    # ids 0..99 -> centroids {0, 50}; group A hugs [1, 0] (centroid 0),
    # group B hugs [0, 1] (centroid 50): two balanced clusters of 50.
    balanced = spark.createDataFrame(
        [(i, [1.0, 0.001 * i]) for i in range(50)]
        + [(i, [0.001 * (i - 50), 1.0]) for i in range(50, 100)],
        "vec_id: long, embedding: array<double>",
    )
    obs2 = Observation("semdedup_balanced")
    semdedup_flags(balanced, observation=obs2).count()
    m2 = obs2.get
    assert m2["n_clusters"] == 2, m2
    assert m2["max_cluster_size"] == 50, m2
    assert m2["pairwise_rows"] == 5000, m2


def test_neardup_incremental_bucket_cap_observable(spark):
    """Same contract as the LSH pair cap, on the incremental screen: a hot
    corpus band bucket is sliced to the cap and the truncation is a metric,
    not a silent drop. 400 identical corpus docs (every id below the batch
    cutoff) + 5 batch copies against the cap of 64 -> all 4 band buckets
    truncated, and every batch doc still matches (the kept 64 lowest-id
    corpus docs verify at Jaccard 1.0)."""
    from pyspark.sql import Observation

    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _NEARDUP_INCR_CUTOFF,
        neardup_incremental,
    )

    cutoff = _NEARDUP_INCR_CUTOFF
    docs = spark.range(cutoff + 5).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document body repeated verbatim").alias("text"),
    )
    obs = Observation("neardup_incr_hot")
    out = neardup_incremental(docs, observation=obs)
    rows = {r.doc_id: r for r in out.collect()}
    m = obs.get
    assert m["truncated_buckets"] == 4, m  # all 4 bands hold the one hot bucket
    assert m["max_bucket_size"] == cutoff, m
    assert set(rows) == set(range(cutoff, cutoff + 5))
    for r in rows.values():
        assert r.keep == 0 and r.match_id == 0 and r.jac == 1.0, r


def test_zorder_key_bit_layout(spark):
    """Morton interleave: x occupies even bits, y odd bits — pinned on
    hand-computed values, plus the locality property the layout exists
    for (a file of 256 consecutive z-values has tight ranges in BOTH
    dimensions: max spread 16 for an 8-bit 16x16 tile)."""
    from pyspark.sql import functions as F

    from crypto_trading_data_pipeline_spark.operators.scale import zorder_key

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, ["x", "y"])
    z = df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z"))
    got = {(r.x, r.y): r.z for r in z.collect()}
    # Hand-computed Morton codes.
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1      # x -> even bits
    assert got[(0, 1)] == 2      # y -> odd bits
    assert got[(3, 5)] == 0b100111  # x=11 -> bits0,2; y=101 -> bits1,5
    assert got[(15, 15)] == 255
    # Bijectivity over the tile.
    assert len(set(got.values())) == 256
    # Locality: each 16-code block spans at most a 4x4 subtile.
    by_z = sorted((v, k) for k, v in got.items())
    for blk in range(0, 256, 16):
        xs = [k[0] for _, k in by_z[blk : blk + 16]]
        ys = [k[1] for _, k in by_z[blk : blk + 16]]
        assert max(xs) - min(xs) <= 3 and max(ys) - min(ys) <= 3


def test_schema_evolution_merge_read(spark, tmp_path):
    """Long-lived 100 TB tables evolve: files written before a column
    existed must read as NULL alongside new files, and the scan must
    still prune/push down on the original columns. mergeSchema=true
    reconciles parquet footers; the assertion pins both the unified
    schema and the per-era values."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "payload"]
    ).write.mode("append").parquet(p)
    # Era 2 adds a quality score column.
    spark.createDataFrame(
        [(3, "c", 0.9), (4, "d", 0.1)], ["id", "payload", "score"]
    ).write.mode("append").parquet(p)

    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert {f.name for f in df.schema.fields} == {"id", "payload", "score"}
    rows = {r.id: (r.payload, r.score) for r in df.collect()}
    assert rows[1] == ("a", None)  # pre-evolution file -> NULL, not error
    assert rows[3] == ("c", 0.9)
    # Pushdown on an original column still reaches the scan.
    plan = (
        df.filter(F.col("id") > 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "GreaterThan(id,2)" in plan, plan
    # Aggregating the evolved column treats old files as missing data.
    got = df.agg(
        F.count("score").alias("n_scored"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert (got.n_scored, got.n) == (2, 4)


def test_hll_portable_accuracy(spark):
    """The portable md5 HLL (m=256) must estimate within the raw
    HyperLogLog error envelope: ~1.04/sqrt(256) = 6.5% standard error, so
    a 20% band is >3 sigma — failures mean the bucket/rho arithmetic
    broke, not bad luck. Checked per lang and for the merged __all__
    row (the bucket-wise-max union path) at sf0.01."""
    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    from tests.conftest import TESTDATA

    rows = REGISTRY["q_hll_portable"].fn(spark, f"{TESTDATA}/sf0.01").collect()
    assert rows, "no output"
    langs = {r["lang"] for r in rows}
    assert "__all__" in langs and len(langs) >= 3
    for r in rows:
        assert r["exact_distinct"] > 0
        rel = abs(r["est"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 0.20, f"{r['lang']}: est {r['est']} vs {r['exact_distinct']}"


def test_triangle_count_known_graph(spark, tmp_path):
    """Degree-orientation correctness on a hand-checked graph: one order
    whose 4 qualifying suppliers form K4 (4 triangles, 6 edges), plus a
    disconnected 2-supplier order (1 edge, no triangle), plus a
    below-threshold supplier that must not create edges at all."""
    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    rows = [(1, s, 50.0) for s in (1, 2, 3, 4)]          # K4
    rows += [(2, 10, 50.0), (2, 11, 50.0)]               # lone edge
    rows += [(1, 99, 5.0)]                               # under qty threshold
    spark.createDataFrame(
        rows, "l_orderkey int, l_suppkey int, l_quantity double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = REGISTRY["q_triangle_count"].fn(spark, str(tmp_path)).collect()[0]
    assert out["n_edges"] == 7
    assert out["n_triangles"] == 4
    # K4 with degree orientation (all degrees tie -> id order) generates
    # C(3,2)+C(2,2) = 4 wedges; the lone edge generates none.
    assert out["n_wedges"] == 4


def test_embed_covariance_is_psd(spark, sf_dir):
    """A covariance matrix is positive semidefinite by construction; the
    reconstructed 64x64 matrix from the upper-triangle output must have no
    eigenvalue below numerical zero. Catches any sign/indexing slip the
    value-hash oracle (which would faithfully match a consistently wrong
    formula on both sides) cannot."""
    import numpy as np

    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["q_embed_covariance"].fn(spark, sf_dir).collect()
    m = np.zeros((64, 64))
    for r in rows:
        m[r["i"], r["j"]] = r["cov"]
        m[r["j"], r["i"]] = r["cov"]
    assert len(rows) == 64 * 65 // 2
    ev = np.linalg.eigvalsh(m)
    assert ev.min() > -1e-6, ev.min()
    # Diagonal entries are variances — strictly positive on real data.
    assert all(m[i, i] > 0 for i in range(64))


def test_semdedup_dominator_cap_bounds_pairs(spark):
    """r11 verdict #5: the dominator prefix cap bounds a mega-cluster's
    pair volume to |c| * cap (the 30x probe measured pairwise_rows 40x at
    30x input with no cap), the truncation is observable, and the RESULT
    is unchanged when the dominating member sits inside the prefix — 150
    identical vectors collapse to one cluster where vec 0 dominates all."""
    from pyspark.sql import Observation

    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _SEMDEDUP_DOM_CAP,
        semdedup_flags,
    )

    big = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(150)], "vec_id: long, embedding: array<double>"
    )
    obs = Observation("semdedup_cap")
    rows = {r["vec_id"]: r["keep"] for r in semdedup_flags(big, observation=obs).collect()}
    assert rows[0] == 1 and sum(rows.values()) == 1, "vec 0 must dominate the rest"
    m = obs.get
    assert m["max_cluster_size"] == 150, m
    assert m["pairwise_rows"] == 150 * 150, m
    assert m["capped_pairwise_rows"] == 150 * _SEMDEDUP_DOM_CAP, m
    assert m["truncated_clusters"] == 1, m
