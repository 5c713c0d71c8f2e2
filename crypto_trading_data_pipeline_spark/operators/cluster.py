"""Deterministic Lloyd's k-means — the IVF centroid trainer.

q_ann_ivf partitions the corpus with a fixed centroid subset (every 50th
vector); this trains REAL centroids with the classic iterative refinement,
as a driver-coordinated loop over fully distributed steps:

- **assignment** is a narrow codegen'd pass: the k×dim centroid matrix is
  inlined as an array literal (at IVF scale k≤65k, a few MB — broadcast
  territory), and argmin-distance is `array_min` over a
  struct<dist,idx> array, JVM-side, no shuffle, no Python;
- **update** is one partial+final aggregate: posexplode to (cluster, pos,
  x), mean per coordinate, regroup — shuffle rows = k×dim, independent of
  corpus size;
- the driver only ever holds the k×dim centroid matrix and the SSE scalar
  (the convergence signal) — never data rows.

Determinism: coordinates are snapped to BIGINT microunits up front, so
distances are integer sums of squares and centroid updates half-up-rounded
integer means; seeds are the k vectors with the smallest portable id-hash
(ties by id), and every argmin tie-breaks toward the lowest centroid
index. Re-runs produce identical clusters (the property random-init
k-means lacks, and the one that matters for reproducible index builds),
and every intermediate is bit-identical across engines, which is what
lets the trained queries carry DuckDB hash-match oracles for the full
iterative refinement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import dedup_hash

#: The id and vector columns the trainers and assignments read.
_ID_COL = "vec_id"
_VEC_COL = "v"

#: The IVF coarse quantizer: centroids, Lloyd iterations, and the
#: quantization scale (coordinates become ``round(x * scale)`` BIGINT
#: microunits; the error is 0.5/scale per coordinate, noise against
#: unit-ish embeddings). The queries' DuckDB oracles unroll the same
#: values, so they are written once, here.
_KMEANS_IVF_K = 16
_KMEANS_IVF_ITERS = 3
_KMEANS_IVF_SCALE = 1_000_000

#: PQ geometry: 64-dim vectors -> 4 subspaces x 16 dims, 8 codewords per
#: subspace. A vector compresses to 4 codes (3 bits each): the
#: memory-side ANN answer — 64 floats -> half a byte, distances served
#: from an 8-entry lookup table per (query, subspace).
_PQ_M, _PQ_DSUB, _PQ_K = 4, 16, 8
#: The PQ trainer's Lloyd iterations. Two rounds per subspace — the PQ
#: codebook refinement plateaus fast at k=8/dsub=16, and every extra round
#: quadruples the oracle's unrolled-CTE cost (4 subspaces x rounds).
_PQ_TRAIN_ITERS = 2


def quantize(v: Column) -> Column:
    """The vector ``v`` as BIGINT microunits: ``round(x * _KMEANS_IVF_SCALE)``
    per coordinate, the input every trainer and assignment works on."""
    q = F.lit(float(_KMEANS_IVF_SCALE))
    return F.transform(v, lambda x: F.round(x * q, 0).cast("long"))


def _sq_dist(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cent_literal(centroids: list[list[int]]) -> "F.Column":
    """The k×dim centroid matrix as ONE array<array<...>> literal built via
    a single SQL string (F.expr). The per-element form —
    F.array(*[F.array(*[F.lit(x) ...]) ...]) — costs k*dim py4j round
    trips PER CALL (k=16, dim=64 → 1024 driver↔JVM hops, ~1 s), and the
    trainer loop rebuilds the literal every Lloyd iteration because the
    centroids changed; the SQL string is one hop and the JVM parser eats
    a ~20 KB array literal in milliseconds. Values are rendered exactly as
    BIGINT tokens — the resulting Literal is bit-identical to the old
    tree."""
    from .scale import inline_literal

    return inline_literal([[int(x) for x in c] for c in centroids])


def _assign(vecs: DataFrame, centroids: list[list[int]]) -> DataFrame:
    cent_arr = _cent_literal(centroids)
    scored = F.transform(
        cent_arr,
        lambda c, i: F.struct(_sq_dist(F.col(_VEC_COL), c).alias("d"), i.alias("i")),
    )
    best = F.array_min(scored)  # struct ordering: distance, then index
    return vecs.withColumn("cluster", best["i"]).withColumn("__d", best["d"])


def kmeans_train(vecs: DataFrame) -> tuple[DataFrame, list[list[int]], list[float]]:
    """``_KMEANS_IVF_K`` centroids from ``_KMEANS_IVF_ITERS`` Lloyd
    iterations over the quantized ``vecs``. Returns (assignments,
    centroids, sse_history).

    ``assignments`` is the quantized ``vecs`` with a ``cluster`` index
    column; ``sse_history`` has one entry per iteration and is
    non-increasing (Lloyd's monotonicity — the nearest-integer mean
    minimises the SSE over integer centroids; asserted in tests)."""
    vecs = vecs.withColumn(_VEC_COL, quantize(F.col(_VEC_COL)))
    # Materialize the training input ONCE (r12 verdict #7 — the
    # q_semdedup localCheckpoint pattern): every Lloyd iteration's
    # assignment+update job otherwise re-executes the caller's whole
    # upstream chain — parquet scan, fan_out repartition shuffle, the
    # double-cast and quantize transforms — per iteration, plus the seed
    # scan and the final assignment. Production trainers run on a BOUNDED
    # sample (the _ANN_INC_TRAIN_MAX contract; FAISS trains on a sample),
    # so the checkpoint is small by construction; the one full-corpus
    # caller (q_kmeans_ivf, the trainer demo) materializes the corpus it
    # was going to scan _KMEANS_IVF_ITERS+2 times anyway.
    vecs = vecs.localCheckpoint(eager=True)
    h = dedup_hash.token_hash(F.col(_ID_COL).cast("string"))
    seeds = (
        vecs.select(_VEC_COL, h.alias("__h"), F.col(_ID_COL))
        .orderBy("__h", _ID_COL)
        .limit(_KMEANS_IVF_K)
        .collect()
    )
    centroids = [list(r[_VEC_COL]) for r in seeds]

    mean = F.round(F.avg("x"), 0).cast("long")
    sse_history: list[float] = []
    for _ in range(_KMEANS_IVF_ITERS):
        assigned = _assign(vecs, centroids)
        stats = (
            assigned.select(
                "cluster", F.col("__d"), F.posexplode(_VEC_COL).alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(mean.alias("m"), F.sum("__d").alias("dsum"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm"),
                # __d was replicated once per coordinate by the explode.
                (F.sum("dsum") / F.count(F.lit(1))).alias("sse"),
            )
            .collect()
        )
        sse_history.append(float(sum(r.sse for r in stats)))
        for r in stats:  # empty clusters keep their previous centroid
            centroids[r.cluster] = [p.m for p in r.pm]
    final = _assign(vecs, centroids).drop("__d")
    return final, centroids, sse_history


def _pq_assign(subs: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """_assign generalized to m codebooks: each (id, __j, sub) row scores
    against ITS subspace's k codewords, selected by ``element_at`` from one
    nested [m][k][dsub] literal (one py4j hop via inline_literal). The
    scored/array_min expression is the same struct<d,i> argmin as _assign,
    so per-row results are bit-identical to assigning subspace __j alone."""
    from .scale import inline_literal

    lit3 = inline_literal([[[int(x) for x in c] for c in cb] for cb in codebooks])
    cand = F.element_at(lit3, F.col("__j").cast("int") + 1)
    scored = F.transform(
        cand,
        lambda c, i: F.struct(_sq_dist(F.col(_VEC_COL), c).alias("d"), i.alias("i")),
    )
    best = F.array_min(scored)  # struct ordering: distance, then index
    return subs.withColumn("cluster", best["i"]).withColumn("__d", best["d"])


def pq_train(
    vecs: DataFrame,
) -> tuple[DataFrame, list[list[list[int]]], list[list[float]]]:
    """Train the ``_PQ_M`` product-quantizer sub-codebooks of ``_PQ_K``
    codewords each, over ``_PQ_DSUB``-wide slices of the quantized
    ``vecs``, JOINTLY — one Spark job per
    Lloyd iteration covers ALL m subspaces, instead of m independent
    kmeans_train calls (m×(iterations+2) serial jobs, each re-executing the
    caller's upstream chain to build its slice; measured as the trained
    tier's dominant fixed cost in r13 — q_pq_train/q_ann_pq_trained).

    Returns ``(assignments, codebooks, sse_histories)``:

    - ``assignments``: one row per (id, __j) with ``cluster`` and ``__d``
      (the final-codebook assignment, lazy) — a per-subspace SSE is ONE
      ``groupBy("__j")`` aggregate away, where the per-m loop needed m
      full upstream re-executions;
    - ``codebooks[j][code]`` — BIT-IDENTICAL to ``kmeans_train``, given
      the same k and iteration count, on slice j of the same input
      (asserted in
      tests/test_scale_ops.py::test_pq_train_matches_per_subspace_kmeans):
      quantization commutes with slicing (elementwise), the seed ids are
      the k smallest (token_hash, id) rows — independent of j — and every
      integer mean / argmin tie-break groups by (__j, cluster) exactly as
      the per-sub trainer groups by cluster;
    - ``sse_histories[j]`` — kmeans_train's sse_history per subspace.
    """
    m, dsub, k = _PQ_M, _PQ_DSUB, _PQ_K
    vecs = vecs.withColumn(_VEC_COL, quantize(F.col(_VEC_COL)))
    h = dedup_hash.token_hash(F.col(_ID_COL).cast("string"))
    # Explode to (id, __h, __j, sub) and materialize ONCE — m×|train| rows,
    # bounded by the trainer-sample contract. Every later job (seeds, each
    # iteration, the final assignment) reads this checkpoint; the caller's
    # upstream chain executes exactly once.
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.struct(
            j.cast("int").alias("j"),
            F.slice(F.col(_VEC_COL), j * dsub + 1, dsub).alias("sub"),
        ),
    )
    cp = (
        vecs.select(F.col(_ID_COL), h.alias("__h"), F.explode(subs).alias("s"))
        .select(
            F.col(_ID_COL),
            "__h",
            F.col("s.j").alias("__j"),
            F.col("s.sub").alias(_VEC_COL),
        )
        .localCheckpoint(eager=True)
    )
    # Seeds: the k ids with the smallest (token_hash, id) — the hash does
    # not depend on __j, so the SAME ids seed every subspace; one ordered
    # limit(k*m) collect yields all m seed sets (kmeans_train's per-sub
    # orderBy(__h, id).limit(k), sliced).
    seed_rows = (
        cp.select("__j", _VEC_COL, "__h", F.col(_ID_COL))
        .orderBy("__h", _ID_COL, "__j")
        .limit(k * m)
        .collect()
    )
    codebooks: list[list[list[int]]] = [[None] * k for _ in range(m)]  # type: ignore[list-item]
    per_j_seen = [0] * m
    for r in seed_rows:  # rows arrive (h, id, j)-sorted: k ids × m subspaces
        codebooks[r["__j"]][per_j_seen[r["__j"]]] = list(r[_VEC_COL])
        per_j_seen[r["__j"]] += 1
    if min(per_j_seen) < k:  # fewer than k training rows: shorter codebooks,
        # same as kmeans_train's seeds-limit(k) on a small input
        codebooks = [cb[: per_j_seen[j]] for j, cb in enumerate(codebooks)]

    mean = F.round(F.avg("x"), 0).cast("long")
    sse_histories: list[list[float]] = [[] for _ in range(m)]
    for _ in range(_PQ_TRAIN_ITERS):
        assigned = _pq_assign(cp, codebooks)
        stats = (
            assigned.select(
                "__j", "cluster", F.col("__d"), F.posexplode(_VEC_COL).alias("pos", "x")
            )
            .groupBy("__j", "cluster", "pos")
            .agg(mean.alias("m"), F.sum("__d").alias("dsum"))
            .groupBy("__j", "cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
                # __d was replicated once per coordinate by the explode.
                (F.sum("dsum") / F.count(F.lit(1))).alias("sse"),
            )
            .collect()
        )
        per_j_sse = [0.0] * m
        for r in stats:  # empty clusters keep their previous centroid
            per_j_sse[r["__j"]] += float(r.sse)
            codebooks[r["__j"]][r.cluster] = [p.m for p in r.pm]
        for j in range(m):
            sse_histories[j].append(per_j_sse[j])
    final = _pq_assign(cp, codebooks).drop("__h")
    return final, codebooks, sse_histories
