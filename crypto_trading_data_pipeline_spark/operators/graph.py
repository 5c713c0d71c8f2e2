"""Iterative graph operators — connected components for duplicate-cluster
resolution.

Spark has no native CC (GraphX is Scala-only, GraphFrames is an external
package), but near-dup dedup needs it: LSH+verify emits PAIRS, and a
transitive chain a~b~c must collapse to ONE cluster even though (a,c) was
never directly verified. q_neardup_dedup's one-hop representative pick is
the single-pass approximation; this is the exact version.

Algorithm: iterative min-label propagation (the standard Pregel-style
formulation). Each round every node adopts the smallest label among itself
and its neighbors; convergence in O(graph diameter) rounds — for near-dup
clusters the diameter is tiny (duplicates of one source form near-cliques).
Each round is one join + one partial+final min-aggregate, fully
distributed; the driver only sees a changed-label COUNT (the convergence
test), never the data. Lineage is truncated per round with an eager
localCheckpoint, or the plan would grow by two shuffles per iteration.

For adversarial diameters (long chains, deep trees) use
``connected_components_star`` below — alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond"), same
per-round primitives but O(log^2 n) rounds regardless of diameter,
equivalence-tested against a union-find oracle including a 200-node path
that min-label propagation cannot finish in its default budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, *, max_iter: int = 25) -> DataFrame:
    """(src, dst) edge list -> (node, component) where component is the
    smallest node id reachable from ``node``. Undirected; isolated nodes
    absent from ``edges`` are absent from the output (callers coalesce).

    Min-label propagation needs O(graph diameter) rounds, so a path longer
    than ``max_iter`` cannot converge in time. It then raises rather than
    returning partially-propagated labels that callers would mistake for
    exact components.

    NOT a lazy plan constructor: the propagation loop runs Spark jobs
    (one convergence count per round) at CALL time, and intermediate
    state is localCheckpointed (executor-resident — an executor loss
    mid-iteration fails the call rather than silently recomputing)."""
    # Checkpoint the symmetrized edge list ONCE: every propagation round
    # joins against `und`, and without materialization each round (plus
    # its convergence count action) re-executes the caller's whole edge
    # lineage — for q_neardup_components that is the full LSH candidate
    # generation + Jaccard verification, re-run ~2x per iteration
    # (measured 6.5 s warm at sf0.1; 3.7-4.2 s with the checkpoint). The
    # star variant below has always done this; the standard iterative-
    # graph lineage truncation (GraphX checkpoints its edge RDD the
    # same way). eager=False: materialization happens on the loop's
    # first count() action anyway, and a lazy checkpoint keeps merely
    # CONSTRUCTING these frames job-free (r10 ADVICE — the propagation
    # loop below still executes at call time; see the docstring).
    # localCheckpoint trades fault-tolerance for speed: its output lives
    # on executors only, so an executor loss mid-iteration fails the
    # job (acceptable — callers rerun; for multi-hour graphs prefer
    # reliable checkpoint() to a configured checkpoint dir).
    # LOAD-BEARING (r11 ADVICE): a lazy localCheckpoint only truncates
    # lineage for partitions its first action actually computes. The
    # loop's first round (join + aggregate + convergence count) consumes
    # EVERY partition of both `und` and `labels`, which is what makes
    # eager=False safe here — do not insert an early limit()/sample()
    # action between these checkpoints and the loop, or later rounds can
    # hit missing-checkpoint-block errors instead of recomputing.
    # r13: a keyed-relayout checkpoint (scale.checkpoint_by_key on b) was
    # tried and reverted — the per-round label join is AQE-broadcast at
    # driver scale (labels are |nodes|-bounded), so the recorded layout
    # went unused while its relayout job cost real time, the same A/B
    # verdict as q_pagerank (SCALE_AB_R13OPT.json). Bucketed storage is
    # the 100 TB form of the layout.
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    labels = labels.localCheckpoint(eager=False)
    changed = -1
    for _ in range(max_iter):
        msgs = und.join(labels, und.b == labels.node).select(
            und.a.alias("node"), labels.lbl
        )
        # min(old, min(messages)) == min over (messages UNION old), but
        # keeping the old label alongside folds the convergence test into
        # the SAME materialization: `changed` is a filter-count over the
        # just-checkpointed rows instead of a second join of new-vs-old
        # labels re-shuffling both frames every round (r13: one aggregate
        # + one join per round instead of one union-aggregate + one join,
        # and the per-round convergence job now reads executor-local
        # checkpoint blocks — guide §2.4, share the exchange). Every node
        # has >= 1 message (und is symmetric and labels = und.a distinct),
        # so the left join never NULLs; least() would ignore a NULL m
        # anyway and `m < old` is NULL-false, keeping the fold exact.
        mins = msgs.groupBy("node").agg(F.min("lbl").alias("m"))
        # eager=False + count (r14): an eager checkpoint runs its own
        # materialization job and the convergence count is then a SECOND
        # job; the lazy checkpoint is materialized BY the count (a filter
        # count reads every partition), fusing the two into one job per
        # round. Single consumer in that job — no racing recompute.
        stepped = (
            labels.withColumnRenamed("lbl", "old")
            .join(mins, "node", "left")
            .select(
                "node",
                F.least(F.col("old"), F.col("m")).alias("lbl"),
                (F.col("m") < F.col("old")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter("chg").count()
        labels = stepped.select("node", "lbl")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — the graph diameter exceeds "
            "max_iter; use connected_components_star for long chains"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def _large_star(und: DataFrame) -> DataFrame:
    """One large-star round: every neighbor v > u re-links to u's minimum
    neighborhood label. min is a groupBy aggregate joined back — never a
    collect_list, so hub nodes (star roots with millions of children)
    stream through the join instead of materializing one giant row.

    No trailing ``.distinct()`` (r14, VERDICT r13 #5 round fusion): the
    only consumer is ``_small_star``, whose groupBy-min is duplicate-
    insensitive and whose own output ends in a distinct — the dedup here
    was one redundant full shuffle of the relinked edge set per round
    (exchanges per round drop in plans/r14/q_neardup_components_star_*).
    Duplicates in the joined stream are bounded: one row per (input edge),
    so the un-deduped volume never exceeds the symmetric closure's."""
    m = und.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        und.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(und: DataFrame) -> DataFrame:
    """One small-star round on canonical (max, min) edges: all of u's
    smaller neighbors (and u itself) re-link to the smallest of them."""
    canon = und.filter(F.col("a") > F.col("b"))
    m = canon.groupBy("a").agg(F.min("b").alias("m"))
    joined = canon.join(m, "a")
    relinked = joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
    self_link = m.select(F.col("a"), F.col("m").alias("b"))
    return relinked.unionAll(self_link).filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log^2 n) rounds regardless of graph DIAMETER, vs the O(diameter)
    min-label propagation above. Use this for adversarial shapes (long
    chains, deep trees); propagation remains cheaper for the near-clique
    clusters near-dup dedup produces.

    Same contract as connected_components: (node, component=min reachable
    id), isolated nodes absent. Each round is two groupBy-min + join
    passes, lineage truncated with an eager localCheckpoint; convergence =
    the canonical edge set stops changing (one isEmpty() action on the
    symmetric difference — the driver sees a single boolean per round),
    within 40 rounds or the call raises."""
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes: eager=False (r14) — its only consumer is the FINAL labels
    # join after convergence, one job, no racing; the eager form ran a
    # dedicated materialization job before the loop even started.
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=False)
    # Keep the working set CANONICAL (a > b, one row per undirected edge —
    # und is symmetric and distinct, so the filter keeps exactly one
    # orientation of every edge). Each round's symmetric closure is then a
    # plain union of two DISJOINT distinct halves (a > b and a < b), so
    # the per-round `.distinct()` the closure used to pay — one full
    # shuffle of the edge set — is provably redundant and dropped (r13,
    # guide §2.4: remove shuffles outright; the before-plan paid three
    # distincts per round, the after-plan one).
    cur = und.filter(F.col("a") > F.col("b"))
    cur_cnt = None  # unknown until the first round's count lands
    for _ in range(40):
        # large-star works on the symmetric closure of the current set.
        sym = cur.unionAll(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        ls = _large_star(sym)
        # _large_star emits only (child > parent) rows (child > a >= parent
        # by construction), already distinct; the reversed copies a
        # symmetric closure would add all fail _small_star's canonical
        # a > b filter, so closing ls symmetrically was a second dead
        # union+distinct per round — pass ls straight through.
        # eager=False + count (r14): the convergence count below reads
        # every partition and materializes the checkpoint — one job per
        # round instead of checkpoint-job + count-job.
        nxt = _small_star(ls).localCheckpoint(eager=False)
        # Convergence = canonical edge set unchanged. Counts first (r13):
        # |nxt| != |cur| proves change for the price of a count over the
        # just-checkpointed blocks, so the two-sided anti-join equality
        # test — the expensive per-round job — only runs in rounds whose
        # counts already agree (the fixpoint candidate rounds). Exact:
        # equal sets must have equal counts; unequal counts never reach
        # the anti-join; equal counts still prove nothing and fall
        # through to the full symmetric-difference check as before.
        nxt_cnt = nxt.count()
        if nxt_cnt == cur_cnt:
            sym_diff = nxt.join(cur, ["a", "b"], "left_anti").unionAll(
                cur.join(nxt, ["a", "b"], "left_anti")
            )
            if sym_diff.isEmpty():
                cur = nxt
                break
        cur, cur_cnt = nxt, nxt_cnt
    else:
        raise RuntimeError(
            "connected_components_star did not converge in 40 rounds"
        )
    # Converged star forest: every edge is (child, root). Roots map to
    # themselves; nodes can appear as child of exactly one root.
    labels = cur.select(F.col("a").alias("node"), F.col("b").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )
