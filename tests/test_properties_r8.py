"""Python-replica property tests for the r8 query additions.

Same discipline as tests/test_properties.py: each query is re-computed by
an INDEPENDENT pure-Python fold on hypothesis-generated data written as
fixture parquet, and the Spark result must match exactly. These catch the
classes of bug the two-engine oracle can't (both engines sharing a wrong
assumption about ordering, carry, or division semantics) — the oracle
proves Spark==DuckDB, the replica proves both==the intended math.
"""

from __future__ import annotations

import math
import shutil
import tempfile
from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from crypto_trading_data_pipeline_spark.queries import REGISTRY


def _tdiv(num: int, den: int) -> int:
    """Truncate-toward-zero integer division (Spark div / DuckDB //)."""
    q = abs(num) // abs(den)
    return q if (num >= 0) == (den > 0) else -q


def _write_events(spark, d, rows):
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type STRING, value DOUBLE",
    ).write.parquet(f"{d}/events.parquet")


# --- q_kyle_lambda ----------------------------------------------------------

ticks_strategy = st.lists(
    st.tuples(
        st.sampled_from([0, 1]),        # symbol
        st.integers(0, 3),              # minute
        st.integers(0, 59),             # second (ordering within minute)
        st.sampled_from([10.0, 10.5, 11.0, 12.25]),  # few price levels
    ),
    min_size=2,
    max_size=40,
)


@settings(max_examples=3, deadline=None)
@given(ticks_strategy)
def test_kyle_lambda_matches_python_replica(spark, ticks):
    """q_kyle_lambda vs an independent fold: tick rule with zero-tick
    carry, per-minute (net flow, close-open cents), then the integer OLS
    moments and ONE truncating division. Few price levels force equal
    prints (carry) and zero-move minutes; two symbols catch any carry
    bleeding across the partition key."""
    base = datetime(2024, 3, 1)
    d = tempfile.mkdtemp(prefix="kyle_prop_")
    try:
        rows = [
            (i, base + timedelta(minutes=m, seconds=s_), 1, f"s{sym}", p)
            for i, (sym, m, s_, p) in enumerate(ticks)
        ]
        _write_events(spark, d, rows)
        got = {
            r.symbol: (r.n_minutes, r.den, r.lambda_micro)
            for r in REGISTRY["q_kyle_lambda"].fn(spark, d).collect()
        }

        per_sym: dict[str, list] = {}
        for i, (sym, m, s_, p) in enumerate(ticks):
            per_sym.setdefault(f"s{sym}", []).append((m, s_, i, p))
        want = {}
        for sym, rs in per_sym.items():
            rs.sort(key=lambda r: (r[0], r[1], r[2]))  # (ts, event_id)
            side, prev = None, None
            minutes: dict[int, dict] = {}
            for m, _s, _i, p in rs:
                if prev is not None and p > prev:
                    side = 1
                elif prev is not None and p < prev:
                    side = -1
                prev = p
                c = int(math.floor(p * 100.0 + 0.5))
                mm = minutes.setdefault(m, {"x": 0, "open": c, "close": c})
                mm["x"] += side if side is not None else 0
                mm["close"] = c  # rows arrive in order
            n = len(minutes)
            xs = [mm["x"] for mm in minutes.values()]
            ys = [mm["close"] - mm["open"] for mm in minutes.values()]
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx = sum(x * x for x in xs)
            den = n * sxx - sx * sx
            if den > 0:
                want[sym] = (n, den, _tdiv((n * sxy - sx * sy) * 1000000, den))
        assert got == want, (got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_amihud ---------------------------------------------------------------


@settings(max_examples=3, deadline=None)
@given(ticks_strategy)
def test_amihud_matches_python_replica(spark, ticks):
    """q_amihud vs an independent fold: minute closes by the TOTAL
    (ts, event_id) order — the generator deliberately ALLOWS duplicate
    (minute, second) slots per symbol, so examples with tied timestamps
    exercise the event_id tie-break (the replica's in-arrival-order last
    write matches it because event_id is the enumeration index) — then
    within-day |close - prev_close| sums over minute boundaries and one
    exact ppb division."""
    base = datetime(2024, 3, 1)
    d = tempfile.mkdtemp(prefix="amihud_prop_")
    try:
        rows = [
            (i, base + timedelta(minutes=m, seconds=s_), 1, f"s{sym}", p)
            for i, (sym, m, s_, p) in enumerate(ticks)
        ]
        _write_events(spark, d, rows)
        got = {
            (r.symbol, str(r.day)): (r.n_minutes, r.move_c, r.vol_c, r.illiq_ppb)
            for r in REGISTRY["q_amihud"].fn(spark, d).collect()
        }

        per_sym: dict[str, list] = {}
        for i, (sym, m, s_, p) in enumerate(ticks):
            per_sym.setdefault(f"s{sym}", []).append((m, s_, i, p))
        want = {}
        for sym, rs in per_sym.items():
            rs.sort(key=lambda r: (r[0], r[1], r[2]))
            closes: dict[int, int] = {}
            vols: dict[int, int] = {}
            for m, _s, _i, p in rs:
                c = int(math.floor(p * 100.0 + 0.5))
                closes[m] = c  # in-order: last write is the minute close
                vols[m] = vols.get(m, 0) + c
            ms = sorted(closes)
            move = sum(
                abs(closes[b] - closes[a]) for a, b in zip(ms, ms[1:])
            )
            vol = sum(vols.values())
            want[(sym, "2024-03-01")] = (
                len(ms), move, vol, move * 1000000000 // vol
            )
        assert got == want, (got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_woe_iv ---------------------------------------------------------------


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["purchase", "view", "click"]),
            st.integers(1, 49900).map(lambda c: c / 100.0),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_woe_iv_matches_python_replica(spark, events):
    """q_woe_iv vs math.log on the same smoothed integer ratios — the
    replica recomputes (2n+1)/(2N+2k) from raw counts, so a binning slip,
    a swapped good/bad, or a smoothing-constant drift all surface. Bins
    with no rows at all are absent on both sides."""
    base = datetime(2024, 3, 1)
    d = tempfile.mkdtemp(prefix="woe_prop_")
    try:
        rows = [
            (i, base + timedelta(seconds=i), 1, et, float(v))
            for i, (et, v) in enumerate(events)
        ]
        _write_events(spark, d, rows)
        got = {
            r.bin: (r.n_good, r.n_bad, r.woe_micro, r.iv_term_micro)
            for r in REGISTRY["q_woe_iv"].fn(spark, d).collect()
        }

        cells: dict[int, list[int]] = {}
        for et, v in events:
            b = min(int(math.floor(float(v) / 50.0)), 9)
            g = cells.setdefault(b, [0, 0])
            g[0 if et == "purchase" else 1] += 1
        g_tot = sum(c[0] for c in cells.values())
        b_tot = sum(c[1] for c in cells.values())
        want = {}
        for b, (ng, nb) in cells.items():
            pg = (2 * ng + 1) / (2 * g_tot + 20)
            pb = (2 * nb + 1) / (2 * b_tot + 20)
            woe = math.log(pg / pb)
            want[b] = (
                ng,
                nb,
                int(math.floor(woe * 1000000.0 + 0.5)),
                int(math.floor((pg - pb) * woe * 1000000.0 + 0.5)),
            )
        assert got == want, (got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_skew_audit -----------------------------------------------------------


@settings(max_examples=3, deadline=None)
@given(st.lists(st.integers(0, 6), min_size=1, max_size=80))
def test_skew_audit_matches_python_replica(spark, users):
    """q_skew_audit vs a Counter: top-10 hottest keys by (count DESC,
    user_id), exact ppm share and milli hot-over-mean ratio."""
    from collections import Counter

    base = datetime(2024, 3, 1)
    d = tempfile.mkdtemp(prefix="skew_prop_")
    try:
        rows = [
            (i, base + timedelta(seconds=i), u, "view", 1.0)
            for i, u in enumerate(users)
        ]
        _write_events(spark, d, rows)
        got = {
            r.user_id: (r.n, r.share_ppm, r.x_mean_milli, r.n_keys, r.n_rows)
            for r in REGISTRY["q_skew_audit"].fn(spark, d).collect()
        }
        cnt = Counter(users)
        n_rows, n_keys = len(users), len(cnt)
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        want = {
            u: (
                n,
                n * 1000000 // n_rows,
                n * n_keys * 1000 // n_rows,
                n_keys,
                n_rows,
            )
            for u, n in top
        }
        assert got == want, (got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_inverted_index -------------------------------------------------------

_token = st.sampled_from(["the", "cat", "sat", "on", "mat", "a", ""])


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.lists(_token, min_size=1, max_size=10).map(lambda t: " ".join(t)),
        min_size=1,
        max_size=12,
    )
)
def test_inverted_index_matches_python_replica(spark, texts):
    """q_inverted_index vs Counter folds: df, total tf, and the heaviest
    posting under the (tf DESC, doc_id) tie-break. Small vocabulary forces
    heavy tf ties; empty tokens (double spaces) must survive like
    q_term_freq's convention."""
    from collections import Counter

    d = tempfile.mkdtemp(prefix="inv_prop_")
    try:
        spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
            "doc_id BIGINT, text STRING, lang STRING, source STRING,"
            " n_chars BIGINT",
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            r.term: (r.df, r.total_tf, r.top_doc_id, r.top_tf)
            for r in REGISTRY["q_inverted_index"].fn(spark, d).collect()
        }
        postings: dict[str, Counter] = {}
        for i, t in enumerate(texts):
            for tok, tf in Counter(t.split(" ")).items():
                postings.setdefault(tok, Counter())[i] = tf
        want = {}
        for term, ps in postings.items():
            top_doc, top_tf = sorted(ps.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            want[term] = (len(ps), sum(ps.values()), top_doc, top_tf)
        assert got == want, (got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_entity_match ---------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_word = st.sampled_from(["red", "blue", "small", "large", "lace", "lacy", "mint"])


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.lists(_word, min_size=2, max_size=4).map(lambda w: " ".join(w)),
        min_size=2,
        max_size=20,
    )
)
def test_entity_match_matches_python_replica(spark, names):
    """q_entity_match vs an independent sorted-neighborhood replica:
    within each first-two-words block, sort by (name, key); each record
    pairs with its next w=8 sort neighbors; pairs at DP edit distance
    <= 8 survive (validates Spark's bounded levenshtein returns the true
    distance at/below threshold). Nothing cross-block or beyond the
    window may leak in."""
    d = tempfile.mkdtemp(prefix="er_prop_")
    try:
        spark.createDataFrame(
            [(i, n, i % 50, 10.0 + i, "STANDARD") for i, n in enumerate(names)],
            "p_partkey BIGINT, p_name STRING, p_size INT,"
            " p_retailprice DOUBLE, p_container STRING",
        ).write.parquet(f"{d}/part.parquet")
        got = {
            (r.key_a, r.key_b): r.dist
            for r in REGISTRY["q_entity_match"].fn(spark, d).collect()
        }
        blocks: dict[str, list] = {}
        for i, n in enumerate(names):
            blocks.setdefault(" ".join(n.split(" ")[:2]), []).append((n, i))
        want = {}
        for members in blocks.values():
            members.sort()  # (name, key) — the oracle's rank order
            for x in range(len(members)):
                for y in range(x + 1, min(x + 9, len(members))):
                    a_name, a_key = members[x]
                    b_name, b_key = members[y]
                    dist = _lev(a_name, b_name)
                    if dist <= 8:
                        want[(a_key, b_key)] = dist
        assert got == want, (got, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_lift_gain ------------------------------------------------------------


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
                min_size=1,
                max_size=6,
            ).map(lambda t: " ".join(t)),
            st.sampled_from(["en", "de"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_lift_gain_matches_python_replica(spark, docs):
    """q_lift_gain vs an independent margin + exact-rank decile replica:
    margins from the pure-Python token-hash mirror and the shared _QC_W
    weights, decile = (count strictly above * 10) // n_total so tied
    scores share a decile, per-decile lift in exact milli-x. The tiny
    vocabulary forces heavy score ties — the case naive percent_rank
    bucketing gets wrong."""
    import hashlib

    from crypto_trading_data_pipeline_spark.operators import dedup_hash as dh
    from crypto_trading_data_pipeline_spark.queries.llmdata import (
        _FEAT_BUCKETS,
        _QC_BIAS,
        _QC_W,
    )

    def tok_hash(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dh.MINHASH_P

    d = tempfile.mkdtemp(prefix="lift_prop_")
    try:
        spark.createDataFrame(
            [(i, t, lang, "web", len(t)) for i, (t, lang) in enumerate(docs)],
            "doc_id BIGINT, text STRING, lang STRING, source STRING,"
            " n_chars BIGINT",
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            r.decile: (r.n_rows, r.n_pos, r.pos_rate_ppm, r.lift_milli)
            for r in REGISTRY["q_lift_gain"].fn(spark, d).collect()
        }

        scored = []
        for t, lang in docs:
            toks = t.split(" ")
            m = sum(_QC_W[tok_hash(tok) % _FEAT_BUCKETS] for tok in toks)
            scored.append((m + _QC_BIAS * len(toks), 1 if lang == "en" else 0))
        n_tot, p_tot = len(scored), sum(p for _, p in scored)
        if p_tot == 0:
            # Lift is undefined with no positives: BOTH engines emit the
            # empty frame (hypothesis found the unguarded version threw
            # ArithmeticException on an all-negative corpus).
            assert got == {}, got
            return
        per_score: dict[int, list[int]] = {}
        for s, p in scored:
            g = per_score.setdefault(s, [0, 0])
            g[0] += 1
            g[1] += p
        want: dict[int, list[int]] = {}
        for s, (n, p) in per_score.items():
            above = sum(nn for ss, (nn, _) in per_score.items() if ss > s)
            dec = min(above * 10 // n_tot, 9)
            g = want.setdefault(dec, [0, 0])
            g[0] += n
            g[1] += p
        want_rows = {
            dec: (
                n,
                p,
                p * 1000000 // n,
                p * n_tot * 1000 // (n * p_tot),
            )
            for dec, (n, p) in want.items()
        }
        assert got == want_rows, (got, want_rows)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- q_ann_ivf_trained ------------------------------------------------------


def test_ann_ivf_trained_search_invariants(spark):
    """Search-layer invariants over the trained index on the sf0.001
    fixture: every neighbor shares the query's TRAINED cluster, d2 is the
    exact integer squared L2 of the microunit-quantized vectors
    (recomputed independently), ranks are 1..k dense and ordered by
    (d2, neighbor_id). The trainer itself is covered by its own
    monotonicity/determinism tests; this pins the composition."""
    from pyspark.sql import functions as F

    from crypto_trading_data_pipeline_spark.operators.cluster import kmeans_train
    from crypto_trading_data_pipeline_spark.operators.similarity import (
        as_double_vec,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = {
        (r.query_id, r.rnk): (r.neighbor_id, r.d2)
        for r in REGISTRY["q_ann_ivf_trained"].fn(spark, sf_dir).collect()
    }
    assert out, "trained search returned nothing"

    from crypto_trading_data_pipeline_spark.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    assigned, _c, _s = kmeans_train(emb)
    rows = {r.vec_id: (list(r.v), r.cluster) for r in assigned.collect()}
    for (qid, rnk), (nid, d2) in out.items():
        qv, qc = rows[qid]
        nv, nc = rows[nid]
        assert nc == qc, (qid, nid)
        assert d2 == sum((a - b) * (a - b) for a, b in zip(qv, nv))
    for qid in {q for q, _ in out}:
        ranks = sorted(r for q, r in out if q == qid)
        assert ranks == list(range(1, len(ranks) + 1))
        seq = [out[(qid, r)] for r in ranks]
        assert seq == sorted(seq, key=lambda nd: (nd[1], nd[0]))


def test_ann_recall_trained_invariants(spark):
    """q_ann_recall_trained on the sf0.001 fixture: one row per probe
    query, n_exact == 3 (corpus far exceeds k+1), 0 <= n_hit <= n_exact,
    and recall_ppm is exactly the integer-ppm division of the two — the
    audit maths, independent of what the trained index actually recalls
    (that value is data; the oracle hash pins it)."""
    sf_dir = "/root/testdata/sf0.001"
    rows = REGISTRY["q_ann_recall_trained"].fn(spark, sf_dir).collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        assert r.n_exact == 3
        assert 0 <= r.n_hit <= r.n_exact
        assert r.recall_ppm == r.n_hit * 1000000 // r.n_exact


def test_ivf_hier_assignment_invariants(spark):
    """_ivf_assign_hier (the SemDeDup quantizer) on the sf0.001
    fixture: every vector is assigned exactly once and every assigned
    cent_id is a fine centroid (vec_id % 50 == 0). Since r9 the coarse
    level is the BALANCED sqrt subset (stride = floor(sqrt(k2)), here
    k2 = 10 => stride = 3, coarse = {0, 150, 300, 450}), so the
    hierarchy no longer degenerates to the single-level _ivf_assign on
    fixtures; the exact assignment — fixture-scale AND stride > 1 at
    N = 13,000 — is pinned bit-for-bit by the numpy replicas in
    test_properties_r9.py."""
    from pyspark.sql import functions as F

    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.operators.similarity import (
        as_double_vec,
        l2_norm,
    )
    from crypto_trading_data_pipeline_spark.queries.dedup_advanced import (
        _ivf_assign,
        _ivf_assign_hier,
    )

    sf_dir = "/root/testdata/sf0.001"
    n = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    hier = {
        r.vec_id: r.cent_id
        for r in _ivf_assign_hier(n).select("vec_id", "cent_id").collect()
    }
    flat = {
        r.vec_id: r.cent_id
        for r in _ivf_assign(n).select("vec_id", "cent_id").collect()
    }
    n_vecs = n.count()
    assert len(hier) == n_vecs  # every vector assigned exactly once
    assert all(c % 50 == 0 for c in hier.values())
    # Both levels assign the same vector universe, and a vector whose
    # flat-nearest fine centroid IS coarse (its own cell's anchor) must
    # get the identical assignment from the hierarchy: routing sends it
    # to that centroid's cell (it is the rounded-cosine argmax over a
    # SUBSET containing it), where the fine rank re-selects it.
    assert set(hier) == set(flat)
    coarse_ids = {c for c in flat.values() if c % 150 == 0}  # stride 3
    for vid, c in flat.items():
        if c in coarse_ids and hier[vid] != c:
            # allowed only if a rounded-cosine tie rerouted the vector;
            # on the real-valued fixture this must not happen
            raise AssertionError(f"vec {vid}: flat {c} but hier {hier[vid]}")
