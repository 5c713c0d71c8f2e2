"""Declared-query registry: name → (Spark callable, DuckDB oracle SQL).

This is the driver-facing inventory (SURVEY.md §2 "declared query" column).
Every operator the engine claims is registered here with

- a Spark implementation ``fn(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) an equivalent ANSI-SQL string DuckDB runs on the
  same parquet fixtures for the order-insensitive hash-match check.

Oracle-matching conventions (SURVEY.md §5):
- alias every computed column identically on both sides;
- deterministic aggregates only (min_by/max_by ↔ arg_min/arg_max; unique ts);
- ROUND any double aggregate whose summation order differs between engines;
  when a value can land EXACTLY on a decimal tie (round() tie-breaking is
  engine-specific — bit one sf0.1 row of q_feature_label_matrix), use the
  tie-proof form ``floor(x*scale + 0.5)/scale`` textually identically on
  both sides instead;
- timestamps emitted as TIMESTAMP_NTZ (session tz pinned UTC) ↔ DuckDB
  TIMESTAMP;
- integer widths matched (Spark int ↔ INTEGER, long ↔ BIGINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver does a rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Decorator registering a declared query."""

    def wrap(fn):
        # The decorated function must BE the query (same name, driver
        # signature). Catches the misplaced-decorator refactor bug at import
        # time instead of as a TypeError deep inside the driver run.
        if fn.__name__ != name:
            raise ValueError(
                f"@query({name!r}) applied to {fn.__name__!r} — decorator misplaced"
            )
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# Importing the domain modules populates REGISTRY (order = SURVEY §2 order).
from . import reference_surface  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import llmdata  # noqa: E402,F401
from . import dedup_advanced  # noqa: E402,F401
from . import finance  # noqa: E402,F401
from . import corpus_ops  # noqa: E402,F401
from . import ml  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver correctness-window rotation.
#
# The driver hash-checks only the FIRST 50 registry entries per round, so
# the window is COMPUTED from the committed CORRECTNESS_r*.json evidence at
# import time (no frozen name lists — the r3..r5 frozen-list approach left
# six queries unchecked for two rounds):
#
#   1. queries whose registered oracle has NEVER been hash-run (rows-only
#      history + an oracle now registered) — they were registered in an
#      EARLIER round and have already waited ≥1 full round for their hash
#      row, so they outrank brand-new entries (the r6→r7 q_kmeans_ivf case:
#      with upgraded ranked after never-checked, any round that registers
#      ≥50 new queries starves an upgraded oracle forever),
#   2. queries whose ORACLE TEXT changed since their last driver check
#      (_changed_oracles) or whose SPARK CODE was rewritten with the oracle
#      left untouched (_CODE_CHANGED_RECHECK) — green evidence against old
#      code/oracle text proves nothing about the rewrite,
#   3. rows-only/twin pairs whose rows-only evidence is >= _ROWS_ONLY_CADENCE
#      rounds old (the pair re-greens together — see _ROWS_ONLY_TWINS),
#   4. queries with no driver row in ANY round (anything newly registered
#      this round),
#   5. padded to 50 with the stalest-checked queries (ascending last-checked
#      round, registry order as tiebreak).
#
# Queries outside the window retain the identical DuckDB-oracle check in
# tests/test_oracle_parity.py.
# tests/test_properties.py::test_driver_window_holds_rotated_queries asserts
# the INVARIANT (never-checked first, then staleness order), not a name list.
# ---------------------------------------------------------------------------
_WINDOW_SIZE = 50

# Rows-only queries (oracle=None) carry the weakest driver evidence — no
# value hash, just a row count — so each one is DECLARED with an
# oracle-checked twin that proves the same machinery with hash evidence
# (SURVEY §2 X10). The pair re-enters the window TOGETHER once the
# rows-only member's evidence is >= _ROWS_ONLY_CADENCE rounds old (r11
# verdict #8: the twin must ride the same driver window as the rows-only
# query, not drift rounds apart — q_hll_portable rode with q_hll_union in
# r11; this makes the q_approx_distinct/q_count_distinct pair, and any
# future pair, do so by rule rather than by hand).
_ROWS_ONLY_TWINS = {
    "q_approx_distinct": "q_count_distinct",  # exact-distinct hash twin
    "q_hll_union": "q_hll_portable",  # portable integer-HLL hash twin
}
_ROWS_ONLY_CADENCE = 3

# Spark-side rewrites that leave the ORACLE text untouched carry no
# fingerprint signal (_changed_oracles keys on oracle text), but the
# query's existing driver evidence still references the OLD implementation.
# A session that rewrites a query's Spark code without touching its oracle
# appends (name, latest_evidence_round_at_change) here; the query then
# re-enters the window until a NEWER driver row lands (latest > recorded
# round), after which the entry is inert and can be dropped at the next
# cleanup. Complements tests/oracle_util.git_at_risk_queries, which
# re-checks the same set in pytest but cannot put them in front of the
# driver.
_CODE_CHANGED_RECHECK: tuple[tuple[str, int], ...] = (
    # r13 OPTIMIZATION round rewrites (oracle text untouched, Spark plans
    # reshaped — shared-signature LSH chain, CC convergence fold /
    # star-loop distinct removal, logreg one-action gradient,
    # parameterized repartitions; OPTIMIZATION_r13.md):
    ("q_minhash_est_jaccard", 10),
    ("q_lsh_pairs", 10),
    ("q_neardup_dedup", 10),
    ("q_neardup_threshold_sweep", 7),
    ("q_neardup_components", 10),
    ("q_neardup_components_star", 11),
    ("q_neardup_incremental", 12),
    ("q_simhash_pairs", 10),
    ("q_logreg_train", 8),
    ("q_pagerank", 11),
    ("q_label_propagation", 12),
    ("q_kcore", 12),
    ("q_bfs_reach", 12),
    ("q_mrr", 9),
    ("q_kneser_ney", 7),
    ("q_bigram_lm", 7),
    ("q_triangle_count", 11),
    # r13 joint pq_train trainer (bit-identical by test):
    ("q_pq_train", 12),
    ("q_ann_pq_trained", 12),
    # r13 one-literal rendering / trainer localCheckpoint / probe-support
    # edits — every remaining query whose function AST differs from its
    # latest-evidence commit (the tier-1 git_at_risk set on 6ff213e; the
    # r07-aged members already ride the staleness tier):
    ("q_ann_incremental", 12),
    ("q_ann_lsh", 12),
    ("q_cooccur_ppmi_pruned", 12),
    ("q_dup_span_stats", 12),
    ("q_kmeans_assign", 12),
    ("q_pca_power", 12),
    ("q_rolling_median", 12),
    ("q_silhouette", 12),
    # r14 OPTIMIZATION round rewrites (oracle text untouched; plans/values
    # verified identical at change time — OPTIMIZATION_r14.md):
    ("q_neardup_incremental", 13),
    ("q_bootstrap_ci", 13),
    # r14 SQL-text constructor rendering (identical plans, py4j chatter cut):
    ("q_lsh_pairs", 13),
    ("q_lsh_bucket_stats", 13),
    ("q_neardup_dedup", 13),
    ("q_neardup_threshold_sweep", 13),
    ("q_neardup_components", 13),
    ("q_neardup_components_star", 13),
    ("q_minhash_sig", 13),
    ("q_minhash_est_jaccard", 13),
    ("q_simhash", 13),
    ("q_simhash_pairs", 13),
    ("q_contamination", 13),
    ("q_containment", 13),
    ("q_ngram_jaccard", 13),
    # r14 split-once pair streams, PQ-encode SQL text, loop job fusion:
    ("q_cooccur_ppmi", 13),
    ("q_cooccur_ppmi_pruned", 13),
    ("q_bigram_lm", 13),
    ("q_kneser_ney", 13),
    ("q_ann_ivfpq", 13),
    ("q_ann_ivfpq_probe3", 13),
    ("q_ann_rerank", 13),
    ("q_ann_pq_trained", 13),
    ("q_logreg_train", 13),
    ("q_kcore", 13),
    ("q_mutual_info", 13),
)


def driver_annotations() -> dict[str, dict]:
    """Machine-readable markers for driver CORRECTNESS rows that would
    otherwise read as failures (r12 verdict #6): every deliberate
    rows-only query (oracle=None) is annotated with WHY and with its
    hash-matched twin. The committed CORRECTNESS_ANNOTATIONS.json mirrors
    this (tests/test_properties.py keeps the two in sync), so a reader of
    the raw ``"err": "no_oracle"`` row can join name → marker without
    source-diving."""
    out: dict[str, dict] = {}
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            out[name] = {
                "rows_only_by_design": True,
                "hash_matched_twin": _ROWS_ONLY_TWINS.get(name),
                "why": (
                    "sketch internals are engine-specific (no portable "
                    "value-hash); the twin proves the same machinery with "
                    "hash evidence and re-enters the driver window with "
                    "this query every "
                    f"{_ROWS_ONLY_CADENCE} rounds (_ROWS_ONLY_TWINS)"
                ),
            }
    return out


def _driver_check_rounds() -> tuple[dict[str, int], set[str]]:
    """(query name → latest round with a driver CORRECTNESS row,
    names whose evidence includes at least one real hash-match row).

    The second set distinguishes a query that has only ever been
    rows-only-checked (every row err == "no_oracle") from one with a
    genuine value-hash row: a query UPGRADED from rows-only to a SQL
    oracle is as unproven as a brand-new one and must re-enter the
    window (r6 case: q_kmeans_ivf gained a hash oracle after its r2
    rows-only row)."""
    import json
    from pathlib import Path

    latest: dict[str, int] = {}
    hash_checked: set[str] = set()
    repo_root = Path(__file__).resolve().parents[2]
    for f in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(f.stem.split("_r")[1])
            rows = json.loads(f.read_text())
        except (ValueError, IndexError, OSError, json.JSONDecodeError):
            continue
        for q, row in rows.items() if isinstance(rows, dict) else []:
            latest[q] = max(latest.get(q, 0), rnd)
            if isinstance(row, dict) and row.get("hash_match") is not None:
                hash_checked.add(q)
    return latest, hash_checked


def _changed_oracles() -> set[str]:
    """Queries whose ORACLE TEXT differs from the fingerprint recorded at
    the last driver check (ORACLE_FPS.json, refreshed at session start
    after the driver's round-end run). A green driver row proven against
    an OLD oracle says nothing about the rewritten one — the r8 case:
    q_silhouette's d2 quantization and q_semdedup's two-level quantizer
    changed both engines' outputs after their r7 rows landed. Absent or
    unreadable file => empty set (the signal is additive, never load-
    bearing)."""
    import hashlib
    import json
    from pathlib import Path

    f = Path(__file__).resolve().parents[2] / "ORACLE_FPS.json"
    try:
        fps = json.loads(f.read_text())
    except (OSError, json.JSONDecodeError):
        return set()
    return {
        n
        for n, s in REGISTRY.items()
        if s.oracle is not None
        and n in fps
        and hashlib.md5(s.oracle.encode()).hexdigest() != fps[n]
    }


def _compute_window(size: int = _WINDOW_SIZE) -> list[str]:
    latest, hash_checked = _driver_check_rounds()
    order = {n: i for i, n in enumerate(REGISTRY)}
    never = [n for n in REGISTRY if n not in latest]
    # Rows-only history + an oracle now registered => the hash check has
    # never run; prioritize like a new query.
    upgraded = [
        n
        for n in REGISTRY
        if n in latest and n not in hash_checked and REGISTRY[n].oracle is not None
    ]
    # Oracle text rewritten since its last driver check: as unproven as
    # an upgrade, for the same reason.
    changed = [
        n
        for n in _changed_oracles()
        if n in latest and n not in upgraded
    ]
    changed.sort(key=lambda n: order[n])
    # Aged rows-only pairs: rows-only evidence >= cadence rounds old =>
    # the pair (rows-only query + its hash twin) re-greens together.
    max_round = max(latest.values(), default=0)
    aged_pairs: list[str] = []
    for ro, twin in _ROWS_ONLY_TWINS.items():
        if (
            ro in REGISTRY
            and twin in REGISTRY
            and ro in latest
            and max_round - latest[ro] >= _ROWS_ONLY_CADENCE
        ):
            aged_pairs.extend(n for n in (ro, twin) if n not in aged_pairs)
    # Spark-side rewrite with an unchanged oracle: the committed evidence
    # predates the code it vouches for — re-check until a newer row lands.
    code_changed = [
        n
        for n, rnd in _CODE_CHANGED_RECHECK
        if n in REGISTRY
        and latest.get(n, 0) <= rnd
        and n not in upgraded
        and n not in changed
    ]
    head = upgraded + changed + code_changed
    head += [n for n in aged_pairs if n not in head]
    # A never-checked twin of an aged rows-only pair lands in BOTH head
    # (via aged_pairs) and never; dedupe so the 50-slot window never
    # carries one name twice (r12 ADVICE — the duplicate would silently
    # waste a slot after the [:size] truncation).
    never = [n for n in never if n not in head]
    rest = sorted(
        (n for n in REGISTRY if n in latest and n not in head),
        key=lambda n: (latest[n], order[n]),
    )
    return (head + never + rest)[:size]


def _rotate_window(priority: list[str]) -> None:
    head = [n for n in priority if n in REGISTRY]
    ordered = {n: REGISTRY[n] for n in head}
    ordered.update({n: s for n, s in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)


_DRIVER_WINDOW = _compute_window()
_rotate_window(_DRIVER_WINDOW)
