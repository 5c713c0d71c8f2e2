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

import ast
import hashlib
import json
import sys
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from pathlib import Path

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
# the window is COMPUTED at import time from the committed
# CORRECTNESS_r*.json evidence and ORACLE_FPS.json — no hand-kept name
# lists (the r3..r5 frozen lists left six queries unchecked for two rounds;
# the hand-appended re-check list missed q_containment in r14):
#
#   1. queries whose registered oracle has NEVER been hash-run (rows-only
#      history + an oracle now registered) — they were registered in an
#      EARLIER round and have already waited ≥1 full round for their hash
#      row, so they outrank brand-new entries (the r6→r7 q_kmeans_ivf case:
#      with upgraded ranked after never-checked, any round that registers
#      ≥50 new queries starves an upgraded oracle forever),
#   2. queries whose oracle text OR Spark code changed since their last
#      driver row (_changed_since_checked: the live fingerprints differ from
#      the ones ORACLE_FPS.json records for that row, or it records none) —
#      green evidence against old code or oracle text proves nothing about
#      the rewrite,
#   3. rows-only/twin pairs whose rows-only evidence is >= _ROWS_ONLY_CADENCE
#      rounds old (the pair re-greens together — see _ROWS_ONLY_TWINS),
#   4. queries with no driver row in ANY round (anything newly registered
#      this round),
#   5. padded to 50 with the stalest-checked queries (ascending last-checked
#      round, registry order as tiebreak).
#
# An edit re-enters the window by itself: the code fingerprint covers the
# query function and every same-module name it reaches, so a rewritten
# helper brings back each caller, while docstring, comment and layout edits
# change nothing. Every query keeps the identical DuckDB-oracle check in
# tests/test_oracle_parity.py; tests/test_properties.py asserts the tier
# INVARIANT, not a name list.
# ---------------------------------------------------------------------------
_WINDOW_SIZE = 50
_REPO_ROOT = Path(__file__).resolve().parents[2]

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
    latest: dict[str, int] = {}
    hash_checked: set[str] = set()
    for f in sorted(_REPO_ROOT.glob("CORRECTNESS_r*.json")):
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


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _strip_inert(node: ast.AST) -> None:
    """Drop a definition's docstring and its @query decorator."""
    if not isinstance(node, _DEFS):
        return
    first = node.body[0] if node.body else None
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        node.body = node.body[1:]
    node.decorator_list = [
        d
        for d in node.decorator_list
        if not (isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query")
    ]


def _bound_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def code_fingerprints(source: str, names: list[str]) -> dict[str, str]:
    """{name: md5} for each named top-level function of a module's source.

    The digest covers the function and every module-level name it
    references, followed transitively, hashed in name order without line
    numbers — so moving a helper leaves it unchanged, while editing a
    helper changes the digest of each caller. Docstrings and the @query
    decorator (the oracle text has its own fingerprint) are left out.
    Names imported from other modules are not followed: a shared operator
    sits in nearly every closure and would flag the whole registry."""
    tree = ast.parse(source)
    defs: dict[str, list[ast.stmt]] = {}
    for stmt in tree.body:
        for n in _bound_names(stmt):
            defs.setdefault(n, []).append(stmt)
    memo: dict[str, tuple[str, set[str]]] = {}

    def member(n: str) -> tuple[str, set[str]]:
        if n not in memo:
            refs = set()
            for stmt in defs[n]:
                _strip_inert(stmt)  # before the walk queues what it drops
                for x in ast.walk(stmt):
                    if isinstance(x, ast.Name):
                        refs.add(x.id)
                    elif x is not stmt:
                        _strip_inert(x)
            memo[n] = ("".join(ast.dump(stmt) for stmt in defs[n]), refs & defs.keys())
        return memo[n]

    out: dict[str, str] = {}
    for name in names:
        if name not in defs:
            continue
        closure, todo = set(), [name]
        while todo:
            n = todo.pop()
            if n not in closure:
                closure.add(n)
                todo.extend(member(n)[1])
        h = hashlib.md5()
        for n in sorted(closure):
            h.update(member(n)[0].encode())
        out[name] = h.hexdigest()
    return out


def _fingerprints() -> dict[str, dict[str, str | None]]:
    """{name: {"code": …, "oracle": …}} for the live registry, in the
    ORACLE_FPS.json entry format (oracle None for rows-only queries)."""
    by_module: dict[str, list[str]] = {}
    for n, s in REGISTRY.items():
        by_module.setdefault(s.fn.__module__, []).append(n)
    out: dict[str, dict[str, str | None]] = {}
    for mod, names in by_module.items():
        code = code_fingerprints(Path(sys.modules[mod].__file__).read_text(), names)
        for n in names:
            oracle = REGISTRY[n].oracle
            out[n] = {
                "code": code.get(n),
                "oracle": oracle and hashlib.md5(oracle.encode()).hexdigest(),
            }
    return out


def changed_since_checked(
    recorded: dict[str, dict], current: dict[str, dict], checked: Iterable[str]
) -> set[str]:
    """The ``checked`` names (queries with a driver row) whose current
    fingerprint differs from the one recorded for that row. A missing
    entry counts as changed: evidence that cannot be tied to the code and
    oracle it proved is stale."""
    return {n for n in checked if n in current and recorded.get(n) != current[n]}


def _changed_since_checked(checked: Iterable[str]) -> set[str]:
    """Queries whose oracle text or Spark code changed since their last
    driver row, against ORACLE_FPS.json (rebuilt from git history by
    scripts/refresh_oracle_fps.py). A green row proven against an old
    oracle or old code says nothing about the rewrite — the r8 case:
    q_silhouette's d2 quantization changed both engines' outputs after its
    r7 row landed. An absent or unreadable file fails closed: every
    checked query counts as changed."""
    try:
        recorded = json.loads((_REPO_ROOT / "ORACLE_FPS.json").read_text())
    except (OSError, json.JSONDecodeError):
        recorded = {}
    return changed_since_checked(recorded, _fingerprints(), checked)


def _compute_window() -> list[str]:
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
    # Oracle text or Spark code changed since its last driver check: as
    # unproven as an upgrade, for the same reason.
    changed = sorted(_changed_since_checked(latest) - set(upgraded), key=lambda n: order[n])
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
    head = upgraded + changed
    head += [n for n in aged_pairs if n not in head]
    # A never-checked twin of an aged rows-only pair lands in BOTH head
    # (via aged_pairs) and never; dedupe so the 50-slot window never
    # carries one name twice (r12 ADVICE — the duplicate would silently
    # waste a slot after the [:_WINDOW_SIZE] truncation).
    never = [n for n in never if n not in head]
    rest = sorted(
        (n for n in REGISTRY if n in latest and n not in head),
        key=lambda n: (latest[n], order[n]),
    )
    return (head + never + rest)[:_WINDOW_SIZE]


def _rotate_window() -> None:
    """Move the ``_DRIVER_WINDOW`` queries to the head of ``REGISTRY``."""
    head = [n for n in _DRIVER_WINDOW if n in REGISTRY]
    ordered = {n: REGISTRY[n] for n in head}
    ordered.update({n: s for n, s in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)


_DRIVER_WINDOW = _compute_window()
_rotate_window()
