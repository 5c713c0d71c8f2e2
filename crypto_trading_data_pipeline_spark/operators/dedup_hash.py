"""Portable hashing primitives for near-dup detection (MinHash/LSH, SimHash,
n-gram Jaccard).

The driver's correctness gate compares Spark against DuckDB, so every hash
must be computable IDENTICALLY in both engines. Neither engine's native
hash() matches the other, so we build one from primitives both share:

    token_hash(t) = CAST(first 15 hex chars of md5(t) AS int) mod P,
    P = 2^31 - 1 (Mersenne prime)

15 hex chars = 60 bits < 63, so the parse fits a signed int64 in both
engines; reducing mod P keeps products a*h below 2^62 — no overflow in the
universal-hash family h_i(x) = (a_i*x + b_i) mod P used for MinHash
permutations.

Scale notes: all of this is per-row expression work (whole-stage codegen,
zero shuffles). MinHash+LSH turns O(n^2) near-dup search into
O(n * bands) + a self-join on (band_id, band_hash) buckets — the join key
is a 128-bit digest, so bucket skew only appears if the corpus truly
contains thousands of copies of one document (then: salt the band key).

The same constants generate two text families from one source of truth:
Spark-SQL text (sparksql_*) for the engine and DuckDB SQL (sql_*) for the
oracles. ``token_hash`` is the one Column primitive, kept for the
``F.transform`` lambdas that hash tokens inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for the universal-hash family (Mersenne prime 2^31-1).
MINHASH_P = 2_147_483_647

#: 16 fixed (a, b) pairs — a odd, both < P. Hardcoded so signatures are
#: stable across releases (a signature store is only useful if stable).
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_203_114_875, 613_258_943),
    (954_271_733, 1_726_554_089),
    (642_938_111, 271_828_183),
    (1_856_430_029, 314_159_261),
    (777_767_777, 1_414_213_561),
    (1_234_567_891, 987_654_323),
    (432_902_611, 1_097_393_921),
    (1_640_531_527, 97_531_863),
    (265_443_577, 1_839_256_361),
    (1_013_904_223, 75_312_417),
    (1_372_383_749, 440_817_757),
    (599_479_067, 1_919_810_113),
    (1_103_515_245, 12_345_679),
    (214_013_133, 2_531_011_01),
    (1_664_525_013, 1_013_904_243),
    (22_695_477, 1_342_177_279),
]

#: LSH banding: 16 rows -> 4 bands of 4. With Jaccard similarity s, the
#: candidate probability is 1-(1-s^4)^4 (~0.5 at s≈0.55).
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 4

#: SimHash width (bits of the token hash used).
SIMHASH_BITS = 32


# ---------------------------------------------------------------------------
# Column primitive (hashes tokens inside F.transform lambdas)
# ---------------------------------------------------------------------------


def token_hash(c: Column) -> Column:
    """Portable 31-bit hash of a string column (see module docstring)."""
    h60 = F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    return h60 % MINHASH_P


# ---------------------------------------------------------------------------
# Spark-SQL text. Building the MinHash/LSH expression forest as Column
# objects costs hundreds of ~2 ms py4j round trips PER QUERY CONSTRUCTION
# (profiled in OPTIMIZATION_r14.md); the SQL text is parsed JVM-side in a
# handful of selectExpr calls. Each generator mirrors its DuckDB twin below
# expression by expression — keep the two families in lockstep
# (tests/test_properties.py checks both against a pure-Python mirror).
# ---------------------------------------------------------------------------


def sparksql_word_shingles(k: int = 3) -> str:
    """Distinct k-token shingles (word k-grams) of the whitespace-tokenized
    column ``text``; an empty array when the text has fewer than k tokens.
    Element indices are 1-based, as in DuckDB."""
    toks = "split(text, ' ')"
    parts = ", ".join(f"element_at({toks}, i + {j})" for j in range(k))
    return (
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"array_distinct(transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def sparksql_minhash_signature() -> list[str]:
    """16 MinHash values (one per permutation, aliased m0..m15); NULL for
    empty shingle sets.

    They read the column ``hs``, which must be a MATERIALIZED column of
    token hashes: reading the hash expression itself would duplicate the
    md5 work into all 16 permutation expressions — a 16x slowdown measured
    at sf0.1.

    Alternative considered and rejected: folding all 16 minima in one
    array traversal (16-wide accumulator via aggregate + zip_with/least).
    Measured SLOWER than 16 independent array_min passes on the full
    query (1.07 s vs 0.87 s warm at sf0.1) — the per-element accumulator
    array allocation outweighs the saved traversals, and the independent
    passes stay simple codegen loops.
    """
    return [
        f"array_min(transform(hs, h -> (({a} * h + {b}) % {MINHASH_P}))) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]


def sparksql_token_hash_list(toks_expr: str) -> str:
    """Spark-SQL text of ``token_hash`` over each element of a token-array
    expression."""
    return (
        f"transform({toks_expr}, t -> "
        f"(CAST(conv(substring(md5(CAST(t AS binary)), 1, 15), 16, 10) "
        f"AS bigint) % {MINHASH_P}))"
    )


def sparksql_simhash() -> str:
    """SimHash over the materialized hash-array column ``hs``: bit j of the
    result is the majority vote of bit j across all token hashes (ties -> 0).
    Row-local, no shuffle; like the MinHash signature, it needs the hash
    array as a real column or md5 is recomputed per bit."""
    terms = " + ".join(
        f"(CASE WHEN size(filter(hs, h -> (h & {1 << j}) != 0)) * 2 "
        f"> size(hs) THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"(CAST(0 AS bigint) + {terms})"


def sparksql_band_hashes() -> list[str]:
    """LSH band digests (un-aliased) over the 16 signature columns m0..m15
    of sparksql_minhash_signature."""
    out = []
    for band in range(LSH_BANDS):
        first = band * LSH_ROWS_PER_BAND
        cat = ", ".join(
            f"CAST(m{i} AS string)" for i in range(first, first + LSH_ROWS_PER_BAND)
        )
        out.append(f"md5(CAST(concat_ws(',', {cat}) AS binary))")
    return out


# ---------------------------------------------------------------------------
# DuckDB SQL for the oracles (same constants — keep in lockstep with above)
# ---------------------------------------------------------------------------


def sql_token_hash(expr: str) -> str:
    return f"(CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT) % {MINHASH_P})"


def sql_word_shingles(k: int = 3) -> str:
    toks = "string_split(text, ' ')"
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 2}), i -> {parts})) "
        f"ELSE [] END"
    )


def sql_minhash_values() -> list[str]:
    """MinHash values over the shingle-list column ``sh``."""
    th = sql_token_hash("s")
    return [
        f"list_aggregate(list_transform(sh, s -> ({a} * {th} + {b}) % {MINHASH_P}), 'min')"
        for a, b in MINHASH_PERMS
    ]


def sql_band_hash(sig_exprs: list[str]) -> list[str]:
    out = []
    for band in range(LSH_BANDS):
        cols = sig_exprs[band * LSH_ROWS_PER_BAND : (band + 1) * LSH_ROWS_PER_BAND]
        concat = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        out.append(f"md5(concat_ws(',', {concat}))")
    return out


def sql_token_hash_list() -> str:
    """List of the token hashes of the whitespace-split column ``text`` —
    bind to a CTE column ``hs``, then feed sql_simhash_sum."""
    th = sql_token_hash("t")
    return f"list_transform(string_split(text, ' '), t -> {th})"


def sql_simhash_sum() -> str:
    """Majority-vote bit sum over the precomputed hash-list column ``hs``."""
    terms = []
    for j in range(SIMHASH_BITS):
        ones = f"len(list_filter(hs, h -> (h & {1 << j}) != 0))"
        terms.append(f"(CASE WHEN {ones} * 2 > len(hs) THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)
