"""Text-analysis operators: tokenization stats, fingerprints, quality signals.

Everything is built-in string/array functions (JVM-side, whole-stage codegen).
No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_stats_cols(text: Column) -> list[Column]:
    """Standard per-document token statistics (aliased for oracle parity)."""
    toks = tokens(text)
    n = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    return [
        n.alias("n_tokens"),
        n_types.alias("n_types"),
        # Unrounded on purpose: int/int division of identical integers is
        # bit-identical across engines, while ROUND of a dyadic rational
        # (e.g. 5/32 = 0.15625) lands exactly on a rounding boundary where
        # engines' modes (half-up vs half-even) disagree.
        (n_types.cast("double") / n).alias("ttr"),
        F.length(text).alias("n_chars_measured"),
    ]
