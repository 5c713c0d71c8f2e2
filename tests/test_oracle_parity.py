"""Every registered query with an oracle must match DuckDB exactly —
the local twin of the driver's t2 correctness gate.

Every run checks the whole registry (about four minutes at sf0.001 on four
cores). The driver checks only its 50-slot window per round; the queries
whose oracle or code changed since their last driver row lead that window
(queries._changed_since_checked), and this sweep covers the rest, so no
query rides on evidence about code it no longer runs."""

from __future__ import annotations

import pytest

from crypto_trading_data_pipeline_spark.queries import REGISTRY

from .oracle_util import compare_query

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    spec = REGISTRY[name]
    compare_query(spark, sf_dir, name, spec.fn, spec.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    declared = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(declared)
    assert len(declared) >= 25
