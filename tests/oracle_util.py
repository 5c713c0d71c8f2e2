"""Replicates the driver's DuckDB-oracle comparison locally so every
registered query is exercised the same way CORRECTNESS_r{N}.json will be:
row count + column names + order-insensitive value equality.

We are STRICTER than a hash check where possible: exact equality after
canonicalization; floats must match to 1e-12 relative (queries are designed
to be exactly equal via ROUND — any drift is a red flag, reported loudly).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from crypto_trading_data_pipeline_spark.io import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    key = df.apply(lambda r: tuple(str(x) for x in r), axis=1)
    return df.iloc[key.argsort(kind="mergesort").values].reset_index(drop=True)


def compare_query(spark, sf_dir: str, name: str, fn, oracle: str) -> None:
    got = _canon(fn(spark, sf_dir).toPandas())
    con = duck_connection(sf_dir)
    want = _canon(con.execute(oracle).fetchdf())
    con.close()

    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch spark={list(got.columns)} duck={list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} duck={len(want)}"

    for c in got.columns:
        g, w = got[c], want[c]
        # The driver compares astype(str): an int64-vs-float64 dtype split
        # renders 25 vs 25.0 and hash-mismatches even though values are
        # numerically equal (e.g. DuckDB SUM(BIGINT) -> HUGEINT -> float64).
        if pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w):
            raise AssertionError(
                f"{name}.{c}: dtype split spark={g.dtype} duck={w.dtype} — "
                "driver's astype(str) compare will mismatch; CAST the oracle"
            )
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            for i, (a, b) in enumerate(zip(g.astype(float), w.astype(float))):
                both_nan = (isinstance(a, float) and math.isnan(a)) and (
                    isinstance(b, float) and math.isnan(b)
                )
                if both_nan:
                    continue
                assert a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12), (
                    f"{name}.{c}[{i}]: spark={a!r} duck={b!r}"
                )
                if a != b:
                    # hash-check would fail on this — surface it hard
                    raise AssertionError(
                        f"{name}.{c}[{i}]: not bit-identical (spark={a!r} duck={b!r}); "
                        "add ROUND on both sides"
                    )
        else:
            eq = (g == w) | (g.isna() & w.isna())
            if not bool(eq.all()):
                idx = int((~eq).idxmax())
                raise AssertionError(
                    f"{name}.{c}[{idx}]: spark={g.iloc[idx]!r} duck={w.iloc[idx]!r}"
                )

