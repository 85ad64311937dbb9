"""The correctness gate, run locally: every registered query's Spark
result must match its DuckDB oracle — row count, schema (column names),
and order-insensitive values — replicating the driver's t2 harness.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from ml_training_data_pipeline_spark.plans import registry
from tests.conftest import SF_DIR

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
SQL_CHECKED = sorted(set(QUERIES) & set(ORACLES))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize values, sort rows — the
    order-insensitive compare."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        # duckdb may return decimal/int distinctions; unify ints
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    # dtype parity: the driver's schema check may be strict about widths
    for c in sorted(spark_pdf.columns):
        sk = spark_pdf[c].dtype
        ok = oracle_pdf[c].dtype
        if len(spark_pdf) and (sk != ok):
            raise AssertionError(f"{name}.{c}: dtype {sk} (spark) vs {ok} (oracle)")
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            av, bv = a[c].astype(float).to_numpy(), b[c].astype(float).to_numpy()
            for i, (x, y) in enumerate(zip(av, bv)):
                ok = (math.isnan(x) and math.isnan(y)) or x == y or abs(x - y) < 1e-9
                assert ok, f"{name}.{c}[{i}]: {x!r} != {y!r}"
        else:
            mismatch = a[c].astype(object).fillna("\0NULL") != b[c].astype(object).fillna("\0NULL")
            assert not mismatch.any(), (
                f"{name}.{c}: {int(mismatch.sum())} mismatches, first at idx "
                f"{mismatch.idxmax()}: {a[c][mismatch].iloc[0]!r} != {b[c][mismatch].iloc[0]!r}"
            )


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(name, spark, duck):
    spark_df = QUERIES[name](spark, SF_DIR)
    spark_pdf = spark_df.toPandas()
    con = duck(SF_DIR)
    oracle_pdf = con.execute(ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_all_queries_have_callables():
    assert QUERIES, "no queries registered"
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema is not None
    assert len(rows) >= 0


def test_registry_priority_is_exhaustive():
    """The driver checks the first 50 names of queries(), whose order is
    PRIORITY — and _load_all has a silent safety net that appends any
    registered name PRIORITY forgot. A typo would therefore not fail
    anything; it would quietly demote a query past the 50-cut. Pin exact
    set equality, no duplicates, and the driver's iteration order."""
    pri = list(registry.PRIORITY)
    assert len(pri) == len(set(pri)), "duplicate name in PRIORITY"
    missing = set(registry.QUERIES) - set(pri)
    stale = set(pri) - set(registry.QUERIES)
    assert not missing, f"registered but absent from PRIORITY: {sorted(missing)}"
    assert not stale, f"in PRIORITY but not registered: {sorted(stale)}"
    assert set(registry.ORACLE_SQL) <= set(registry.QUERIES)
    # the driver consumes dict order: iteration order IS the PRIORITY order
    assert list(registry.QUERIES) == pri
