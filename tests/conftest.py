import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aquacache_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("aquacache-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def repo_root():
    from pathlib import Path

    return Path(__file__).resolve().parent.parent


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # pin the allocator envelope: with defaults (threads = all 32
    # cores, memory_limit derived at connect time) the battery
    # intermittently died with OutOfMemoryException on 16 KiB block
    # allocations in heavy CTE oracles despite >100 GB free — an
    # accounting/allocator race at high thread counts, not real
    # memory pressure (the same oracles pass standalone at 1.4 GB RSS)
    con.execute("SET threads = 8")
    con.execute("SET memory_limit = '24GB'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck001():
    return duck_con(SF_SMOKE)


@pytest.fixture(scope="session")
def duck01():
    return duck_con(SF_CORRECTNESS)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values (driver-style compare)."""
    import datetime

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            first = sample.iloc[0] if len(sample) else None
            if isinstance(first, (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _reject_nullable_bools(pdf: pd.DataFrame, name: str) -> None:
    """The driver's value-hash stringifies cells, and a NULL boolean
    stringifies differently per engine (Spark 'None' vs DuckDB 'nan'
    after astype(str)) — a silent hash mismatch. Convention: queries
    project out nullable booleans (coalesce to a non-null flag). This
    guard makes the convention enforced rather than remembered."""
    for c in pdf.columns:
        col = pdf[c]
        is_booly = pd.api.types.is_bool_dtype(col)  # numpy bool AND
        # pandas' nullable BooleanDtype both return True here — the
        # latter is exactly the class the guard exists to catch, so
        # decide on null-presence, never on dtype alone
        if not is_booly and col.dtype == object:
            sample = col.dropna()
            is_booly = len(sample) and isinstance(
                sample.iloc[0], (bool, np.bool_))
        if is_booly and col.isna().any():
            raise AssertionError(
                f"{name}: column {c!r} is a NULLABLE BOOLEAN — the "
                "driver hash-compare stringifies NULLs differently "
                "per engine; coalesce it to a non-null flag or "
                "project it out"
            )


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    _reject_nullable_bools(spark_pdf, name + " [spark]")
    _reject_nullable_bools(oracle_pdf, name + " [oracle]")
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    for c in a.columns:
        col_a, col_b = a[c], b[c]
        if pd.api.types.is_float_dtype(col_a) or pd.api.types.is_float_dtype(col_b):
            ca = pd.to_numeric(col_a, errors="coerce")
            cb = pd.to_numeric(col_b, errors="coerce")
            both_nan = ca.isna() & cb.isna()
            diff = (ca - cb).abs()
            bad = ~both_nan & ~(diff == 0)
            if bad.any():
                idx = bad[bad].index[:5]
                raise AssertionError(
                    f"{name}: column {c!r} differs at {int(bad.sum())} rows; "
                    f"examples spark={ca[idx].tolist()} oracle={cb[idx].tolist()} "
                    f"maxdiff={diff[~both_nan].max()}"
                )
        else:
            if not col_a.equals(col_b):
                neq = col_a != col_b
                idx = neq[neq].index[:5]
                raise AssertionError(
                    f"{name}: column {c!r} differs; examples "
                    f"spark={col_a[idx].tolist()} oracle={col_b[idx].tolist()}"
                )


def run_compare(spark, con, query_fn, sql: str, sf_dir: str, name: str = "") -> None:
    try:
        spark_pdf = query_fn(spark, sf_dir).toPandas()
        try:
            oracle_pdf = con.execute(sql).fetchdf()
        except duckdb.OutOfMemoryException:
            # transient allocator failure (see duck_con note): one
            # retry after the memory spike passes — a retry cannot
            # mask a correctness problem, the compare is still exact
            oracle_pdf = con.execute(sql).fetchdf()
    finally:
        # several operators persist() internal frames (LSH banding,
        # SemDeDup assignment, ...); across a 190-test session those
        # blocks accumulate in the shared JVM and eventually starve
        # SYSTEM memory — the symptom was DuckDB malloc failures in
        # later oracles, not Spark errors (bench.py clears per query
        # for the same reason)
        spark.catalog.clearCache()
    assert_frames_match(spark_pdf, oracle_pdf, name)
