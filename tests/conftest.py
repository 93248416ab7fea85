"""Shared fixtures: one local SparkSession per test session, a DuckDB
connection with the testdata tables registered as views, and an
oracle-differential comparator that mimics the driver's check
(row count + schema + order-insensitive value hash)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from apache_spark_irs_form_990_spark.session import get_session  # noqa: E402
from apache_spark_irs_form_990_spark.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def smoke_frames(spark):
    """Every registered query built once at the smoke scale factor, as
    ``{name: DataFrame}`` in name order; a query whose build raised maps
    to that exception. The registry-wide plan lints (test_plan_lint,
    test_bucket_join_lint) each walk every query's optimized plan, and
    many queries do eager work when built (table writes, checkpoints,
    streams), so the registry is built once for both lints."""
    from apache_spark_irs_form_990_spark import registry

    frames: dict = {}
    for name, fn in sorted(registry.queries().items()):
        try:
            df = fn(spark, SMOKE_SF_DIR)
            df._jdf.queryExecution().optimizedPlan()
            frames[name] = df
        except Exception as e:  # noqa: BLE001 — each lint reports it
            frames[name] = e
    return frames


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for order-insensitive comparison: columns sorted by
    name, all values stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else f"{v:.6f}")
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def assert_matches_oracle(spark_df, duck_con, sql: str) -> None:
    actual = canonicalize(spark_df.toPandas())
    expected = canonicalize(duck_con.execute(sql).fetchdf())
    assert list(actual.columns) == list(expected.columns), (
        f"schema mismatch: spark={list(actual.columns)} duckdb={list(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"row count mismatch: spark={len(actual)} duckdb={len(expected)}"
    )
    if not actual.equals(expected):
        merged = actual.merge(expected, how="outer", indicator=True)
        diff = merged[merged["_merge"] != "both"]
        raise AssertionError(f"value mismatch; first diffs:\n{diff.head(10)}")
