"""Mimic the driver's correctness gate: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet, compare row count,
column names, and order-insensitive values.

Runs at sf0.001 for speed (the driver uses sf0.01; a separate slow-marked
test covers that).
"""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.util import cache_is_empty

SF_DIR = os.environ.get("RDL_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype.kind == "M":
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            mism = [
                (x, y)
                for x, y in zip(a[c], b[c])
                if not (
                    (math.isnan(x) and math.isnan(y))
                    or x == y
                )
            ]
            assert not mism, f"{name}.{c}: {len(mism)} value mismatches, e.g. {mism[:3]}"
        else:
            mism = (a[c].astype(str) != b[c].astype(str))
            assert not mism.any(), (
                f"{name}.{c}: {int(mism.sum())} mismatches, e.g. "
                f"{list(zip(a[c][mism][:3], b[c][mism][:3]))}"
            )


ALL = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    sqls = entry_mod.oracle_sql()
    if name not in sqls:
        df = q(spark, SF_DIR)
        assert df.count() >= 0  # rows-only check, like the driver
    else:
        spark_pdf = q(spark, SF_DIR).toPandas()
        oracle_pdf = _duck(sqls[name])
        _compare(spark_pdf, oracle_pdf, name)
    # a long-lived session runs many entries: none may leave a cache behind
    assert cache_is_empty(spark), f"{name} left cached DataFrames"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0
