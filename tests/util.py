"""Shared test helpers: fixture writing + the independent DuckDB oracle.

The oracle replays the change log with plain SQL (window + filter), which is
the porting contract from the reference's integration tests: "final
destination table equals expected rows" (SURVEY.md §5).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def cache_is_empty(session) -> bool:
    """No DataFrame of the session's shared state is cached."""
    return session._jsparkSession.sharedState().cacheManager().isEmpty()


def write_log(tbl: pa.Table, path: str, n_files: int = 4, lsn_upto: int | None = None,
              lsn_from: int | None = None) -> None:
    """Write (a slice of) a change-log table as lsn-ordered parquet files."""
    import pyarrow.compute as pc

    if lsn_upto is not None:
        tbl = tbl.filter(pc.less_equal(tbl["lsn"], lsn_upto))
    if lsn_from is not None:
        tbl = tbl.filter(pc.greater(tbl["lsn"], lsn_from))
    tbl = tbl.sort_by("lsn")
    os.makedirs(path, exist_ok=True)
    step = (tbl.num_rows + n_files - 1) // max(n_files, 1)
    for i in range(n_files):
        chunk = tbl.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"log-{lsn_from or 0:010d}-{i:05d}.parquet"))


def duck_final_state(log_glob: str, extra_cols: str = "") -> pd.DataFrame:
    """Independent replay oracle: LWW by lsn per PK, deletes drop the row."""
    q = f"""
    WITH ranked AS (
      SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM read_parquet('{log_glob}')
    )
    SELECT conv_id, turn_idx, role, text, tool, ts{extra_cols}
    FROM ranked WHERE rn = 1 AND op <> 'D'
    ORDER BY conv_id, turn_idx
    """
    return duckdb.sql(q).df()


def spark_sorted_pdf(df, cols=("conv_id", "turn_idx")) -> pd.DataFrame:
    return df.orderBy(*cols).toPandas()


def assert_tables_equal(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> None:
    assert list(spark_pdf.columns) == list(oracle_pdf.columns), (
        spark_pdf.columns, oracle_pdf.columns)
    assert len(spark_pdf) == len(oracle_pdf), (len(spark_pdf), len(oracle_pdf))
    sp = spark_pdf.reset_index(drop=True)
    op = oracle_pdf.reset_index(drop=True)
    for c in sp.columns:
        a, b = sp[c], op[c]
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            a = pd.to_datetime(a).dt.tz_localize(None)
            b = pd.to_datetime(b).dt.tz_localize(None)
        pd.testing.assert_series_equal(
            a, b, check_dtype=False, check_names=False, obj=f"column {c}"
        )
