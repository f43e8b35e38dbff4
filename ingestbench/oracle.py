"""Independent LWW oracle: DuckDB folds the applied change log and the
engine's visible table is compared to it by row count and an
order-independent row hash."""

from __future__ import annotations

import duckdb
import pyarrow as pa

# one hash per row over the visible columns; ts as epoch micros so a naive
# log timestamp and the engine's UTC timestamp hash alike
_ROW_HASH = (
    "hash(conv_id, turn_idx::BIGINT, role, text, tool, epoch_us(ts))"
)


def _digest(con: duckdb.DuckDBPyConnection, sql_from: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({_ROW_HASH}), 0)::VARCHAR FROM {sql_from}"
    ).fetchone()
    return int(n), int(h)


def expected_digest(log: pa.Table) -> tuple[int, int]:
    """(rows, hash) of the final state: per (conv_id, turn_idx) the highest
    lsn wins, and a winning delete removes the key."""
    con = duckdb.connect()
    con.register("log", log)
    return _digest(
        con,
        """(SELECT * FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
               FROM log) WHERE rn = 1 AND op <> 'D')""",
    )


def table_digest(table: pa.Table) -> tuple[int, int]:
    con = duckdb.connect()
    con.register("t", table)
    return _digest(con, "t")


def check(log: pa.Table, table: pa.Table) -> dict:
    """Compare the engine's visible table against the fold of ``log``."""
    want, got = expected_digest(log), table_digest(table)
    return {
        "ok": want == got,
        "rows_expected": want[0],
        "rows_actual": got[0],
        "hash_match": want[1] == got[1],
    }
