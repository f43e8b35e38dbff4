"""Seeded transcript change-log generator and segment writer.

Same shape as ``relational_data_loader_spark.benchlog.spark_change_log``
(the frozen bench's JVM-side generator, which has no seed): about 1% of
conv ids receive 30% of the events, the I/U/D mix is 42/50/8, and every
payload column is NULL on deletes. Here the draws come from a numpy
``Generator`` seeded from the command line, so one seed always yields the
same log, and the engine only ever sees the parquet segments written below.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "the quick brown fox jumps over lazy dog spark merge upsert delta "
    "conversation agent tool result stream batch shuffle partition skew "
    "watermark lsn epoch manifest snapshot commit replay resume".split()
)
ROLES = ("user", "assistant", "system", "tool")
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def change_log(seed: int, n_events: int, n_convs: int, n_turns: int = 40) -> pa.Table:
    """A transcript change log with lsn 1..n_events, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_hot = max(n_convs // 100, 1)
    hot = rng.random(n_events) < 0.30
    conv_n = np.where(
        hot, rng.integers(0, n_hot, n_events), rng.integers(0, n_convs, n_events)
    )
    conv_id = pc.binary_join_element_wise(
        "conv_", pc.utf8_lpad(pa.array(conv_n).cast(pa.string()), 8, "0"), ""
    )
    opsel = rng.integers(0, 100, n_events)
    op = np.where(opsel < 8, "D", np.where(opsel < 50, "I", "U"))
    is_d = pa.array(op == "D")

    lsn = np.arange(1, n_events + 1, dtype=np.int64)
    words = pa.array(WORDS)
    parts = [words.take(pa.array(rng.integers(0, len(WORDS), n_events))) for _ in range(6)]
    text = pc.binary_join_element_wise(*parts, pa.array(lsn).cast(pa.string()), " ")
    role = pa.array(ROLES).take(pa.array(rng.integers(0, len(ROLES), n_events)))
    tool = pc.if_else(pc.equal(role, "tool"), "search", "")
    ts = pa.array(TS0_US + lsn * 1_000_000, pa.timestamp("us"))

    def null_on_d(col: pa.Array) -> pa.Array:
        return pc.if_else(is_d, pa.scalar(None, col.type), col)

    return pa.table(
        [
            pa.array(lsn),
            pa.array(op),
            conv_id,
            pa.array(rng.integers(0, n_turns, n_events), pa.int32()),
            null_on_d(role),
            null_on_d(text),
            null_on_d(tool),
            null_on_d(ts),
        ],
        schema=SCHEMA,
    )


def split(log: pa.Table, head_events: int, seg_events: int) -> tuple[pa.Table, list[pa.Table]]:
    """The log head (lsn <= head_events) and the tail cut into segments of
    ``seg_events`` consecutive lsns — the tailer's file layout."""
    head = log.slice(0, head_events)
    tail = log.slice(head_events)
    segs = [tail.slice(i, seg_events) for i in range(0, tail.num_rows, seg_events)]
    return head, [s for s in segs if s.num_rows]


def write_segment(tbl: pa.Table, directory: str, name: str) -> int:
    """Write one segment as a parquet file; returns its size in bytes."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, name)
    pq.write_table(tbl, path)
    return os.path.getsize(path)
