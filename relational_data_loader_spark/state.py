"""``_rdl_state`` — per-epoch lineage / metrics / watermark table.

Reference: the ``data_load_tracker`` schema written per execution and per
batch (``modules/data_load_tracking/DataLoadTracker.py`` +
``DataLoadTrackerRepository.py`` — SURVEY.md §2.1 C3): status, rows
processed, duration, rows/sec, and the last synced change version that the
next run reads back as its checkpoint.

Our engine splits the two roles the reference fused:
- the *transactional* checkpoint (applied epochs + watermark) lives in the
  sink's commit manifest, atomic with the data commit (exactly-once);
- this table is the *observability* record — per-partition watermarks,
  row counts, wall time — appended after each commit (FIXTURES.md F4 shape).

Rows per epoch are O(n_buckets), so they are written driver-side with
pyarrow (no Spark job for a handful of rows).
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("table_name", pa.string()),
        ("epoch_id", pa.int64()),
        ("partition_id", pa.int32()),
        ("max_applied_lsn", pa.int64()),
        ("rows_upserted", pa.int64()),
        ("rows_deleted", pa.int64()),
        ("wall_ms", pa.int64()),
        # reference-tracker C3 parity: data_load_tracker records duration
        # AND rows/sec per batch; derived at append time from the epoch's
        # wall clock (per-partition row counts over the SHARED epoch wall —
        # partitions commit together, so per-partition walls don't exist)
        ("rows_per_sec", pa.float64()),
        ("committed_at", pa.timestamp("us")),
        ("kind", pa.string()),
    ]
)


class StateTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def append(
        self,
        table_name: str,
        epoch_id: int,
        bucket_stats: list[dict],
        wall_ms: int,
        kind: str = "merge",
    ) -> None:
        # an epoch that touched no partition (an empty merge) has no lineage
        # to record: no row, rather than a placeholder a reader would take
        # for a full refresh's partition -1 row
        if not bucket_stats:
            return
        now = int(time.time() * 1_000_000)
        n = len(bucket_stats)
        tbl = pa.table(
            {
                "table_name": pa.array([table_name] * n, pa.string()),
                "epoch_id": pa.array([epoch_id] * n, pa.int64()),
                "partition_id": pa.array(
                    [r["partition_id"] for r in bucket_stats], pa.int32()
                ),
                "max_applied_lsn": pa.array(
                    [r["max_applied_lsn"] for r in bucket_stats], pa.int64()
                ),
                "rows_upserted": pa.array(
                    [r["rows_upserted"] for r in bucket_stats], pa.int64()
                ),
                "rows_deleted": pa.array(
                    [r["rows_deleted"] for r in bucket_stats], pa.int64()
                ),
                "wall_ms": pa.array([wall_ms] * n, pa.int64()),
                "rows_per_sec": pa.array(
                    [
                        round(
                            (r["rows_upserted"] + r["rows_deleted"])
                            / (max(wall_ms, 1) / 1000.0),
                            2,
                        )
                        for r in bucket_stats
                    ],
                    pa.float64(),
                ),
                "committed_at": pa.array([now] * n, pa.timestamp("us")),
                "kind": pa.array([kind] * n, pa.string()),
            },
            schema=SCHEMA,
        )
        pq.write_table(
            tbl, os.path.join(self.path, f"state-{now}-{uuid.uuid4().hex[:8]}.parquet")
        )

    def read(self) -> pa.Table:
        import glob

        files = sorted(glob.glob(os.path.join(self.path, "state-*.parquet")))
        if not files:
            return SCHEMA.empty_table()
        return pa.concat_tables([pq.read_table(f) for f in files])

    def max_applied_lsn(self, table_name: str) -> int:
        import pyarrow.compute as pc

        t = self.read()
        t = t.filter(pc.equal(t["table_name"], table_name))
        if t.num_rows == 0:
            return -1
        return pc.max(t["max_applied_lsn"]).as_py()
