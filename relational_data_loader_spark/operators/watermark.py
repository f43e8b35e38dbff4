"""Per-partition LSN watermarks.

Reference: the single scalar "last synced change version" stored in the
``data_load_tracker`` schema (``modules/data_load_tracking/DataLoadTracker.py``
— SURVEY.md §2.1 C3/S3). Our engine generalizes it to a *vector* of
watermarks, one per hash bucket of the primary key, as the north_star
requires — so a resumed job can prove per-partition progress and the
CT-invalid rule (min retained lsn > watermark + 1) is checkable per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relational_data_loader_spark.session import cached_columns


def bucket_expr(key_col: str, n_buckets: int) -> F.Column:
    """Deterministic hash bucket of the partition key (xxhash64, JVM-side).

    This single expression defines data placement for the whole engine:
    the snapshot sink lays files out by it, merge prunes by it, and the
    watermark vector is keyed by it. Built once per (key, bucket count)
    and reused (``cached_columns``).
    """
    return cached_columns(
        ("bucket_expr", key_col, int(n_buckets)),
        lambda: F.pmod(F.xxhash64(F.col(key_col)), F.lit(int(n_buckets))).cast("int"),
    )


def partition_watermarks(
    batch: DataFrame,
    key_col: str,
    n_buckets: int,
    lsn_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Per-bucket (partition_id, max_applied_lsn, rows_upserted, rows_deleted).

    One narrow groupBy over the netted batch; partial aggregation map-side.
    """
    return (
        batch.groupBy(bucket_expr(key_col, n_buckets).alias("partition_id"))
        .agg(
            F.max(lsn_col).alias("max_applied_lsn"),
            F.sum(F.when(F.col(op_col) != delete_op, 1).otherwise(0)).alias(
                "rows_upserted"
            ),
            F.sum(F.when(F.col(op_col) == delete_op, 1).otherwise(0)).alias(
                "rows_deleted"
            ),
        )
    )


def out_of_order_stats(
    log: DataFrame,
    key_col: str,
    lsn_col: str = "lsn",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key out-of-orderness of the change stream: how often (and how
    far) business timestamps regress when events are read in lsn order.
    THE measurement behind choosing a streaming watermark delay — "2% of
    events arrive up to 40 s late" is what ``withWatermark("ts", ...)``'s
    allowance must cover, and guessing it instead of measuring it either
    drops data or bloats state.

    A row is LATE when its ts is below the running max ts of earlier-lsn
    events of the same key; regression = that shortfall in whole seconds
    (integer-exact, engine-safe). One shuffle (the per-key window); the
    running max is streaming state of O(1) per key run.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(lsn_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(ts_col).over(w)
    regress = F.unix_timestamp(prev_max) - F.unix_timestamp(F.col(ts_col))
    enriched = log.select(
        key_col,
        F.when(regress > 0, regress).otherwise(F.lit(0)).alias("_regress_s"),
        F.when(regress > 0, 1).otherwise(0).alias("_late"),
    )
    return enriched.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_late").cast("bigint").alias("n_late"),
        F.round(F.sum("_late") / F.count(F.lit(1)), 4).alias("p_late"),
        F.max("_regress_s").cast("bigint").alias("max_regress_s"),
    )


def simulate_watermark_drops(
    log: DataFrame,
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    batch_size: int = 500,
    delay_seconds: int = 30,
) -> DataFrame:
    """Batch-twin of Structured Streaming's watermark semantics: group the
    log into micro-batches of ``batch_size`` lsns; after each batch the
    watermark advances to (max event time seen in PRIOR batches −
    ``delay_seconds``); rows in a batch older than the current watermark
    are the ones ``withWatermark`` would drop from stateful aggregation.

    Use it to AUDIT a proposed (batch size, delay) pair against a real
    log before deploying the stream — the per-batch drop counts are the
    rows a production stream would silently lose. Mirrors Spark's
    semantics exactly: the watermark is the PREVIOUS batches' max (Spark
    updates the watermark between micro-batches, never within one).

    Scale: per-batch max is a partial-agged groupBy on the (tiny) batch
    dimension; the running max is a window over that batch table, not the
    log; verdicts join back as a broadcast. The log is scanned once.
    """
    from pyspark.sql.window import Window

    batch = (F.col(lsn_col) / batch_size).cast("bigint").alias("batch")
    with_b = log.select(batch, F.col(ts_col).alias("_ts"))
    bmax = with_b.groupBy("batch").agg(F.max("_ts").alias("_bmax"))
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)
    wm = bmax.select(
        "batch",
        (
            F.max("_bmax").over(w)
            - F.make_interval(secs=F.lit(float(delay_seconds)))
        ).alias("wm_ts"),
    )
    return (
        with_b.join(F.broadcast(wm), "batch")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("_ts") < F.col("wm_ts"), 1)).alias("n_dropped"),
            F.max("wm_ts").alias("watermark_ts"),
        )
    )
