"""Last-writer-wins netting of a raw change batch.

The reference never implements this: SQL Server's ``CHANGETABLE(CHANGES …)``
returns *net* changes per PK server-side, so the reference's staged batch
already has one row per key (``modules/data_sources/MsSqlDataSource.py``
change select — SURVEY.md §1.3 invariant 2). Our engine tails a *raw*
LSN-ordered log, so netting is an explicit operator.

Spark-first design notes (scale), measured at 8M events on local[16]:
- ``row_number() OVER (PARTITION BY pk ORDER BY lsn DESC)`` beats both
  ``max_by(struct(...), lsn)`` (10.0s) and hash-agg-max-lsn + semi-join-back
  (11.3s) at 4.8s. Why: Spark's max_by carries a struct-typed aggregation
  buffer, which HashAggregate cannot hold → falls back to **SortAggregate**
  = two full sorts (partial + final), while the window plan is one shuffle
  + one sort. Partial aggregation would only pay off at high per-PK
  duplication; CT-style logs run ~2-5 events/PK per batch.
- Skew: the window partitions by the FULL primary key (conv_id AND
  turn_idx), so a hot conversation spreads across its turns; no salting is
  needed here. Salting applies to coarser conv_id-only aggregations
  (see queries.q_salted_hot_key_agg).
- The LWW + delete interplay (SURVEY.md §7.3): ``I..U..D`` in one batch must
  net to the max-LSN op. The winner row keeps its op and is branched on
  *after* ranking — never "any delete wins".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def net_changes(
    df: DataFrame,
    primary_keys: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    salt_buckets: int = 0,
) -> DataFrame:
    """Reduce a change batch to one winning row per primary key.

    Input: change envelopes ``(lsn, op, pk..., payload...)``; output: one row
    per PK carrying the max-lsn event's op + payload. Ties are impossible
    (lsn is unique); if the input ever had duplicate lsns per PK the result
    is an arbitrary one of them, matching MERGE's requirement of a unique
    source key.

    ``salt_buckets > 1`` switches to a two-phase salted plan for batches
    where a single PK is itself hot (one turn updated millions of times in
    one epoch — the full-PK partitioning above can't spread *that*):
    phase 1 ranks within ``(pk, salt)`` groups — the hot key's rows spread
    over ``salt_buckets`` reducers — and phase 2 ranks the ≤``salt_buckets``
    survivors per PK. The salt is a deterministic hash of the lsn (no
    ``rand()``: retries and the exactly-once replay must re-derive identical
    plans). Max-lsn commutes through the phases, so the result is identical
    to the unsalted plan. Two shuffles instead of one. Standing alone, the
    unsalted plan compiles to WindowGroupLimit Partial/Final, whose MAP-SIDE
    top-1 per PK caps a hot key's contribution to its reducer at
    n_map_partitions rows — but the engine's default epoch apply does not
    run this plan: the sinks' merge window rides the bucket repartition,
    where Spark plans the limit in Final mode only, so there a hot PK is
    bounded by spec.batch_size chunking plus a spec.salt_buckets pin, which
    makes the sinks run this salted plan ahead of their window
    (plans/manager.py documents the engine policy).
    """
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(*primary_keys, salt).orderBy(F.desc(lsn_col))
        df = (
            df.withColumn("_rdl_rn", F.row_number().over(w1))
            .filter(F.col("_rdl_rn") == 1)
            .drop("_rdl_rn")
        )
    w = Window.partitionBy(*primary_keys).orderBy(F.desc(lsn_col))
    return (
        df.withColumn("_rdl_rn", F.row_number().over(w))
        .filter(F.col("_rdl_rn") == 1)
        .drop("_rdl_rn")
    )


def scd2_history(
    df: DataFrame,
    primary_keys: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Slowly-changing-dimension type-2 intervals from a raw change log.

    The LWW dual: instead of keeping only each key's final state, every
    change version becomes a row valid over ``[its lsn, next change's
    lsn)``; the open interval (``valid_to_lsn`` NULL) is the key's current
    version unless a delete closed its history. The reference keeps final
    state only (net replication); SCD2 is the warehouse-history extension
    its users layer on top, and at 10^10 events it is the same single
    shuffle as netting — one window over the full primary key (hot
    conversations spread across turns exactly as in ``net_changes``),
    ``lead()`` instead of top-1, no join against the log's own history.
    """
    w = Window.partitionBy(*primary_keys).orderBy(F.col(lsn_col))
    return df.withColumn("valid_to_lsn", F.lead(lsn_col).over(w)).withColumn(
        "is_current",
        F.col("valid_to_lsn").isNull() & (F.col(op_col) != delete_op),
    )


def live_key_timeline(
    log: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Daily live-key timeline from a change log: for every day that saw a
    liveness transition, the net change and the running count of keys
    alive at end-of-day — "how big was the table over time" without
    snapshotting it per day.

    The scale trick is the boundary-delta formulation: instead of joining
    every day against every validity interval (days × keys work), each
    event emits a ±1 only when its key's liveness FLIPS (lag over the
    per-key (ts, lsn) order), the deltas collapse to one row per day
    map-side, and a single running sum over the tiny day dimension
    finishes the job. Cost: one per-key window + one groupBy + one window
    over n_days rows (n_days ≤ 10^4 for any real table, so the
    single-partition running sum is irrelevant at any data scale).
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, lsn_col)
    live = (F.col(op_col) != delete_op).cast("int")
    prev = F.lag(live).over(w)
    delta = (live - F.coalesce(prev, F.lit(0))).alias("_d")
    days = (
        log.select(F.to_date(ts_col).alias("day"), delta)
        .filter(F.col("_d") != 0)
        .groupBy("day")
        .agg(F.sum("_d").alias("net_change"))
    )
    run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return days.select(
        "day",
        F.col("net_change").cast("bigint").alias("net_change"),
        F.sum("net_change").over(run).cast("bigint").alias("live_keys"),
    )
