"""SparkSession factory with scale-oriented defaults.

The reference is a single-process, single-threaded copier (SURVEY.md §3);
the session config here is where our engine's parallel execution model is
pinned: AQE on (runtime coalesce + skew-join splitting), Arrow on (all
Python crossings are vectorized), shuffle partitions sized to cores for
local mode, UTC timezone so results compare bit-for-bit with the DuckDB
oracle.
"""

from __future__ import annotations

import os
import weakref
from typing import Any, Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")


def get_spark(
    app_name: str = "rdl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("RDL_SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2 partitions per core: halves per-task sort memory (local mode
        # shares one heap across all task threads) at negligible cost
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(2 * int(master[6:-1]), 4)
        else:
            shuffle_partitions = 2 * (os.cpu_count() or 32)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # bound per-task input so partitions fit executor memory at scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # lets DSv2 parquet scans answer min/max/count from footers; the
        # default DSv1 parquet reads ignore it, so the change-tracking
        # probe still scans every log row
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # write timestamps as TIMESTAMP_MICROS, not the deprecated INT96:
        # INT96 columns carry NO footer min/max statistics, which blinds
        # both row-group pruning and the snapshot sink's manifest zone maps
        # (read_range) on every ts column
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("RDL_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "32")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# Column expressions the engine rebuilds on every epoch, kept per
# SparkContext: see ``cached_columns``.
_COLUMNS: "weakref.WeakKeyDictionary[SparkContext, dict[tuple, Any]]" = (
    weakref.WeakKeyDictionary()
)


def cached_columns(key: tuple, build: Callable[[], _T]) -> _T:
    """``build()``'s Column expressions, built once per ``key`` and reused.

    A Column is an immutable handle to a JVM expression, so an epoch's plan
    can reuse the handles an earlier epoch built instead of paying the py4j
    round trips again (building a projection, a window and a bucket hash is
    hundreds of them; a 5k-event micro-batch pays them on every trigger).
    ``key`` names everything the expressions depend on. Entries live under
    the active SparkContext object they were built with, held weakly: a
    stopped and restarted context (a new JVM) gets a fresh map and never
    sees a handle of the old one; with no active context nothing is kept.
    """
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    built = _COLUMNS.setdefault(sc, {})
    if key not in built:
        built[key] = build()
    return built[key]


class CacheScope:
    """The one owner of every cache the operators take outside the sinks.

    ``cache(df)`` persists ``df`` and records it; ``close()`` (also run by
    ``__exit__``) unpersists everything recorded, newest first so no cached
    plan outlives a cache it reads, and is idempotent. An operator that
    returns a lazy frame over a cache takes the scope from its caller, who
    closes it once the frame has been evaluated; an eager operator opens
    its own with ``with CacheScope() as scope:``. A long-lived session
    therefore never accumulates cache entries, and no call is served by a
    cache an earlier call left behind.
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._frames.append(df)
        return df

    def close(self) -> None:
        while self._frames:
            self._frames.pop().unpersist(blocking=False)

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()
