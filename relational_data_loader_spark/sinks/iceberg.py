"""IcebergSink — the production sink: MERGE INTO an Iceberg table.

This sandbox has no Iceberg runtime jars and no network (SURVEY.md §7.4),
so this module is code-complete but only exercised where the jars exist
(``iceberg_available()`` gates it; tests fall back to SnapshotTable, which
implements the same contract over plain parquet; the exactly-once plumbing
here IS unit-tested against a recording fake that models real Iceberg
commit gating — tests/test_iceberg_sink.py). On a real cluster:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<path> ...

Design notes for the 10^10-event target:
- table partitioned by ``bucket(N, conv_id)`` so MERGE's join co-locates
  with storage and file-level pruning applies (the SnapshotTable bucket
  layout is the parquet re-implementation of exactly this);
- merge-on-read (``write.merge.mode=merge-on-read``) turns per-epoch bucket
  rewrites into delete-file appends, compacted asynchronously (``compact()``);
- rename/add-column are metadata-only (field-id based) — ``evolve()``.

Exactly-once bookkeeping — the one-commit rule
----------------------------------------------
The epoch id and watermark are stamped into the **snapshot summary of the
data commit itself**, so bookkeeping and data are one atomic Iceberg commit
with no crash window between them. The channel is Iceberg's public
``org.apache.iceberg.spark.CommitMetadata.withCommitProperties(props, fn,
excClass)`` (py4j-reachable): it sets a ThreadLocal that the Spark writers
(``SparkWrite.commitOperation`` / ``SparkPositionDeltaWrite``) copy into
the snapshot summary of ANY commit made inside ``fn`` — including SQL
``MERGE INTO`` and CTAS/RTAS, which have no ``.option()`` channel.

Why not ``spark.wap.id`` (the round-2 mechanism, found inert): in Iceberg's
Spark writers the ``wap.id`` summary key is written only inside the
``if (isWapTable() && wapId != null)`` branch, which ALSO calls
``stageOnly()`` — with ``write.wap.enabled=false`` the conf is ignored
entirely (no summary key), and with it true the commit is *staged*
invisibly instead of published. ``CommitMetadata`` has neither problem:
``commitProperties()`` is applied unconditionally to the publishing commit.

ThreadLocal caveat: the callable re-enters Python and calls ``spark.sql``;
with py4j pinned-thread mode (``PYSPARK_PIN_THREAD=true``, the default
since Spark 3.2) that reentrant call executes on the SAME JVM thread that
holds the ThreadLocal, which is what makes the stamp visible to the commit.

The read side (``applied_epochs`` / ``watermark``) parses the SAME summary
key (``rdl.stamp``) back from the ``.snapshots`` metadata table; the
payload format is owned by ``_encode_stamp``/``_decode_stamp`` so writer
and reader cannot drift. Snapshots without the key (compactions, foreign
writers) are skipped, not crashed on.

Epoch keys are namespaced exactly like SnapshotTable manifests
(``batch:<lsn>`` vs ``stream:<batchId>``) — see sinks/snapshot.py.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relational_data_loader_spark.operators.lww import net_changes
from relational_data_loader_spark.sinks.snapshot import (
    DELETED_COL,
    LSN_COL,
    MergeStats,
    epoch_key,
)
from relational_data_loader_spark.spec import AUDIT_EXEC_ID, AUDIT_LOADED_AT, IngestSpec

# snapshot-summary keys (written via CommitMetadata, read from .snapshots)
_STAMP_KEY = "rdl.stamp"
_BASELINE_KEY = "rdl.baseline"
# table properties holding the committed spec (manifest spec_json twin)
_PROP_CHECKSUM = "rdl.spec.checksum"
_PROP_SPEC_JSON = "rdl.spec.json"
_STAMP_PREFIX = "rdl/"


def _encode_stamp(key: str, watermark: int) -> str:
    """Snapshot-summary payload: ``rdl/<namespace>:<epoch>/<watermark>``."""
    return f"{_STAMP_PREFIX}{key}/{int(watermark)}"


def _decode_stamp(payload: str | None) -> tuple[str, int] | None:
    """Inverse of ``_encode_stamp``; None for absent/malformed values."""
    if not payload or not payload.startswith(_STAMP_PREFIX):
        return None
    body = payload[len(_STAMP_PREFIX):]
    key, sep, wm = body.rpartition("/")
    if not sep:
        return None
    try:
        return key, int(wm)
    except ValueError:
        return None


# Iceberg changelog-view metadata columns (SparkChangelogTable constants)
CHANGE_TYPE_COL = "_change_type"
CHANGE_ORDINAL_COL = "_change_ordinal"


def changelog_view_sql(
    identifier: str,
    start_snapshot_id: int,
    end_snapshot_id: int,
    view: str,
) -> str:
    """The ``create_changelog_view`` CALL for one snapshot-id window.

    Pure string builder so the statement is unit-testable without an
    Iceberg runtime (the CALL itself is jar-gated). ``start-snapshot-id``
    is EXCLUSIVE and ``end-snapshot-id`` INCLUSIVE in Iceberg's changelog
    scan — the same ``(v_from, v_to]`` convention as
    ``SnapshotTable.changes_between``. ``net_changes`` stays at its false
    default deliberately: ``classify_changelog`` nets across commits
    itself from boundary images, and Iceberg's netting would discard the
    UPDATE_BEFORE rows the tombstone-visibility rules need.
    """
    catalog, _, table = identifier.partition(".")
    return (
        f"CALL {catalog}.system.create_changelog_view("
        f"table => {_sql_quote(table)}, "
        f"options => map('start-snapshot-id', '{int(start_snapshot_id)}', "
        f"'end-snapshot-id', '{int(end_snapshot_id)}'), "
        f"changelog_view => {_sql_quote(view)})"
    )


def classify_changelog(
    changelog: DataFrame,
    pks: list[str],
    payload_cols: list[str],
    lsn_col: str = LSN_COL,
    deleted_col: str = DELETED_COL,
) -> DataFrame:
    """Collapse a raw Iceberg changelog into the engine's CDF envelope.

    Input: the output of ``create_changelog_view`` over the STORAGE table —
    one row per physical change with ``_change_type`` in
    {INSERT, DELETE, UPDATE_BEFORE, UPDATE_AFTER} and a per-commit
    ``_change_ordinal``. Storage rows include soft tombstones
    (``_rdl_deleted``), so a physical INSERT/UPDATE_AFTER may be a LOGICAL
    delete and vice versa — which is why Iceberg's own ``net_changes`` /
    ``compute_updates`` can't produce the engine's feed directly.

    Output: the exact ``SnapshotTable.changes_between`` schema —
    ``(op, *pks, *payload, lsn)``, one row per logically drifted key,
    payload NULL on D. The classification reconstructs both BOUNDARY
    images per key:

    - v_from image: the before-type row (DELETE/UPDATE_BEFORE) at the
      key's earliest ordinal. Valid only if the key's FIRST change row is
      before-typed — a key first seen as INSERT did not exist at v_from,
      and treating a later UPDATE_BEFORE as its v_from image would
      misclassify insert-then-delete-within-window as D (it must net to
      nothing).
    - v_to image: the after-type row (INSERT/UPDATE_AFTER) at the key's
      latest ordinal; valid only if the key's LAST change row is
      after-typed (a trailing physical DELETE means gone at v_to).

    Logical visibility at a boundary = image exists AND not tombstoned;
    then invisible→visible = I, visible→visible = U (every applied change
    bumps ``_rdl_lsn``, mirroring the snapshot twin's lsn-compare),
    visible→invisible = D, invisible→invisible = dropped (e.g. a
    tombstone's lsn bump, or insert+delete inside the window).

    Robust to both changelog shapes: MoR updates that arrive as
    DELETE+INSERT at one ordinal and ``compute_updates``-style
    UPDATE_BEFORE/UPDATE_AFTER pairs classify identically, so the CALL
    never needs ``compute_updates``. Rewrite/replace snapshots
    (compaction) emit no changelog rows, so maintenance commits cannot
    forge drift. One groupBy on the PK — output and state proportional to
    drifted keys, never table size.
    """
    is_before = F.col(CHANGE_TYPE_COL).isin("DELETE", "UPDATE_BEFORE")
    is_after = F.col(CHANGE_TYPE_COL).isin("INSERT", "UPDATE_AFTER")
    ordinal = F.col(CHANGE_ORDINAL_COL).cast("long")
    img = F.struct(
        *[F.col(c) for c in payload_cols],
        F.col(lsn_col).alias("__lsn"),
        F.coalesce(F.col(deleted_col), F.lit(False)).alias("__del"),
    )
    agg = changelog.groupBy(*pks).agg(
        F.min_by(img, F.when(is_before, ordinal)).alias("b"),
        F.max_by(img, F.when(is_after, ordinal)).alias("a"),
        F.min(ordinal).alias("o_first"),
        F.min(F.when(is_before, ordinal)).alias("o_first_before"),
        F.max(ordinal).alias("o_last"),
        F.max(F.when(is_after, ordinal)).alias("o_last_after"),
    )
    vis_from = (
        F.col("o_first_before").isNotNull()
        & (F.col("o_first_before") == F.col("o_first"))
        & ~F.col("b.__del")
    )
    vis_to = (
        F.col("o_last_after").isNotNull()
        & (F.col("o_last_after") == F.col("o_last"))
        & ~F.col("a.__del")
    )
    op = (
        F.when(vis_from & vis_to, F.lit("U"))
        .when(vis_to, F.lit("I"))
        .when(vis_from, F.lit("D"))
    )
    staged = agg.select(op.alias("op"), *pks, "a", "b").where(F.col("op").isNotNull())
    return staged.select(
        "op",
        *pks,
        *[
            F.when(F.col("op") != "D", F.col(f"a.{c}")).alias(c)
            for c in payload_cols
        ],
        F.coalesce(F.col("a.__lsn"), F.col("b.__lsn")).alias("lsn"),
    )


def _sql_quote(value: str) -> str:
    """Single-quoted Spark SQL string literal (for TBLPROPERTIES values).

    Spark string literals process BACKSLASH escapes as well as quotes
    (escapedStringLiterals defaults false), so both must be doubled or a
    spec whose JSON contains ``\\"`` / ``\\\\`` would round-trip corrupted
    through the stored properties and crash the next run's from_json."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class _SqlCallable:
    """py4j callback: runs one spark.sql() inside CommitMetadata's scope.

    Implements ``java.util.concurrent.Callable`` so it can be handed to
    ``CommitMetadata.withCommitProperties``; py4j's callback server routes
    ``call()`` back into Python, and the reentrant ``spark.sql`` runs on the
    pinned JVM thread that holds the commit-properties ThreadLocal.
    """

    def __init__(self, spark, text: str):
        self._spark = spark
        self._text = text

    def call(self):
        self._spark.sql(self._text)
        return None

    class Java:
        implements = ["java.util.concurrent.Callable"]


class IcebergTable:
    """Same sink contract as SnapshotTable, implemented with Iceberg SQL.

    Interface parity (what DataLoadManager/StreamingIngest rely on):
    ``exists/watermark/baseline_watermark/stored_checksum/stored_spec_json/
    applied_epochs/full_refresh_from_envelopes/merge→MergeStats/evolve/
    expire_tombstones``. Like SnapshotTable, the sink owns its netting:
    Iceberg ``MERGE INTO`` rejects multiple source rows per target row, so
    ``merge`` and ``full_refresh_from_envelopes`` LWW-net raw envelopes
    themselves and a raw-envelope batch can never hit the MERGE cardinality
    error.
    """

    # Iceberg's bucket transform hashes integer types through their long
    # representation, so int→bigint widening of the bucket column is
    # layout-stable — the decision layer skips its re-bucket rule here
    # (plans/decision.py pk_widen_rebuckets).
    width_stable_bucket_hash = True

    def __init__(
        self,
        spark: SparkSession,
        identifier: str,
        spec: IngestSpec,
        check_runtime: bool = True,
    ):
        if check_runtime and not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; use SnapshotTable "
                "(sinks/snapshot.py) in jar-less environments"
            )
        self.spark = spark
        self.identifier = identifier  # e.g. lake.db.transcripts
        self.spec = spec
        # single-writer contract (same as SnapshotTable): the snapshot-stamp
        # list is append-only and only WE append, so it caches per instance —
        # merge() consults it per epoch and a 10^5-snapshot table must not
        # re-scan .snapshots every chunk (VERDICT r2 'wrong' #4)
        self._meta_cache: list[tuple[str | None, int | None, int | None]] | None = None
        # SHOW TBLPROPERTIES round-trip cache: manager.run reads
        # stored_spec_json() and stored_checksum() back to back every epoch;
        # invalidated by every write that can change properties
        self._props_cache: dict[str, str] | None = None
        # pinned-thread gateway guard runs once, at the first stamped write
        self._pinned_checked = False

    # -- exactly-once commit stamping ----------------------------------------

    def _assert_pinned_thread_gateway(self) -> None:
        """Refuse to stamp through an UNPINNED py4j gateway.

        The whole CommitMetadata design rests on the reentrant ``spark.sql``
        inside the callable running on the SAME JVM thread that holds the
        commit-properties ThreadLocal (module docstring). That is true only
        in py4j pinned-thread mode (``ClientServer``, the default since
        Spark 3.2 via ``PYSPARK_PIN_THREAD=true``). Under a plain
        ``JavaGateway`` (thread-pool dispatch) the reentrant call may land
        on a different JVM thread: the commit still PUBLISHES, but without
        the stamp — silently resurrecting the dead-replay-guard failure
        mode this sink exists to prevent. So an unpinned gateway is a hard
        error at first stamped write, not a degraded mode.

        Checked once per instance; skipped when there is no py4j gateway to
        inspect (unit-test fakes without a sparkContext).
        """
        if self._pinned_checked:
            return
        sc = getattr(self.spark, "sparkContext", None)
        gateway = getattr(sc, "_gateway", None) if sc is not None else None
        if gateway is not None:
            from py4j.clientserver import ClientServer

            if not isinstance(gateway, ClientServer):
                raise RuntimeError(
                    "py4j gateway is not in pinned-thread mode "
                    f"({type(gateway).__name__}); CommitMetadata stamps "
                    "would be dropped from published commits, breaking "
                    "exactly-once replay protection. Start PySpark with "
                    "PYSPARK_PIN_THREAD=true (the default since Spark 3.2)."
                )
        self._pinned_checked = True

    def _run_stamped_sql(self, props: dict[str, str], text: str) -> None:
        """Run one SQL write with ``props`` riding its snapshot summary.

        Uses Iceberg's public CommitMetadata API (module docstring): the
        writers copy ``CommitMetadata.commitProperties()`` into the snapshot
        summary of the commit made inside the callable — unconditionally,
        unlike the wap.id branch which is gated on ``write.wap.enabled`` and
        stages instead of publishing (SparkWrite.commitOperation).
        """
        self._assert_pinned_thread_gateway()
        spark = self.spark
        jvm = spark._jvm
        sc = getattr(spark, "sparkContext", None)
        gateway = getattr(sc, "_gateway", None) if sc is not None else None
        if gateway is not None:
            # the Callable below is a Python→JVM callback; PySpark starts the
            # py4j callback server lazily (same mechanism foreachBatch uses)
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(gateway)
        jmap = jvm.java.util.HashMap()
        for k, v in props.items():
            jmap.put(k, str(v))
        jvm.org.apache.iceberg.spark.CommitMetadata.withCommitProperties(
            jmap,
            _SqlCallable(spark, text),
            jvm.java.lang.Class.forName("java.lang.RuntimeException"),
        )

    def _snapshot_meta(self) -> list[tuple[str | None, int | None, int | None]]:
        """(epoch_key, watermark, baseline) per committed snapshot, in commit
        order, cached."""
        if self._meta_cache is None:
            rows = self.spark.sql(
                f"SELECT summary['{_STAMP_KEY}'] AS stamp, "
                f"summary['{_BASELINE_KEY}'] AS baseline "
                f"FROM {self.identifier}.snapshots ORDER BY committed_at"
            ).collect()
            meta = []
            for r in rows:
                decoded = _decode_stamp(r["stamp"])
                key, wm = decoded if decoded else (None, None)
                b = r["baseline"]
                meta.append((key, wm, int(b) if b is not None else None))
            self._meta_cache = meta
        return self._meta_cache

    def _record_commit(self, key: str, wm: int, baseline: int | None) -> None:
        if self._meta_cache is not None:
            self._meta_cache.append((key, wm, baseline))

    def applied_epochs(self) -> set[str]:
        """Namespaced epoch keys committed since the last full refresh
        (replay guard). CREATE OR REPLACE keeps the replaced table's
        snapshots listed, so the keys before the latest baseline-stamped
        snapshot are dropped here, as the snapshot sink's refresh drops
        them from its manifest: a stream restarted on a fresh checkpoint
        after a forced refresh reuses batch ids from 0 and must not have
        them skipped. Forgetting a key is always safe (a re-applied epoch
        is a no-op under the sequence guard, ``expire_snapshots``)."""
        meta = self._snapshot_meta()
        start = max(
            (i for i, (_, _, b) in enumerate(meta) if b is not None), default=0
        )
        return {key for key, _, _ in meta[start:] if key is not None}

    def watermark(self) -> int:
        return max(
            (wm for _, wm, _ in self._snapshot_meta() if wm is not None), default=-1
        )

    def baseline_watermark(self) -> int:
        """Max lsn fully covered by the last full refresh (SnapshotTable twin)."""
        return max(
            (b for _, _, b in self._snapshot_meta() if b is not None), default=-1
        )

    # -- catalog / spec bookkeeping ------------------------------------------

    def exists(self) -> bool:
        # deliberately NO try/except: tableExists returns False for a
        # missing table without raising, so any exception here is a real
        # error (unconfigured catalog, transient metastore failure) — and
        # reporting a transient failure as "absent" would send manager.run
        # down the full-refresh path, whose CREATE OR REPLACE rebuilds the
        # table from only the currently retained change log (silent loss if
        # the log was pruned past the old baseline). Fail loudly instead.
        return bool(self.spark.catalog.tableExists(self.identifier))

    def _table_properties(self) -> dict[str, str]:
        if self._props_cache is None:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self.identifier}"
            ).collect()
            self._props_cache = {r["key"]: r["value"] for r in rows}
        return self._props_cache

    def merge_reads_batch_twice(self) -> bool:
        """``merge`` persists its netted batch for its two consumers (the
        stats row and the MERGE source), so its caller never has to cache
        the batch it passes in (``SnapshotTable.merge_reads_batch_twice``
        twin)."""
        return False

    def stored_checksum(self) -> str | None:
        return self._table_properties().get(_PROP_CHECKSUM)

    def stored_spec_json(self) -> str | None:
        return self._table_properties().get(_PROP_SPEC_JSON)

    def _spec_props_sql(self) -> str:
        return (
            f"'{_PROP_CHECKSUM}' = {_sql_quote(self.spec.checksum())}, "
            f"'{_PROP_SPEC_JSON}' = {_sql_quote(self.spec.to_json())}"
        )

    def _set_spec_properties(self) -> None:
        self.spark.sql(
            f"ALTER TABLE {self.identifier} SET TBLPROPERTIES ({self._spec_props_sql()})"
        )
        self._props_cache = None

    def _storage_cols_sql(self) -> str:
        """Physical schema: destination (+audit) + version/tombstone columns
        that make MERGE sequence-guarded (SnapshotTable._storage_schema twin)."""
        return ", ".join(
            [
                f"{f.name} {f.dataType.simpleString()}"
                for f in self.spec.destination_schema().fields
            ]
            + [f"{LSN_COL} bigint", f"{DELETED_COL} boolean"]
        )

    def _tblproperties_sql(self) -> str:
        return (
            "'write.merge.mode' = 'merge-on-read', "
            "'write.update.mode' = 'merge-on-read', "
            "'write.delete.mode' = 'merge-on-read', "
            "'write.distribution-mode' = 'hash', "
            + self._spec_props_sql()
        )

    # -- DDL (reference W5: create_schema/create_table from model JSON) -----

    def ensure_table(self) -> None:
        self.spark.sql(
            f"""
            CREATE TABLE IF NOT EXISTS {self.identifier} ({self._storage_cols_sql()})
            USING iceberg
            PARTITIONED BY (bucket({self.spec.target_buckets}, {self.spec.primary_keys[0]}))
            TBLPROPERTIES ({self._tblproperties_sql()})
            """
        )
        self._props_cache = None

    def evolve(
        self,
        new_spec: IngestSpec,
        renames: list[tuple[str, str]],
        widened: list[tuple[str, str]] = (),
    ) -> None:
        """Additive/rename/widening evolution — metadata-only Iceberg DDL.

        The parquet twin (SnapshotTable.evolve, sinks/snapshot.py) must
        rewrite rows on a rename; here both cases are ALTER TABLE metadata
        commits (Iceberg columns are field-id addressed). Added columns are
        derived from the STORED spec (the committed schema), so the caller
        passes only the rename list the decision computed — same call shape
        as the snapshot sink. The spec properties update is a separate
        metadata commit; a crash between DDL and properties leaves the next
        run re-diffing against the old spec, which is detected (the ADD
        COLUMNS fails loudly on the pre-existing column) rather than silent.
        """
        old_json = self.stored_spec_json()
        old_cols = (
            {c.destination for c in IngestSpec.from_json(old_json).columns}
            if old_json
            else set()
        )
        for old, new in renames:
            self.spark.sql(
                f"ALTER TABLE {self.identifier} RENAME COLUMN {old} TO {new}"
            )
            old_cols.discard(old)
            old_cols.add(new)
        for dest, type_name in widened:
            # Iceberg's sanctioned promotions (int→long, float→double,
            # decimal precision growth) — pure metadata, and safe even on
            # the bucket-partition column because Iceberg's bucket transform
            # hashes integer types through their long representation
            # (unlike the snapshot sink's width-sensitive xxhash64, which is
            # why the decision layer re-buckets THAT sink instead)
            from relational_data_loader_spark.spec import spark_type as _st

            self.spark.sql(
                f"ALTER TABLE {self.identifier} ALTER COLUMN {dest} "
                f"TYPE {_st(type_name).simpleString()}"
            )
        adds = [c for c in new_spec.columns if c.destination not in old_cols]
        if adds:
            cols = ", ".join(
                f"{c.destination} {c.spark_type.simpleString()}" for c in adds
            )
            self.spark.sql(f"ALTER TABLE {self.identifier} ADD COLUMNS ({cols})")
        self.spec = new_spec
        self._set_spec_properties()

    # -- MERGE (reference W1 upsert + W2 delete fused) -----------------------

    def merge(
        self,
        batch: DataFrame,
        epoch_id: int,
        namespace: str = "batch",
        netted: bool = False,
    ) -> MergeStats:
        """Apply a change batch via one sequence-guarded, stamped MERGE INTO.

        Same contract as SnapshotTable.merge: accepts raw (possibly
        multi-row-per-PK) envelopes and returns MergeStats. Because Iceberg
        MERGE INTO rejects duplicate source keys, a batch not vouched unique
        (``netted=False``) is LWW-netted here first (operators/lww.py) —
        callers that already netted (replay_dlq's prepare_batch, the sparse
        densify) pass ``netted=True`` to skip the redundant shuffle.

        Out-of-order safety (same contract as SnapshotTable): every UPDATE is
        guarded by ``s.lsn > t._rdl_lsn`` so a stale permuted segment can
        never overwrite newer state, and deletes are SOFT (tombstone rows,
        ``_rdl_deleted``) so a stale insert cannot resurrect a newer delete.
        Readers go through ``create_reader_view()``.

        The epoch/watermark stamp commits atomically with the MERGE snapshot
        (module docstring); a replayed epoch returns ``skipped=True`` without
        touching the table.
        """
        t0 = time.time()
        spec = self.spec
        key = epoch_key(epoch_id, namespace)
        if key in self.applied_epochs():
            return MergeStats(epoch_id, True, 0, 0, 0, self.watermark(), 0)
        if not netted:
            batch = net_changes(
                batch,
                spec.primary_keys,
                spec.lsn_column,
                spec.op_column,
                salt_buckets=spec.salt_buckets,
            )
        # the batch feeds two consumers (stats row below + the MERGE source);
        # persist so the netting shuffle runs once. Chunk sizes are bounded by
        # spec.batch_size (default 5M rows ≈ a few hundred MB clusterwide),
        # which fits executor storage.
        batch = batch.persist()
        try:
            lsn, op = spec.lsn_column, spec.op_column
            # one control-plane row: netted counts by op + the batch max lsn
            # (the reference tracker's per-batch row counts, C3)
            row = batch.agg(
                F.max(lsn).alias("mx"),
                F.sum(
                    F.when(F.col(op) != spec.delete_op, 1).otherwise(0)
                ).alias("ups"),
                F.sum(
                    F.when(F.col(op) == spec.delete_op, 1).otherwise(0)
                ).alias("dels"),
            ).collect()[0]
            if row["mx"] is None:
                # empty chunk: no data commit to stamp; replaying an empty
                # epoch is idempotent by vacuity, so skipping the bookkeeping
                # entirely is safe (the snapshot sink records it because its
                # manifest commit is free; an Iceberg empty commit is not).
                # skipped=True because nothing was applied OR recorded — the
                # manager must not write a lineage row for an epoch absent
                # from applied_epochs() (state/sink drift).
                return MergeStats(
                    epoch_id, True, 0, 0, 0, self.watermark(),
                    int((time.time() - t0) * 1000),
                )
            ups, dels = int(row["ups"]), int(row["dels"])
            batch_max = int(row["mx"])
            wm = max(self.watermark(), batch_max)

            on = " AND ".join(f"t.{k} = s.{k}" for k in spec.primary_keys)
            guard = f"s.{lsn} > t.{LSN_COL}"
            # per-row audit stamps (P3) are literals of THIS epoch — the
            # netted batch doesn't carry them; epoch-derived so replays are
            # byte-stable
            audit_sets = {
                AUDIT_EXEC_ID: f"{int(epoch_id)}L",
                AUDIT_LOADED_AT: f"timestamp_seconds({int(epoch_id)})",
            }
            audit_set_sql = [
                f"t.{f.name} = {audit_sets[f.name]}" for f in spec.audit_fields
            ]
            upd_sets = ", ".join(
                [f"t.{c} = s.{c}" for c in spec.payload_columns]
                + [f"t.{LSN_COL} = s.{lsn}", f"t.{DELETED_COL} = false"]
                + audit_set_sql
            )
            del_sets = ", ".join(
                [f"t.{LSN_COL} = s.{lsn}", f"t.{DELETED_COL} = true"] + audit_set_sql
            )
            cols = ", ".join(
                [c.destination for c in spec.columns]
                + [f.name for f in spec.audit_fields]
                + [LSN_COL, DELETED_COL]
            )
            svals = ", ".join(
                [f"s.{c.destination}" for c in spec.columns]
                + [audit_sets[f.name] for f in spec.audit_fields]
                + [f"s.{lsn}", f"s.{op} = '{spec.delete_op}'"]
            )
            batch.createOrReplaceTempView("_rdl_batch")
            self._run_stamped_sql(
                {_STAMP_KEY: _encode_stamp(key, wm)},
                f"""
                MERGE INTO {self.identifier} t
                USING _rdl_batch s
                ON {on}
                WHEN MATCHED AND {guard} AND s.{op} = '{spec.delete_op}'
                  THEN UPDATE SET {del_sets}
                WHEN MATCHED AND {guard} THEN UPDATE SET {upd_sets}
                WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({svals})
                """,
            )
            self._record_commit(key, wm, None)
            return MergeStats(
                epoch_id,
                False,
                0,  # file-level pruning is Iceberg-internal, not surfaced
                ups,
                dels,
                wm,
                int((time.time() - t0) * 1000),
                bucket_stats=[
                    {
                        "partition_id": -1,
                        "max_applied_lsn": batch_max,
                        "rows_upserted": ups,
                        "rows_deleted": dels,
                    }
                ],
            )
        finally:
            batch.unpersist()

    def changes_between(
        self,
        start_snapshot_id: int,
        end_snapshot_id: int,
        changelog_view: str | None = None,
    ) -> DataFrame:
        """Change data feed between two committed snapshots — the
        ``SnapshotTable.changes_between`` twin, same envelope schema
        ``(op, *pks, *payload, lsn)`` with payload NULL on D.

        Snapshot ids come from the table's ``.snapshots``/``.history``
        metadata (or a stored procedure result); the window is
        ``(start, end]`` like the manifest-version twin. Two steps:
        Iceberg's ``create_changelog_view`` materializes the raw physical
        changelog (``changelog_view_sql``), then ``classify_changelog``
        lifts it to the logical feed — tombstone flips become I/D, netting
        across commits happens per key. Jar-gated like every CALL here;
        both halves are independently tested (the SQL as a string, the
        classifier on hand-built changelogs with a real session).
        """
        _, _, table = self.identifier.partition(".")
        view = changelog_view or f"_rdl_cdf_{table.replace('.', '_')}"
        self.spark.sql(
            changelog_view_sql(
                self.identifier, start_snapshot_id, end_snapshot_id, view
            )
        )
        visible = [f.name for f in self.spec.destination_schema().fields]
        pks = self.spec.primary_keys
        payload = [c for c in visible if c not in pks]
        return classify_changelog(self.spark.table(view), pks, payload)

    def create_reader_view(self, view_name: str | None = None) -> str:
        """Published read surface: tombstones filtered, internals hidden."""
        view = view_name or f"{self.identifier}_live"
        visible = ", ".join(f.name for f in self.spec.destination_schema().fields)
        self.spark.sql(
            f"CREATE OR REPLACE VIEW {view} AS "
            f"SELECT {visible} FROM {self.identifier} WHERE NOT {DELETED_COL}"
        )
        return view

    def full_refresh_from_envelopes(
        self,
        envelopes: DataFrame,
        epoch_id: int,
        watermark: int,
        namespace: str = "batch",
    ) -> int:
        """The SnapshotTable entry's twin: LWW-net projected change rows
        ``(dest cols..., lsn, op)`` (``spec.salt_buckets`` honored), drop
        delete winners and load the survivors through ``full_refresh``'s
        RTAS. Returns the survivor count, observed while the RTAS reads
        them (no second pass)."""
        from pyspark.sql import Observation

        spec = self.spec
        obs = Observation()
        survivors = (
            net_changes(
                envelopes, spec.primary_keys, spec.lsn_column, spec.op_column,
                salt_buckets=spec.salt_buckets,
            )
            .filter(F.col(spec.op_column) != spec.delete_op)
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        self.full_refresh(survivors, epoch_id, watermark, namespace)
        return int(obs.get["n"])

    def full_refresh(
        self,
        df: DataFrame,
        epoch_id: int = 0,
        watermark: int = 0,
        namespace: str = "batch",
    ) -> None:
        """Atomic whole-table (re)load: one stamped CREATE OR REPLACE TABLE AS.

        RTAS is Iceberg's atomic swap (staged table, single commit) — the
        reference's stage + rename_table (W4) — and, unlike INSERT OVERWRITE
        into a pre-existing table, it also absorbs breaking schema changes
        and target_buckets re-partitioning in the same commit. Rows are
        stamped with the covered watermark; any later event must carry a
        higher lsn to win the guarded MERGE. Baseline rides the summary too,
        so the streaming path can drop already-covered events
        (streaming/runner.py).
        """
        df.createOrReplaceTempView("_rdl_full")
        spec = self.spec
        sel = [c.destination for c in spec.columns]
        if spec.audit_columns:
            # epoch-derived literals, mirroring SnapshotTable._with_audit —
            # deterministic so a replayed refresh writes byte-identical rows
            sel += [
                f"CAST({int(epoch_id)} AS BIGINT) AS {AUDIT_EXEC_ID}",
                f"timestamp_seconds({int(epoch_id)}) AS {AUDIT_LOADED_AT}",
            ]
        sel += [
            f"CAST({int(watermark)} AS BIGINT) AS {LSN_COL}",
            f"false AS {DELETED_COL}",
        ]
        key = epoch_key(epoch_id, namespace)
        self._run_stamped_sql(
            {
                _STAMP_KEY: _encode_stamp(key, watermark),
                _BASELINE_KEY: str(int(watermark)),
            },
            f"""
            CREATE OR REPLACE TABLE {self.identifier}
            USING iceberg
            PARTITIONED BY (bucket({spec.target_buckets}, {spec.primary_keys[0]}))
            TBLPROPERTIES ({self._tblproperties_sql()})
            AS SELECT {', '.join(sel)} FROM _rdl_full
            """,
        )
        self._record_commit(key, int(watermark), int(watermark))
        self._props_cache = None  # RTAS rewrote the table properties

    # -- maintenance (SnapshotTable.expire_tombstones / vacuum twins) --------

    def expire_tombstones(self, below_lsn: int) -> None:
        """Drop tombstone rows with lsn ≤ ``below_lsn`` (snapshot.py:512 twin).

        Safe once the caller knows no out-of-order event older than
        ``below_lsn`` can still arrive. With merge-on-read this is a
        delete-file append, folded into data files by ``compact()``. The
        commit carries no rdl.stamp — maintenance snapshots are exactly the
        "foreign" snapshots the readers skip.
        """
        self.spark.sql(
            f"DELETE FROM {self.identifier} "
            f"WHERE {DELETED_COL} AND {LSN_COL} <= {int(below_lsn)}"
        )

    def compact(self, sort_order: str | None = None) -> None:
        """Fold merge-on-read delete files back into data files
        (rewrite_data_files — the async compaction the module docstring
        budgets for at 10^10 events). With ``sort_order`` (e.g.
        ``"conv_id, turn_idx"``) the rewrite also sort-clusters rows —
        the SnapshotTable.optimize twin: row-group stats then prune point
        lookups inside each bucket."""
        catalog, _, table = self.identifier.partition(".")
        extra = (
            f", strategy => 'sort', sort_order => {_sql_quote(sort_order)}"
            if sort_order
            else ""
        )
        self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{table}'{extra})"
        )

    def zorder(self, cols: list[str]) -> None:
        """Z-order rewrite — the ``SnapshotTable.optimize(zorder_cols=…)``
        twin, delegated to Iceberg's native procedure:
        ``rewrite_data_files(strategy => 'sort', sort_order =>
        'zorder(c1, c2)')``. Multi-column row-group/file pruning; the
        snapshot sink's operators/layout.py documents the why."""
        catalog, _, table = self.identifier.partition(".")
        zexpr = f"zorder({', '.join(cols)})"
        self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{table}', "
            f"strategy => 'sort', sort_order => {_sql_quote(zexpr)})"
        )

    def rollback_to(self, snapshot_id: int) -> None:
        """Restore the table to an earlier snapshot — the
        ``SnapshotTable.rollback`` twin (``CALL rollback_to_snapshot``).
        Same append-only contract: Iceberg keeps the rolled-back-from
        snapshot until expiry, and the replay guard + watermark revert
        with the restored snapshot's summary stamps, so the next run
        re-ingests the tail exactly-once."""
        catalog, _, table = self.identifier.partition(".")
        self.spark.sql(
            f"CALL {catalog}.system.rollback_to_snapshot(table => '{table}', "
            f"snapshot_id => {int(snapshot_id)})"
        )
        self._meta_cache = None  # stamps changed: re-read the guard set

    def expire_snapshots(self, retain_last: int = 100) -> None:
        """Snapshot expiry — the SnapshotTable.vacuum twin.

        Expiring snapshots also deletes their summaries, i.e. the replay
        guard forgets epochs older than the retained window. That is SAFE
        here, by the same argument that makes out-of-order delivery safe:
        a re-applied ancient epoch meets the sequence guard
        (``s.lsn > t._rdl_lsn``) on every row and its deletes re-assert
        tombstones that already exist — wasted work, never wrong data. The
        guard set is an optimization horizon, not a correctness horizon;
        ``retain_last`` only needs to cover the window in which replays are
        *likely* (a streaming restart, a re-run backlog).
        """
        catalog, _, table = self.identifier.partition(".")
        self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots(table => '{table}', "
            f"retain_last => {int(retain_last)})"
        )
        self._meta_cache = None  # stamps may have been dropped: re-read
