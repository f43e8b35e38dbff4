"""DataLoadManager — the engine's orchestration / control plane.

Reference: ``modules/DataLoadManager.py::start_imports / start_single_import``
(SURVEY.md §2.1 C1, §3): per model, read the checkpoint, probe change
tracking, choose full vs incremental, run, commit the new sync version.

All control flow here is pure Python around lazy DataFrame plans; Spark
(Catalyst + AQE) owns the physical execution. Batch-mode epochs are keyed by
the log's current max lsn, so re-running the same load against an unchanged
log is a detected no-op — the batch analog of the streaming commit manifest.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relational_data_loader_spark.operators.lww import net_changes
from relational_data_loader_spark.operators.project import project_cast
from relational_data_loader_spark.plans.decision import LoadDecision, decide
from relational_data_loader_spark.sinks.iceberg import IcebergTable
from relational_data_loader_spark.sinks.snapshot import MergeStats, SnapshotTable
from relational_data_loader_spark.sources.readers import (
    change_tracking_info,
    read_change_log,
)
from relational_data_loader_spark.spec import IngestSpec, gate_compat
from relational_data_loader_spark.state import StateTable


@dataclass
class RunResult:
    decision: LoadDecision
    rows_upserted: int
    rows_deleted: int
    watermark: int
    epoch_id: int
    skipped: bool
    wall_ms: int
    n_chunks: int = 1            # incremental apply chunks (spec.batch_size)
    salt_buckets: int = 0        # salt factor the netting actually used
    # audit-mode data-quality counts ({check: n_violations} summed across
    # chunks; None when the spec declares no expectations). Enforce mode
    # never reaches a RunResult — it raises ExpectationFailedError instead.
    dq_violations: dict[str, int] | None = None
    # rows detoured to the dead-letter table this run (lossy casts under
    # spec.on_cast_error="quarantine"); 0 in "fail" mode
    rows_quarantined: int = 0


class DataLoadManager:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.state = StateTable(os.path.join(warehouse, "_rdl_state"))

    def table(self, spec: IngestSpec):
        """Sink routing (reference: the dst-conn CLI arg picking the writer).

        ``spec.sink`` selects the destination: ``snapshot`` (default) is the
        parquet fallback table under the warehouse; ``iceberg://cat.db.tbl``
        is the production Iceberg sink — its constructor fails loudly when
        the runtime jars are absent rather than silently writing to a
        different physical table. Both implement the same surface
        (exists/watermark/stored_*/full_refresh_from_envelopes/
        merge→MergeStats/evolve) and both take projected, un-netted
        envelopes: each sink nets its own — the snapshot sink inside the LWW
        window of its bucketed write, Iceberg ahead of its MERGE INTO / RTAS
        (which reject duplicate source keys).
        """
        if spec.sink.startswith("iceberg://"):
            identifier = spec.sink[len("iceberg://"):]
            if not identifier:
                raise ValueError(
                    f"spec {spec.name!r}: iceberg:// sink needs a "
                    "catalog.db.table identifier"
                )
            return IcebergTable(self.spark, identifier, spec)
        if spec.sink not in ("", "snapshot"):
            raise ValueError(f"spec {spec.name!r}: unknown sink {spec.sink!r}")
        return SnapshotTable(self.spark, os.path.join(self.warehouse, spec.name), spec)

    # -- the four dataflow stages, reused by batch + streaming ---------------

    def project(self, spec: IngestSpec, changes: DataFrame) -> DataFrame:
        """envelope scan → column mapping/cast/transform (no netting)."""
        return project_cast(changes, spec, include_envelope=True)

    def prepare_batch(self, spec: IngestSpec, changes: DataFrame) -> DataFrame:
        """project + explicit LWW netting — one row per PK.

        The epoch-apply path does not use this: every sink nets its own
        envelopes (``merge``/``full_refresh_from_envelopes``). It serves
        callers that need the netted frame itself — ``final_state`` and
        ``replay_dlq``, whose dead-letter dirs may hold one event twice.

        The net is salted only under a ``spec.salt_buckets`` pin — the
        engine never auto-salts. The default merge plans its
        WindowGroupLimit in Final mode only (below the bucket repartition
        there is no map-side Partial), so a hot PK is bounded by
        ``spec.batch_size`` chunking plus this pin; ``detect_hot_keys``
        (operators/skew.py) is the sampled observability probe an operator
        uses to decide a pin.
        """
        return net_changes(
            self.project(spec, changes), spec.primary_keys, spec.lsn_column,
            spec.op_column, salt_buckets=spec.salt_buckets,
        )

    def final_state(self, spec: IngestSpec, log: DataFrame) -> DataFrame:
        """Replay a whole log to its final table state (full-refresh source)."""
        netted = self.prepare_batch(spec, log)
        return netted.filter(F.col(spec.op_column) != spec.delete_op).select(
            *[c.destination for c in spec.columns]
        )

    def apply_epoch(
        self,
        table,
        spec: IngestSpec,
        envelopes: DataFrame,
        epoch_id: int,
        namespace: str,
        kind: str,
    ) -> MergeStats:
        """Merge one epoch's projected envelopes into ``table`` and, unless
        the sink skipped it as already applied, append its ``_rdl_state``
        rows under ``kind`` — the one merge-plus-lineage site of the chunk
        loop (``merge``), ``replay_dlq`` (``dlq_replay``) and the streaming
        micro-batch (``stream_merge``). The sink nets the envelopes;
        replay_dlq's ``prepare_batch`` output and the sparse densify carry
        one row per key already, and say so (``netted``)."""
        stats = table.merge(
            envelopes, epoch_id, namespace,
            netted=kind == "dlq_replay" or spec.envelope == "sparse",
        )
        if not stats.skipped:
            self.state.append(
                spec.name, epoch_id, stats.bucket_stats or [], stats.wall_ms,
                kind=kind,
            )
        return stats

    # -- entry point -----------------------------------------------------------

    def _dlq_path(self, spec: IngestSpec) -> str:
        return os.path.join(self.warehouse, f"{spec.name}_dlq")

    @staticmethod
    def _null_delete_payloads(spec: IngestSpec, df: DataFrame) -> DataFrame:
        """Null the non-PK source columns of DELETE envelopes (quarantine
        mode only). A delete applies by key alone, so its payload bytes are
        contractually meaningless — but a garbage payload on the raw wire
        would still explode the projection's ANSI cast downstream. The
        engine's own derived feeds already null them; a real CT/CDC source
        does not promise to."""
        is_del = F.col(spec.op_column) == F.lit(spec.delete_op)
        out = df
        for c in spec.columns:
            if not c.primary_key:
                out = out.withColumn(
                    c.source,
                    F.when(is_del, F.lit(None)).otherwise(F.col(c.source)),
                )
        return out

    def _quarantine_split(
        self,
        spec: IngestSpec,
        changes: DataFrame,
        epoch_hi: int,
        prefix: str = "e",
    ) -> tuple[DataFrame, int]:
        """Dead-letter split of one epoch's RAW envelopes (spec.on_cast_error
        = "quarantine"): rows with lossy declared casts (operators/project.py
        flag_lossy_casts — deletes exempt on non-PK columns) are written to
        ``<warehouse>/<name>_dlq/e<epoch_hi>`` with their error list, and
        the clean remainder proceeds to the normal pipeline.

        Idempotence: the DLQ directory is keyed by the epoch's upper bound
        and written with overwrite — a crash-replayed chunk rewrites the
        identical poison set instead of duplicating it (the same argument
        as the chunk loop's epoch keys). Cost: quarantine mode reads the
        chunk twice (poison write + clean path), both scans
        pruned/filter-pushed; "fail" mode pays nothing.
        """
        if spec.on_cast_error != "quarantine":
            return changes, 0
        import shutil

        from pyspark.sql import Observation

        from relational_data_loader_spark.operators.project import (
            QUARANTINE_ERRORS_COL,
            flag_lossy_casts,
        )

        flagged = flag_lossy_casts(changes, spec)
        bad = flagged.filter(F.size(QUARANTINE_ERRORS_COL) > 0)
        # "e<lsn-hi>" for batch chunks, "s<batchId>" for streaming
        # micro-batches — two independent epoch counters, like the sink's
        # batch/stream namespaces
        dest = os.path.join(self._dlq_path(spec), f"{prefix}{int(epoch_hi)}")
        obs = Observation()
        bad.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(dest)
        n_bad = int(obs.get["n"])
        if n_bad == 0:
            shutil.rmtree(dest, ignore_errors=True)  # keep the DLQ readable
            # nothing to filter, but a delete's garbage payload must still
            # be nulled before the projection casts it
            return self._null_delete_payloads(spec, changes), 0
        good = flagged.filter(F.size(QUARANTINE_ERRORS_COL) == 0).drop(
            QUARANTINE_ERRORS_COL
        )
        return self._null_delete_payloads(spec, good), n_bad

    def replay_dlq(self, spec: IngestSpec) -> RunResult:
        """Re-admit quarantined rows after a spec fix (widen / transform).

        Reads every dead-letter directory, re-flags the RAW envelopes under
        the CURRENT spec, and merges the now-clean rows through the sink's
        normal version-guarded LWW merge — a replayed event applies only
        where its lsn still wins, so the final state converges to the
        full-replay-under-fixed-spec oracle, and the table watermark never
        moves (replayed lsns are ≤ it by construction). Rows that still
        fail are RETAINED.

        Exactly-once: the merge's epoch key is ``dlq:<seq>`` with ``seq`` =
        1 + the largest retained-marker sequence on disk. The retained set
        is written to ``r<seq>`` BEFORE the consumed directories are
        removed, so a crash anywhere in the sequence loses nothing: rows
        may transiently exist in both an old ``e*`` dir and ``r<seq>``
        (duplicates are harmless — the replay pre-nets by PK+lsn and the
        merge is LWW), and a rerun either skips on the epoch key (crash
        before cleanup, same seq) or replays a superset that nets to the
        same state. The latest ``r<seq>`` marker is always kept, even
        empty: it is the monotone sequence floor that stops a future
        replay from reusing an already-applied ``dlq:<n>`` key.

        Sink caveat: the SNAPSHOT sink's quarantine-mode full refresh
        stamps per-row lsns and keeps tombstones precisely so this replay
        can LWW against it (sinks/snapshot.py full_refresh_from_envelopes);
        the jar-gated Iceberg sink has not had the equivalent treatment —
        replaying into an Iceberg table whose INITIAL load ran as a full
        refresh would lose sub-baseline events. Incremental-built Iceberg
        tables carry true per-row lsns and replay correctly.
        """
        import shutil

        t0 = time.time()
        from relational_data_loader_spark.operators.project import (
            QUARANTINE_ERRORS_COL,
            flag_lossy_casts,
        )

        table = self.table(spec)
        dlq = self._dlq_path(spec)
        entries = sorted(os.listdir(dlq)) if os.path.isdir(dlq) else []
        dirs = [
            os.path.join(dlq, d)
            for d in entries
            if os.path.isdir(os.path.join(dlq, d))
        ]
        decision = LoadDecision(
            kind="dlq_replay", reasons=[f"{len(dirs)} dead-letter dirs"]
        )
        seq = 1 + max(
            (int(d[1:]) for d in entries if d.startswith("r") and d[1:].isdigit()),
            default=0,
        )
        if not dirs:
            return RunResult(
                decision, 0, 0,
                table.watermark() if table.exists() else -1,
                0, True, int((time.time() - t0) * 1000),
            )
        # mergeSchema + null-fill: DLQ dirs written before an additive spec
        # evolution lack the new source columns; those rows replay with
        # NULL there (exactly what the live table's old rows carry)
        raw = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*dirs)
            .drop(QUARANTINE_ERRORS_COL)
        )
        for c in spec.columns:
            if c.source not in raw.columns:
                raw = raw.withColumn(c.source, F.lit(None).cast("string"))
        flagged = flag_lossy_casts(raw, spec)
        good = flagged.filter(F.size(QUARANTINE_ERRORS_COL) == 0).drop(
            QUARANTINE_ERRORS_COL
        )
        still_bad = flagged.filter(F.size(QUARANTINE_ERRORS_COL) > 0)

        prepared = self.prepare_batch(
            spec, self._null_delete_payloads(spec, good)
        )
        stats = self.apply_epoch(table, spec, prepared, seq, "dlq", "dlq_replay")

        retained = os.path.join(dlq, f"r{seq}")
        still_bad.write.mode("overwrite").parquet(retained)
        for d in dirs:
            if d != retained:
                shutil.rmtree(d, ignore_errors=True)
        return RunResult(
            decision,
            stats.rows_upserted,
            stats.rows_deleted,
            table.watermark(),
            seq,
            stats.skipped,
            int((time.time() - t0) * 1000),
        )

    def _dq_gate(self, spec: IngestSpec, changes) -> dict[str, int] | None:
        """Admission gate (spec.expectations): evaluate the violation
        expressions over the epoch's PROJECTED upsert rows (deletes exempt
        — their payload is NULL by envelope contract) in one
        conditional-count pass, BEFORE anything commits.

        Enforce mode raises and commits nothing — at-least-once safe: the
        watermark did not advance, so the epoch reruns identically once
        the source is fixed. Audit mode returns the counts for RunResult.
        The pass costs one extra scan of the chunk; enforce semantics
        require pre-commit counts, so it cannot ride the write's Observe.
        """
        if not spec.expectations:
            return None
        from relational_data_loader_spark.operators.quality import (
            ExpectationFailedError,
            gate_counts,
        )

        ups = self.project(spec, changes).filter(
            F.col(spec.op_column) != spec.delete_op
        )
        counts = gate_counts(ups, spec.expectations)
        if spec.expectations_mode == "enforce":
            bad = {k: v for k, v in counts.items() if v}
            if bad:
                raise ExpectationFailedError(spec.name, bad)
        return counts

    def run_with_retry(
        self,
        spec: IngestSpec,
        max_attempts: int = 3,
        force_full: bool = False,
        branch: str | None = None,
    ) -> RunResult:
        """``run`` under optimistic concurrency: when another writer wins
        the manifest version race (``ConcurrentCommitError``), re-plan and
        retry instead of failing the load. Safe by construction: the loser
        tracked NOTHING (state append happens only after a successful
        commit), so the retry's decision re-reads the WINNER's watermark
        and applied-epochs set — epochs the winner already landed are
        detected as no-ops, and only genuinely missing work is re-applied.
        The losing attempt's data files are orphans until ``vacuum``.

        This is the manifest-sink twin of Iceberg's internal
        CommitFailedException retry loop; the Iceberg sink doesn't need it
        (its catalog does the same re-plan JVM-side). Branch-publish
        divergence is NOT retried — a non-fast-forward publish means the
        audit ran against a stale base and must be re-staged deliberately.
        """
        from relational_data_loader_spark.sinks.snapshot import (
            ConcurrentCommitError,
        )

        last_err: ConcurrentCommitError | None = None
        for _ in range(max(1, int(max_attempts))):
            try:
                return self.run(spec, force_full=force_full, branch=branch)
            except ConcurrentCommitError as e:
                last_err = e
        raise ConcurrentCommitError(
            f"load {spec.name!r} lost the commit race {max_attempts} times; "
            "a writer storm needs coordination, not more retries"
        ) from last_err

    def run(
        self,
        spec: IngestSpec,
        force_full: bool = False,
        branch: str | None = None,
    ) -> RunResult:
        """One load execution: decide, run, commit, track (reference C1+C3).

        ``branch`` stages the whole load onto a WAP branch
        (``SnapshotTable.branch``): the decision reads the branch head
        (falling back to main at the fork), the commit lands in the branch
        namespace, and main readers see NOTHING until
        ``table.publish_branch(branch)``. Audit between run and publish —
        spec expectations in audit mode, fsck, ad-hoc reads on the branch
        view. Batch path only (a streaming query owns its sink)."""
        t0 = time.time()
        table = self.table(spec)
        if branch is not None:
            if not hasattr(table, "branch"):
                raise ValueError(
                    f"sink {spec.sink!r} does not support WAP branches"
                )
            table = table.branch(branch)
        log = read_change_log(self.spark, spec)

        # sink-generic control surface (manifest for SnapshotTable, snapshot
        # summaries + table properties for IcebergTable)
        exists = table.exists()
        last = table.watermark() if exists else -1
        cti = change_tracking_info(log, last, spec.lsn_column)
        stored_json = table.stored_spec_json() if exists else None
        stored_spec = IngestSpec.from_json(stored_json) if stored_json else None
        stored_ck = table.stored_checksum() if exists else None
        gate_compat(spec, stored_spec)
        decision = decide(
            spec,
            target_exists=exists,
            stored_checksum=stored_ck,
            stored_spec=stored_spec,
            ct_force_full=cti.force_full,
            forced=force_full,
            pk_widen_rebuckets=not getattr(
                table, "width_stable_bucket_hash", False
            ),
        )

        if decision.kind == "incremental" and (
            decision.evolve_added or decision.evolve_renames or decision.evolve_widened
        ):
            table.evolve(spec, decision.evolve_renames, decision.evolve_widened)

        if decision.kind == "full_refresh":
            epoch_id = cti.current_version
            wm = max(cti.current_version, 0)
            log, n_quar = self._quarantine_split(spec, log, epoch_id)
            dq = self._dq_gate(spec, log)
            envelopes = self.project(spec, log)
            if spec.envelope == "sparse":
                # sparse wire format: fold column-wise (operators/sparse.py)
                # — LWW netting would stamp every untouched column NULL. The
                # fold leaves one live row per key at its max lsn; an upsert
                # op tag makes that row an envelope the sink keeps.
                from relational_data_loader_spark.operators.sparse import (
                    fold_sparse_envelopes,
                )

                envelopes = fold_sparse_envelopes(
                    envelopes,
                    spec.primary_keys,
                    spec.lsn_column,
                    spec.op_column,
                    [c.destination for c in spec.columns if not c.primary_key],
                ).withColumn(spec.op_column, F.lit(spec.upsert_ops[0]))
            # the sink nets, drops deletes and writes, counting survivors
            # during the write
            n = table.full_refresh_from_envelopes(
                envelopes, epoch_id=epoch_id, watermark=wm
            )
            wall = int((time.time() - t0) * 1000)
            self.state.append(
                spec.name,
                epoch_id,
                [
                    {
                        "partition_id": -1,
                        "max_applied_lsn": wm,
                        "rows_upserted": n,
                        "rows_deleted": 0,
                    }
                ],
                wall,
                kind="full_refresh",
            )
            return RunResult(
                decision, n, 0, table.watermark(), epoch_id, False, wall,
                dq_violations=dq, rows_quarantined=n_quar,
            )

        # incremental: only events past the committed watermark (each chunk
        # below filters the log on its own lsn range directly).
        lsn = spec.lsn_column
        # LSNs are unique monotone integers, so the lsn RANGE is a rigorous
        # upper bound on unapplied rows — sizing decisions below need no
        # counting pass over the data (a count() here would add a full scan
        # to every incremental epoch; measured as a scaling dilutant)
        lsn_range = max(cti.current_version - last, 0)

        # skew: the default merge window rides the bucket repartition, where
        # Spark plans its WindowGroupLimit in Final mode only — no map-side
        # Partial — so every raw envelope of a chunk reaches its bucket's
        # reducer. A hot PK is bounded by the batch_size chunking below
        # (≤ batch_size envelopes per epoch) and, when pinned,
        # spec.salt_buckets > 1, whose two-phase salted pre-net the sink
        # runs before its window (operators/lww.py). detect_hot_keys
        # (operators/skew.py) is the sampled probe for deciding a pin.
        salt = spec.salt_buckets

        # chunked apply (reference C2's batch loop, spec.batch_size): a large
        # unapplied range splits into equal lsn-bounded chunks, each netted
        # and manifest-committed separately — a 10^10-event backlog replays
        # with bounded per-epoch state (≤ batch_size rows per chunk, by the
        # range bound) and resumes mid-backlog from the last committed
        # chunk's watermark. Pure arithmetic — no quantile/count pass; with
        # sparse lsns chunks run under-full, and their per-chunk scans stay
        # cheap because the lsn-ordered log prunes to each chunk's row
        # groups. Each chunk's epoch key is its upper bound, replay-safe: a
        # committed chunk covering (lo, hi] advanced the watermark to its
        # max lsn, so a recomputed chunk ending at the same hi can only be
        # empty.
        bounds: list[int] = [cti.current_version]
        if spec.batch_size and 0 < spec.batch_size < lsn_range:
            k = -(-lsn_range // spec.batch_size)
            step = -(-lsn_range // k)
            bounds = [
                min(last + i * step, cti.current_version) for i in range(1, k + 1)
            ]

        total_up = total_del = total_quar = 0
        applied_any = False
        chunks_run = 0
        lo = last
        dq_total: dict[str, int] | None = None
        for hi in bounds:
            if hi <= lo:
                continue
            chunks_run += 1
            chunk = log.filter((F.col(lsn) > F.lit(lo)) & (F.col(lsn) <= F.lit(hi)))
            chunk, n_quar = self._quarantine_split(spec, chunk, hi)
            total_quar += n_quar
            dq = self._dq_gate(spec, chunk)
            if dq is not None:
                dq_total = {
                    k: (dq_total or {}).get(k, 0) + v for k, v in dq.items()
                }
            if spec.envelope == "sparse":
                # densify the patch chunk against the committed table, then
                # the standard full-row merge applies it (netted: densify
                # emits exactly one envelope per key). The lsn-ordered chunk
                # loop guarantees the per-key in-order delivery column-level
                # LWW needs across epochs (operators/sparse.py caveat).
                from relational_data_loader_spark.operators.sparse import (
                    densify_sparse_batch,
                )

                prepared = densify_sparse_batch(
                    table,
                    self.project(spec, chunk),
                    spec.primary_keys,
                    spec.lsn_column,
                    spec.op_column,
                    [c.destination for c in spec.columns if not c.primary_key],
                )
            else:
                prepared = self.project(spec, chunk)
            stats = self.apply_epoch(table, spec, prepared, hi, "batch", "merge")
            applied_any = applied_any or not stats.skipped
            total_up += stats.rows_upserted
            total_del += stats.rows_deleted
            lo = hi
        return RunResult(
            decision,
            total_up,
            total_del,
            table.watermark(),
            cti.current_version,
            not applied_any,
            int((time.time() - t0) * 1000),
            n_chunks=max(chunks_run, 1),
            salt_buckets=salt,
            dq_violations=dq_total,
            rows_quarantined=total_quar,
        )
