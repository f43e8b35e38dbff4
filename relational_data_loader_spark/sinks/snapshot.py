"""HashSnapshotSink — an atomic, bucket-pruned, exactly-once parquet table.

Role in the design: the production sink is Iceberg ``MERGE INTO``
(``sinks/iceberg.py``; merge-on-read, file-level pruning, snapshot
isolation). This sandbox has no Iceberg jars (SURVEY.md §7.4), so this
module implements the same *contract* over plain parquet — a mini table
format:

- **Atomic snapshot swap** — every commit writes data files under a fresh
  commit dir, then publishes a JSON manifest via ``os.rename`` (atomic on
  POSIX). Readers resolve the highest committed manifest; a crashed commit
  leaves only unreferenced files. This is the reference's staging-table +
  rename-in-transaction (``modules/DestinationTableManager.py::rename_table``
  — SURVEY.md §2.1 W4) re-expressed as snapshot isolation.
- **Hash-bucket layout** — rows are laid out by
  ``pmod(xxhash64(bucket_key), n_buckets)``. A MERGE only reads & rewrites
  the buckets its batch touches; untouched buckets are carried into the new
  manifest as file references (metadata-only). At 10^10 rows this is the
  difference between rewriting the table per micro-batch and rewriting
  ~(touched buckets / n_buckets) of it — the parquet-fallback analog of
  Iceberg's file-level MERGE pruning.
- **Exactly-once commit manifests** — each manifest records the set of
  applied epoch ids; re-applying a committed epoch is a no-op
  (``merge(...)`` returns ``skipped=True``). This formalizes the reference's
  commit-version-after-apply ordering contract (SURVEY.md §3.2 note) into a
  transactional idempotence key, which `foreachBatch` (at-least-once) needs.
  Epoch ids are **namespaced by producer** (``batch:<lsn>`` for the batch
  manager, whose epochs are log positions; ``stream:<id>`` for Structured
  Streaming, whose batchIds count 0,1,2,…) — one shared un-namespaced set
  would let a long-lived stream's batchId collide with a committed batch
  LSN and silently skip real data.
- **Version-guarded MERGE (out-of-order safety)** — every stored row carries
  its change version (``_rdl_lsn``) and deletes persist as **tombstone rows**
  (``_rdl_deleted``). The merge is last-writer-wins *against the target*:
  a batch row replaces a stored row only if its lsn is higher. This is what
  makes exactly-once hold under Structured Streaming's real delivery
  semantics — the file source orders micro-batches by file mtime, NOT by
  lsn, and around a kill/resume it can deliver segment [1537,1920] before
  [1153,1536] (observed in this repo's own kill/resume test). A global
  "drop if lsn ≤ max applied" filter silently loses such permuted segments;
  version-guarded merge applies them correctly in any order. Tombstones are
  what keeps an out-of-order stale INSERT from resurrecting a newer DELETE.
  Only events at or below the **full-refresh baseline** watermark are
  dropped outright — a baseline snapshot really does cover its whole lsn
  range. (Iceberg twin: sequence-number-guarded MERGE INTO with soft-delete
  rows — sinks/iceberg.py.)
- **Merge-on-read deltas (spec.merge_mode="mor")** — the write-side twin of
  the bucket-pruned CoW merge. With hashed PKs, even a tiny batch touches
  ~every bucket, so CoW write cost is O(table) per epoch no matter how small
  the batch: at 10^10 rows the tail of a CDC stream rewrites the whole table
  every few minutes. MoR merges instead APPEND the epoch's envelopes as
  bucketed **delta files** (one bucketed write of the batch — no base read
  at all), recorded per bucket under the manifest's ``deltas`` map with a
  monotone ``_rdl_seq`` written into the rows. Every read path assembles
  state by folding base ∪ deltas with the SAME LWW window the CoW merge
  uses — order by (lsn DESC, seq DESC), so out-of-order and tombstone
  semantics are identical in both modes — and buckets without deltas skip
  the fold entirely (zero read tax once compacted). ``compact_deltas()``
  folds the debt back into base files (one bucket-clustered shuffle,
  kind="compact_deltas"); ``spec.mor_compact_files`` auto-triggers it when
  any bucket's delta pile exceeds the threshold, because per-bucket delta
  file count IS that bucket's read amplification. The two modes interleave
  safely: a CoW merge on a table with pending deltas folds them into the
  buckets it rewrites. This is Hudi's MoR table type / Iceberg v2
  write.merge.mode re-expressed over the manifest sink.
- **Layout pinning** — every manifest records the ``n_buckets`` the files
  were laid out with. MERGE always prunes/rewrites against the *committed*
  layout, never the live spec: a spec edit to ``target_buckets`` must not
  make bucket lookups miss the files that actually hold matching PKs
  (silent stale-duplicate corruption). Re-bucketing happens only through a
  full refresh (``plans/decision.py`` forces one on a layout change).

Single-writer per table, like the reference. Manifests accumulate epoch ids
and file references; a production deployment compacts old manifests/files
(Iceberg: snapshot expiry) — out of scope here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from glob import glob
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from relational_data_loader_spark.operators.lww import net_changes
from relational_data_loader_spark.operators.watermark import bucket_expr
from relational_data_loader_spark.session import cached_columns
from relational_data_loader_spark.spec import AUDIT_EXEC_ID, AUDIT_LOADED_AT, IngestSpec

_BUCKET_COL = "_bucket"
# internal per-row columns (never user-visible): the row's change version
# and the soft-delete marker that make the MERGE version-guarded
LSN_COL = "_rdl_lsn"
DELETED_COL = "_rdl_deleted"
# merge-on-read only: commit-ordinal written into delta rows so the read
# fold can break equal-lsn ties toward the LATER epoch — the same
# batch-beats-target rule the CoW merge window applies via _rdl_src. Base
# rows fold at seq 0; the manifest's next_delta_seq hands out 1, 2, ...
SEQ_COL = "_rdl_seq"

# a file-pruning predicate over one file's manifest ``file_stats`` record
Keep = Callable[[dict[str, Any]], bool]
# one bucket's lineage of a merge epoch: (bucket, max lsn, upserts, deletes)
EpochRow = tuple[int, int, int, int]


class ConcurrentCommitError(RuntimeError):
    """Another writer linked this manifest version first. The loser's data
    files are orphans (vacuum reclaims them); its STATE is untouched —
    nothing was tracked, so re-running the load re-plans against the
    winner's committed watermark and applies only what is still missing.
    That re-plan-and-retry loop is ``DataLoadManager.run_with_retry`` —
    the same optimistic-concurrency protocol Iceberg's commit path runs
    internally (retry on CommitFailedException), surfaced here because the
    manifest sink's link(2) commit has no JVM to hide it in. Branch
    PUBLISH divergence is deliberately NOT this type: a non-fast-forward
    publish needs re-staging, not a blind retry."""


def epoch_key(epoch_id: int, namespace: str) -> str:
    """Namespaced idempotence key for the applied-epochs set. ``batch``
    epochs are log positions, ``stream`` epochs micro-batch ids, ``dlq``
    epochs dead-letter replay sequence numbers (plans/manager.py
    replay_dlq), ``backfill`` epochs snapshot chunk indexes
    (plans/backfill.py) — independent counters that must never collide."""
    if namespace not in ("batch", "stream", "dlq", "backfill"):
        raise ValueError(f"unknown epoch namespace {namespace!r}")
    return f"{namespace}:{int(epoch_id)}"


def _normalize_epoch_keys(keys: list) -> set[str]:
    # round-1 manifests stored bare ints (all written by the batch manager)
    return {k if isinstance(k, str) and ":" in k else f"batch:{k}" for k in keys}


@dataclass
class MergeStats:
    epoch_id: int
    skipped: bool
    touched_buckets: int
    # EVENT counts (raw envelopes applied, split by op) — the reference's
    # tracker counted rows transferred per batch; since netting is fused
    # into the merge window, events are what the epoch actually carried
    rows_upserted: int
    rows_deleted: int
    watermark: int
    wall_ms: int
    # per-bucket (partition_id, max_applied_lsn, rows_upserted, rows_deleted)
    # rows for the _rdl_state lineage table (FIXTURES.md F4)
    bucket_stats: list[dict] | None = None


@dataclass(frozen=True)
class _EpochColumns:
    """Column expressions of an epoch apply under one (spec, layout),
    built once and reused by every epoch (``SnapshotTable._epoch_columns``)."""

    dest: list[Column]     # the destination columns, in spec order
    version: list[Column]  # _rdl_lsn (the change version) and _rdl_deleted
    bucket: Column         # _bucket under the layout
    rank: Column           # row_number per (_bucket, pk...) by lsn desc
    # what a merge-on-read write observes: histogram_numeric over
    # bucket*2 + deleted, max(_rdl_lsn), count(*)
    observed: list[Column]
    # copy-on-write: the stored rows of the touched buckets as envelopes
    target: list[Column]


class SnapshotTable:
    """A versioned parquet table addressed by manifest, bucketed on the first PK."""

    # the parquet layout buckets by xxhash64, which is width-sensitive —
    # widening the bucket key re-buckets (plans/decision.py)
    width_stable_bucket_hash = False

    def __init__(self, spark: SparkSession, path: str, spec: IngestSpec):
        self.spark = spark
        self.path = path
        self.spec = spec
        self.bucket_key = spec.primary_keys[0]
        self.n_buckets = spec.target_buckets
        self._branch: str | None = None
        os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # ---- manifest plumbing -------------------------------------------------

    def _manifest_files(self) -> list[str]:
        """Main-line committed manifests only — branch staging lives in its
        own namespace (``_manifests/branches/<name>/``) so nothing that
        walks main history (vacuum retention windows, rollback, CDF) ever
        sees an unpublished commit."""
        return sorted(glob(os.path.join(self.path, "_manifests", "v*.json")))

    def current_manifest(self) -> dict[str, Any] | None:
        if self._branch:
            staged = self._branch_files(self._branch)
            if staged:
                with open(staged[-1]) as f:
                    return json.load(f)
            # branch has no staged commit yet: reads/merges resolve the
            # main head (the fork point the first staged commit will pin)
        files = self._manifest_files()
        if not files:
            return None
        with open(files[-1]) as f:
            return json.load(f)

    def exists(self) -> bool:
        return self.current_manifest() is not None

    def manifest_at(self, version: int) -> dict[str, Any]:
        """Committed manifest for a specific version. Raises if the version
        was never committed. Note ``vacuum`` deletes DATA files referenced
        only by manifests older than its ``keep_manifests`` window, so time
        travel / CDF are reliable within that retention window — the same
        contract as Iceberg snapshot expiry."""
        sub = (
            os.path.join("_manifests", "branches", self._branch)
            if self._branch
            else "_manifests"
        )
        path = os.path.join(self.path, sub, f"v{version:08d}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"version {version} not available for {self.spec.name!r} "
                f"(never committed, or expired by vacuum)"
            )
        with open(path) as f:
            return json.load(f)

    def _manifest(self, version: int | None) -> dict[str, Any] | None:
        """The head (``version`` None) or a time-travel manifest."""
        return self.current_manifest() if version is None else self.manifest_at(version)

    def _layout(self, m: dict[str, Any]) -> int:
        """Bucket count ``m``'s files were laid out with (pre-pinning
        manifests fall back to the live spec)."""
        return int(m.get("n_buckets", self.n_buckets))

    def _file_stats(self, manifest: dict[str, Any]) -> dict[str, Any]:
        """Per-file integrity facts for every data file the manifest
        references: byte size + parquet-footer row count. New files are
        stat'ed once at commit time (footer reads only — metadata pages,
        never data); files carried over from the previous manifest reuse
        its recorded stats, so the cost per commit is O(files touched),
        not O(table). This is what ``fsck`` later verifies against — the
        detection half of Iceberg's manifest-entry stats."""
        prev = self.current_manifest() or {}
        # stats the caller pre-seeded on the manifest are trusted alongside
        # the previous commit's (clone_to carries the source's so a shallow
        # clone stays metadata-only; rollback/publish carry theirs the same
        # way) — files covered by neither still get a one-time footer read
        known: dict[str, Any] = {
            **prev.get("file_stats", {}),
            **(manifest.get("file_stats") or {}),
        }
        stats: dict[str, Any] = {}
        referenced = list(manifest["buckets"].values()) + list(
            (manifest.get("deltas") or {}).values()
        )
        for files in referenced:
            for rel in files:
                if (
                    rel in known
                    and "minmax" in known[rel]
                    and "tombstones" in known[rel]
                ):
                    stats[rel] = known[rel]
                    continue
                # new file, or carried over from a pre-zone-map /
                # pre-tombstone-count manifest (one-time lazy upgrade)
                full = os.path.join(self.path, rel)
                pf = pq.ParquetFile(full)
                carried = dict(known.get(rel) or {})
                carried.update(
                    {
                        "bytes": os.path.getsize(full),
                        "rows": pf.metadata.num_rows,
                        "minmax": self._footer_zone_maps(pf),
                        "tombstones": self._file_tombstones(full, pf),
                    }
                )
                stats[rel] = carried
        return stats

    @staticmethod
    def _file_tombstones(full: str, pf: pq.ParquetFile) -> int:
        """Exact count of tombstone rows (``_rdl_deleted`` true) in one
        data file — the stat that makes ``fast_count`` a metadata-only
        read, the way Iceberg's delete-file row counts make its scan-less
        ``count(*)`` possible. Decided from footer statistics alone when
        every row group is homogeneous (bool min/max: ``max=false`` ⇒ 0
        tombstones in the group, ``min=true`` ⇒ all non-null rows are);
        a MIXED group falls back to reading ONLY the bit-packed boolean
        column (~rows/8 bytes — never the payload columns). Merge output
        interleaves live rows and tombstones, so the fallback is the
        common case there; the point is that a count never opens ``text``.
        """
        md = pf.metadata
        names = [
            md.row_group(0).column(ci).path_in_schema
            for ci in range(md.num_columns)
        ] if md.num_row_groups else []
        if DELETED_COL not in names:
            return 0
        ci = names.index(DELETED_COL)
        total = 0
        for gi in range(md.num_row_groups):
            rg = md.row_group(gi)
            st = rg.column(ci).statistics
            if st is not None and st.null_count == rg.num_rows:
                continue  # all-null group: coalesce(NULL, false) = live
            if st is not None and st.has_min_max and st.max is False:
                continue  # no trues anywhere in the group
            if st is not None and st.has_min_max and st.min is True:
                total += rg.num_rows - (st.null_count or 0)
                continue
            # mixed group: one boolean-column read decides exactly
            import pyarrow.compute as pc

            col = pq.read_table(full, columns=[DELETED_COL]).column(0)
            s = pc.sum(col.cast("int64"))
            return int(s.as_py() or 0)
        return total

    @staticmethod
    def _zone_value(v: Any) -> Any:
        """JSON-storable, order-preserving encoding of a column statistic.
        ISO-8601 strings sort chronologically, so datetime/date compare
        correctly as strings after the JSON round-trip; long strings are
        rejected (parquet may truncate their footer stats, and a truncated
        max understates the true bound — pruning on it would be WRONG, not
        just loose)."""
        import datetime as _dt

        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, str):
            return v if len(v) <= 256 else None
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        return None

    @classmethod
    def _footer_zone_maps(cls, pf: pq.ParquetFile) -> dict[str, Any]:
        """Per-column file-level min/max from parquet row-group statistics
        — metadata pages only, never data. The manifest-entry zone maps
        Iceberg keeps natively; recording them at commit time is what lets
        ``read_range`` prune FILES (not just row groups inside files the
        scan already opened). A column is recorded only when every
        row group carries usable stats; all-null files are marked
        ``null_only`` (a range predicate can never match them — skip)."""
        md = pf.metadata
        out: dict[str, Any] = {}
        if md.num_row_groups == 0:
            return out
        for ci in range(md.num_columns):
            name = md.row_group(0).column(ci).path_in_schema
            if "." in name:  # nested leaves: not prunable at this level
                continue
            mins: list[Any] = []
            maxs: list[Any] = []
            usable = True
            for gi in range(md.num_row_groups):
                rg = md.row_group(gi)
                st = rg.column(ci).statistics
                if st is not None and st.null_count == rg.num_rows:
                    continue  # pure-null group: no min/max to contribute
                if st is None or not st.has_min_max:
                    usable = False
                    break
                lo, hi = cls._zone_value(st.min), cls._zone_value(st.max)
                if lo is None or hi is None:
                    usable = False
                    break
                mins.append(lo)
                maxs.append(hi)
            if not usable:
                continue
            if not mins:
                out[name] = {"null_only": True}
            else:
                out[name] = {"min": min(mins), "max": max(maxs)}
        return out

    def _commit(self, manifest: dict[str, Any]) -> dict[str, Any]:
        if self._branch:
            return self._commit_to_branch(manifest)
        files = self._manifest_files()
        version = 1 + (
            int(os.path.basename(files[-1])[1:-5]) if files else 0
        )
        manifest["file_stats"] = self._file_stats(manifest)
        manifest["version"] = version
        manifest["committed_at"] = time.time()
        final = os.path.join(self.path, "_manifests", f"v{version:08d}.json")
        return self._link_manifest(
            manifest,
            final,
            f"concurrent commit detected: {final} already exists "
            f"(another writer won version {version} for {self.path})",
        )

    @staticmethod
    def _link_manifest(
        manifest: dict[str, Any], final: str, conflict: str
    ) -> dict[str, Any]:
        """Write ``manifest`` to a temp file beside ``final``, fsync it, and
        link(2) it to ``final`` — the atomic commit point. link fails with
        EEXIST if the version was already committed, so a second writer
        loses LOUDLY (``conflict`` names it) instead of silently replacing
        a committed manifest (rename would overwrite)."""
        tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentCommitError(conflict)
        finally:
            os.unlink(tmp)
        return manifest

    # ---- branches (write-audit-publish) ------------------------------------

    def branch(self, name: str) -> "SnapshotTable":
        """A branch-scoped view of this table — the Iceberg
        write-audit-publish staging pattern (branch write + audit +
        ``fast_forward``): commits made through the view stage onto
        ``_manifests/branches/<name>/`` and are INVISIBLE to main readers;
        reads through the view resolve the branch head, falling back to
        the main head before the first staged commit (the fork point).
        Data files land in the shared ``data/`` dir either way — they are
        only reachable through a manifest, so staging costs no copy and
        publishing moves no bytes (metadata-only, like Iceberg
        fast-forward). Audit however you like (DQ expectations via the
        manager, ``fsck``, ad-hoc reads — all work on the view), then
        ``publish_branch`` on the MAIN table to atomically make the staged
        state the next main version, or ``drop_branch`` to abandon it
        (``vacuum`` then reclaims the staged files).

        Iceberg twin (not implemented — jar-gated): native branch refs +
        ``spark.wap.branch`` writes + ``CALL fast_forward``; a faithful
        twin must also scope ``applied_epochs``/``watermark`` to the REF's
        snapshot ancestry (``.refs`` + parent-id walk), because
        ``.snapshots`` lists staged commits too and an unscoped guard
        would make main skip epochs that were only ever staged."""
        import copy
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"invalid branch name {name!r}")
        view = copy.copy(self)
        view._branch = name
        return view

    def _branch_dir(self, name: str) -> str:
        return os.path.join(self.path, "_manifests", "branches", name)

    def _branch_files(self, name: str) -> list[str]:
        return sorted(glob(os.path.join(self._branch_dir(name), "v*.json")))

    def list_branches(self) -> list[str]:
        root = os.path.join(self.path, "_manifests", "branches")
        return sorted(os.listdir(root)) if os.path.isdir(root) else []

    def _commit_to_branch(self, manifest: dict[str, Any]) -> dict[str, Any]:
        """Staged commit: same atomic tmp+link(2) dance as main, but into
        the branch namespace with its own version sequence. The first
        staged commit pins ``base_version`` (the main version the branch
        forked from); later ones inherit it — that is what lets publish
        verify fast-forward-ness without a lock spanning the audit."""
        bdir = self._branch_dir(self._branch)
        os.makedirs(bdir, exist_ok=True)
        staged = self._branch_files(self._branch)
        if staged:
            with open(staged[-1]) as f:
                base = int(json.load(f)["base_version"])
            seq = 1 + int(os.path.basename(staged[-1])[1:-5])
        else:
            mains = self._manifest_files()
            base = int(os.path.basename(mains[-1])[1:-5]) if mains else 0
            seq = 1
        manifest["file_stats"] = self._file_stats(manifest)
        manifest["version"] = seq
        manifest["branch"] = self._branch
        manifest["base_version"] = base
        manifest["committed_at"] = time.time()
        final = os.path.join(bdir, f"v{seq:08d}.json")
        return self._link_manifest(
            manifest,
            final,
            f"concurrent commit detected on branch {self._branch!r}: "
            f"{final} already exists",
        )

    def publish_branch(
        self, name: str, require_fast_forward: bool = True
    ) -> dict[str, Any]:
        """Atomically make ``name``'s staged head the next MAIN version
        (Iceberg ``manage_snapshots().fast_forward``) and delete the
        branch. Metadata-only — the staged data files are simply
        re-referenced. ``require_fast_forward`` (default) refuses to
        publish when main advanced past the branch's fork point: the
        staged state was merged against a stale base, so publishing would
        silently drop main's newer commits — rebase (re-run the loads on a
        fresh branch) instead. The staged manifest's ``applied_epochs``
        and watermark publish with it, so exactly-once replays of the
        staged epochs skip against main afterwards."""
        if self._branch:
            raise RuntimeError("publish_branch must be called on the main table view")
        staged = self._branch_files(name)
        if not staged:
            raise ValueError(f"branch {name!r} has no staged commits")
        with open(staged[-1]) as f:
            head = json.load(f)
        cur = self.current_manifest()
        main_v = int(cur["version"]) if cur else 0
        # crash-safe retry: a previous publish of THIS branch head that died
        # between the main commit and the branch cleanup left main already
        # fast-forwarded — finish the cleanup and return, idempotently,
        # instead of tripping the divergence guard on our own commit
        if (
            cur is not None
            and cur.get("published_from_branch") == name
            and cur.get("published_branch_version") == head["version"]
        ):
            self.drop_branch(name)
            return cur
        if require_fast_forward and int(head.get("base_version", 0)) != main_v:
            raise RuntimeError(
                f"branch {name!r} forked from main v{head.get('base_version')} "
                f"but main is now at v{main_v}: not a fast-forward. "
                "Re-stage against the current head or publish with "
                "require_fast_forward=False if overwriting main is intended."
            )
        pub = {
            k: v
            for k, v in head.items()
            if k not in ("branch", "base_version", "version", "committed_at")
        }
        pub["published_from_branch"] = name
        pub["published_branch_version"] = head["version"]
        committed = self._commit(pub)
        self.drop_branch(name)
        return committed

    def drop_branch(self, name: str) -> None:
        """Abandon a branch: retire its staged manifests to a
        dropped-branch record (rename, not delete). The record is what
        lets ``vacuum`` tell the difference between "was staged, branch
        abandoned" — reclaim the files NOW — and "referenced by nothing at
        all", which could be a concurrent committer's in-flight write and
        is only reclaimed past the orphan age gate. Vacuum removes the
        record once it has swept."""
        src = self._branch_dir(name)
        if not os.path.isdir(src):
            return
        dst = os.path.join(
            self.path, "_manifests", "_dropped", f"{name}.{uuid.uuid4().hex}"
        )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)

    # ---- write paths ---------------------------------------------------------

    def _clustered(
        self, df: DataFrame, layout: int, lww: list[Column] | None = None
    ) -> DataFrame:
        """Cluster ``df`` by storage bucket for a bucketed write — the one
        exchange every write path shares.

        Adds ``_bucket`` (``bucket_expr`` under ``layout``) and
        hash-partitions on it with NO fixed partition count: the session's
        ``spark.sql.shuffle.partitions`` applies and AQE coalesces the
        exchange by its measured bytes, so write width follows data volume,
        not the bucket count (a 5k-row delta into 16 buckets runs a couple
        of write tasks, not 16 mostly-idle ones). Files stay one per
        touched bucket: a bucket id hashes to exactly one shuffle partition,
        and coalescing only merges whole partitions.

        ``lww`` (the site's ordering) keeps the top-1 row per primary key on
        the same exchange: the window's ClusteredDistribution([_bucket,
        pk...]) is satisfied by HashPartitioning([_bucket]) (subset rule;
        ``_bucket`` is a function of the bucket key, so it doesn't change
        the groups), and its sort leads with ``_bucket``, so the write
        needs no exchange or sort of its own.
        """
        clustered = df.withColumn(
            _BUCKET_COL, bucket_expr(self.bucket_key, layout)
        ).repartition(F.col(_BUCKET_COL))
        if lww is None:
            return clustered
        return self._top1(clustered, [_BUCKET_COL, *self.spec.primary_keys], lww)

    @classmethod
    def _top1(cls, df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
        """The first row per ``keys`` under ``order`` (the LWW winner)."""
        w = Window.partitionBy(*keys).orderBy(*order)
        return cls._first(df, F.row_number().over(w))

    @staticmethod
    def _first(df: DataFrame, rank: Column) -> DataFrame:
        """The rows ``rank`` (a ``row_number`` window) puts first."""
        return df.withColumn("_rdl_rn", rank).filter("_rdl_rn = 1").drop("_rdl_rn")

    def _write_buckets(self, clustered: DataFrame) -> dict[str, list[str]]:
        """Write ``_clustered`` output as per-bucket parquet files under a
        fresh commit dir.

        Clustering on ``_bucket`` before ``partitionBy`` is the Iceberg
        "hash write distribution" pattern: every bucket lands in exactly
        one write task, so a commit produces ~1 file per touched bucket
        instead of (upstream partitions × buckets) small files. The shuffle
        is strictly cheaper than the file-open storm it prevents — measured
        here: 1024 files → 64 files per commit, and every later MERGE reads
        the touched buckets back, so file count compounds per epoch.
        """
        commit_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        clustered.write.partitionBy(_BUCKET_COL).parquet(commit_dir)
        buckets: dict[str, list[str]] = {}
        for f in glob(os.path.join(commit_dir, f"{_BUCKET_COL}=*", "*.parquet")):
            b = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
            buckets.setdefault(b, []).append(os.path.relpath(f, self.path))
        if not buckets:
            # an empty write leaves only its _SUCCESS marker: no manifest
            # will reference the dir, so it goes now rather than at vacuum
            shutil.rmtree(commit_dir, ignore_errors=True)
        return buckets

    def full_refresh_from_envelopes(
        self,
        envelopes: DataFrame,
        epoch_id: int,
        watermark: int,
        namespace: str = "batch",
    ) -> int:
        """Atomic whole-table (re)load — the reference's stage + rename swap
        (W4) — and the sink's only full-refresh entry: net + drop-deletes +
        stamp + bucketed write on ONE exchange (the ``_lww_merge_plan``
        argument applied to the refresh path). ``envelopes`` are projected
        change rows ``(dest cols..., lsn, op)``, one or more per key; a
        ``spec.salt_buckets`` pin pre-nets them first (``_salted_prenet``).

        This is also the only point where the bucket layout may change: the
        whole table is rewritten, so the live spec's ``target_buckets``
        becomes the committed layout. The rewrite subsumes every event up to
        ``watermark``, which therefore becomes the table's baseline: rows are
        stamped with it and later arrivals at/below it are dropped, not
        merged (quarantine mode excepted, below).

        Returns the survivor row count, observed during the write itself
        (no second scan). Width note: the write rides ``_clustered``'s
        exchange, sized by the session's shuffle partitions and AQE's
        byte-based coalescing; ``target_buckets`` only caps it (a bucket
        never splits across tasks), so at 10^10 rows set both
        ``target_buckets`` and ``spark.sql.shuffle.partitions`` to at least
        the cluster's task slots.
        """
        spec = self.spec
        survivors = self._clustered(
            self._salted_prenet(envelopes), self.n_buckets,
            lww=[F.desc(spec.lsn_column)],
        )
        # Quarantine mode breaks the baseline premise "this snapshot
        # subsumes every event ≤ watermark": the dead-lettered events are
        # excluded by construction, and replay_dlq must later be able to
        # LWW them against the snapshot. Two consequences, both gated on
        # the spec so every other deployment keeps byte-identical output:
        # rows carry their TRUE per-key max lsn (a baseline literal would
        # make every sub-watermark replay lose unconditionally), and
        # delete winners persist as tombstones (a dropped delete would let
        # a replayed older update resurrect the key).
        cols = self._epoch_columns(self.n_buckets)
        if spec.on_cast_error == "quarantine":
            version = cols.version
        else:
            survivors = survivors.filter(F.col(spec.op_column) != spec.delete_op)
            version = [
                F.lit(int(watermark)).cast("long").alias(LSN_COL),
                F.lit(False).alias(DELETED_COL),
            ]
        obs = Observation()
        stamped = survivors.select(
            *cols.dest, _BUCKET_COL, *self._audit(epoch_id), *version
        ).observe(obs, F.sum(F.when(~F.col(DELETED_COL), 1).otherwise(0)).alias("n"))
        buckets = self._write_buckets(stamped)
        self._commit_epoch(
            None, epoch_key(epoch_id, namespace), "full_refresh", buckets, watermark
        )
        return int(obs.get["n"] or 0)

    def _salted_prenet(self, envelopes: DataFrame) -> DataFrame:
        """The ``spec.salt_buckets`` pin (> 1): a two-phase salted LWW net
        (operators/lww.py) ahead of the sink's own LWW window, so a flood of
        events on one hot PK spreads over ``salt_buckets`` reducers before
        the bucket exchange, which then carries one row per key. Unpinned,
        the sink's window is the only net."""
        spec = self.spec
        if spec.salt_buckets <= 1:
            return envelopes
        return net_changes(
            envelopes, spec.primary_keys, spec.lsn_column, spec.op_column,
            salt_buckets=spec.salt_buckets,
        )

    def _commit_epoch(
        self,
        m: dict[str, Any] | None,
        key: str,
        kind: str,
        buckets: dict[str, list[str]],
        watermark: int,
        epoch_id: int | None = None,
        deltas: dict[str, list[str]] | None = None,
        next_seq: int | None = None,
    ) -> dict[str, Any]:
        """Build and commit one epoch apply's manifest: a full refresh
        (``m`` None — the rewrite is the new baseline, laid out under the
        live spec) or a merge into head ``m`` (``merge``, ``merge_mor``,
        ``merge_empty`` — the committed layout and schema carry over)."""
        manifest: dict[str, Any] = {
            "buckets": buckets,
            "n_buckets": self._layout(m or {}),
            "applied_epochs": [key]
            if m is None
            else sorted(_normalize_epoch_keys(m["applied_epochs"]) | {key}),
            "watermark": watermark,
            # merges never raise the baseline: they only cover the lsns they
            # actually carried, not the whole range below their max
            "baseline_watermark": watermark
            if m is None
            else int(m.get("baseline_watermark", m.get("watermark", -1))),
            "spec_checksum": self.spec.checksum(),
            "spec_json": self.spec.to_json(),
            "schema": self._storage_schema().json() if m is None else m["schema"],
            "kind": kind,
        }
        if m is not None:
            manifest["epoch_id"] = epoch_id
        if deltas:
            manifest["deltas"] = deltas
        if next_seq is not None:
            manifest["next_delta_seq"] = next_seq
        return self._commit(manifest)

    # ---- read path -----------------------------------------------------------

    def _dest_cols(self) -> list[str]:
        return [c.destination for c in self.spec.columns]

    def _audit(self, epoch_id: int) -> list[Column]:
        """Per-row audit stamp columns (reference P3). Epoch-derived, never
        current_timestamp(): a replayed epoch must write byte-identical rows
        or exactly-once equality breaks."""
        if not self.spec.audit_columns:
            return []
        return [
            F.lit(int(epoch_id)).cast("long").alias(AUDIT_EXEC_ID),
            F.timestamp_seconds(F.lit(int(epoch_id))).alias(AUDIT_LOADED_AT),
        ]

    def _epoch_columns(self, layout: int) -> _EpochColumns:
        """This spec's epoch-apply columns under ``layout``, built once per
        (spec, layout) in the session (``cached_columns``). The checksum
        covers the column mapping and audit flag; the envelope names and
        delete marker it does not, so they join the key."""
        spec = self.spec

        def build() -> _EpochColumns:
            lww = Window.partitionBy(_BUCKET_COL, *spec.primary_keys).orderBy(
                F.desc(F.coalesce(F.col(LSN_COL), F.lit(-1)))
            )
            code = F.col(_BUCKET_COL) * 2 + F.col(DELETED_COL).cast("int")
            return _EpochColumns(
                dest=[F.col(c) for c in self._dest_cols()],
                version=[
                    F.col(spec.lsn_column).cast("long").alias(LSN_COL),
                    (F.col(spec.op_column) == F.lit(spec.delete_op)).alias(DELETED_COL),
                ],
                bucket=bucket_expr(self.bucket_key, layout).alias(_BUCKET_COL),
                rank=F.row_number().over(lww),
                observed=[
                    F.histogram_numeric(code.cast("double"), F.lit(2 * layout)).alias("bins"),
                    F.max(LSN_COL).alias("max_lsn"),
                    F.count(F.lit(1)).alias("n"),
                ],
                target=[
                    *[F.col(f.name) for f in spec.destination_schema().fields],
                    F.coalesce(F.col(LSN_COL), F.lit(-1)).cast("long").alias(LSN_COL),
                    F.coalesce(F.col(DELETED_COL), F.lit(False)).alias(DELETED_COL),
                    F.coalesce(F.col(SEQ_COL), F.lit(0)).cast("long").alias("_rdl_src"),
                ],
            )

        return cached_columns(
            ("epoch", spec.checksum(), spec.lsn_column, spec.op_column,
             spec.delete_op, layout),
            build,
        )

    def _storage_schema(self) -> T.StructType:
        """On-disk row schema: destination (+audit) + internal version cols."""
        return T.StructType(
            list(self.spec.destination_schema().fields)
            + [
                T.StructField(LSN_COL, T.LongType(), True),
                T.StructField(DELETED_COL, T.BooleanType(), True),
            ]
        )

    def _read_files(self, relpaths: list[str]) -> DataFrame:
        schema = self._storage_schema()
        if not relpaths:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, p) for p in relpaths]
        # explicit schema: files from before an additive evolution simply
        # yield NULL for the new columns (parquet read-by-name)
        return self.spark.read.schema(schema).parquet(*paths)

    def _read_delta_files(self, relpaths: list[str]) -> DataFrame:
        """Delta files carry the storage schema plus the fold ordinal."""
        schema = T.StructType(
            list(self._storage_schema().fields)
            + [T.StructField(SEQ_COL, T.LongType(), True)]
        )
        if not relpaths:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, p) for p in relpaths]
        return self.spark.read.schema(schema).parquet(*paths)

    def _with_deltas(self, base_rels: list[str], delta_rels: list[str]) -> DataFrame:
        """Base files at fold ordinal 0 ∪ delta files at their commit seq —
        the one input of every LWW fold: the read path's ``_fold``,
        ``compact_deltas`` and the CoW merge's target side. With no delta
        files there is no union, so no plan carries an empty relation."""
        base = self._read_files(base_rels).withColumn(SEQ_COL, F.lit(0).cast("long"))
        if not delta_rels:
            return base
        return base.unionByName(self._read_delta_files(delta_rels))

    @staticmethod
    def _fold_order() -> list[Column]:
        """(lsn DESC, seq DESC): the CoW merge window's ordering, with the
        fold ordinal as its batch-beats-target tie rank, so both modes
        resolve out-of-order arrivals and equal-lsn redeliveries alike."""
        return [
            F.desc(F.coalesce(F.col(LSN_COL), F.lit(-1))),
            F.desc(F.coalesce(F.col(SEQ_COL), F.lit(0))),
        ]

    def _fold(self, base_rels: list[str], delta_rels: list[str]) -> DataFrame:
        """Merge-on-read fold: LWW winners (tombstones INCLUDED) per PK over
        base files ∪ delta files under ``_fold_order``. Cost is one shuffle
        of the rows read; ``_assembled`` routes only DELTA-BEARING buckets
        through here, so a compacted table pays nothing."""
        return self._top1(
            self._with_deltas(base_rels, delta_rels),
            self.spec.primary_keys,
            self._fold_order(),
        ).drop(SEQ_COL)

    @staticmethod
    def _select(
        m: dict[str, Any],
        buckets: list[str] | None = None,
        keep: Keep | None = None,
    ) -> tuple[list[str], list[str], list[str], list[str]]:
        """The file-selection rule of every read: ``(hot base files, hot
        delta files, cold files read, cold files total)`` of manifest ``m``
        over ``buckets`` (default: every bucket).

        A hot bucket holds pending MoR deltas and is read in full, never
        pruned: the fold needs every base row present so that a stale
        in-range delta row loses to its newer out-of-range base version
        (prune that base file and the stale row would win the fold and leak
        into the result). Only cold buckets' files are pruned, by ``keep``,
        a predicate over each file's ``file_stats`` record (``_zone_keep``,
        ``_bloom_keep``). Correctness never depends on the pruning, only on
        the read's residual filter."""
        base: dict[str, list[str]] = m.get("buckets", {})
        deltas: dict[str, list[str]] = m.get("deltas") or {}
        if buckets is None:
            buckets = list(base) + [b for b in deltas if b not in base]
        hot = [b for b in buckets if deltas.get(b)]
        cold = [p for b in buckets if not deltas.get(b) for p in base.get(b, [])]
        stats = m.get("file_stats", {})
        read = cold if keep is None else [p for p in cold if keep(stats.get(p, {}))]
        return (
            [p for b in hot for p in base.get(b, [])],
            [p for b in hot for p in deltas[b]],
            read,
            cold,
        )

    def _assembled(
        self,
        m: dict[str, Any],
        buckets: list[str] | None = None,
        keep: Keep | None = None,
    ) -> DataFrame:
        """Storage-schema state (tombstones included) of ``m``'s ``buckets``
        (default: all) as ``_select`` picks the files: hot buckets fold,
        cold buckets scan their ``keep``-pruned files directly — the fold's
        shuffle is paid only on the delta-bearing fraction of the table."""
        hot_base, hot_delta, cold, _ = self._select(m, buckets, keep)
        if not hot_delta:
            return self._read_files(cold)
        folded = self._fold(hot_base, hot_delta)
        return folded.unionByName(self._read_files(cold)) if cold else folded

    def _visible(self, df: DataFrame, *extra: str) -> DataFrame:
        """User-visible rows of a storage-schema frame: tombstones filtered,
        internal columns dropped (``extra`` ones kept after the visible)."""
        visible = [f.name for f in self.spec.destination_schema().fields]
        return df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).select(
            *visible, *[c for c in extra if c not in visible]
        )

    def _prune_report(self, m: dict[str, Any] | None, keep: Keep) -> dict[str, Any]:
        """What the read pruned by ``keep`` opens, from manifest metadata
        alone (zero file opens): the read's own ``_select``, so hot buckets
        count in full and the skip ratio is the real one (a low ratio on a
        hot predicate column is also the compact_deltas signal). A table
        with no commit reports zeros in the same shape."""
        m = m or {}
        hot_base, hot_delta, read, cold = self._select(m, keep=keep)
        hot = hot_base + hot_delta
        stats = m.get("file_stats", {})
        b = lambda ps: sum(int(stats.get(p, {}).get("bytes", 0)) for p in ps)  # noqa: E731
        return {
            "files_total": len(cold) + len(hot),
            "files_read": len(read) + len(hot),
            "files_skipped": len(cold) - len(read),
            "bytes_total": b(cold) + b(hot),
            "bytes_read": b(read) + b(hot),
        }

    def read(
        self, version: int | None = None, read_optimized: bool = False
    ) -> DataFrame:
        """User-visible table state: tombstones filtered, internals dropped.
        ``version`` time-travels to an earlier committed manifest (within
        vacuum's retention window) — the manifest pins the exact file list
        AND its pending delta set, so an old version reads byte-identically
        even after later merges or compactions (which never rewrite old
        commit dirs; vacuum is what expires them).

        ``read_optimized=True`` is Hudi's read-optimized (_ro) query on a
        MoR table: serve BASE files only, skipping the delta fold entirely
        — zero read tax, in exchange for bounded staleness (uncompacted
        epochs are invisible; the bound is the compaction cadence, which
        ``mor_compact_files`` pins). On a CoW table or a compacted MoR
        table it is a no-op. Never mix the two views in one job that
        expects a consistent snapshot."""
        m = self._manifest(version) or {}
        if read_optimized:
            return self._visible(
                self._read_files([p for fs in m.get("buckets", {}).values() for p in fs])
            )
        return self._visible(self._assembled(m))

    def read_keys(self, values: list) -> DataFrame:
        """Point reads by bucket key: visible rows whose ``bucket_key`` is in
        ``values``, reading ONLY the buckets those keys hash into — the
        O(keys) lookup path, never a table scan, in both merge modes (a
        selected bucket with pending deltas folds just its own files). The
        bucket ids come from ``bucket_expr`` over the keys as a
        parameterized ``VALUES`` relation cast to the key type: the hash
        must be the JVM's xxhash64 of that type (re-implementing it
        driver-side would be a silent-desync trap), and a local relation
        evaluates on the driver with no Spark job."""
        m = self.current_manifest() or {}
        key_type = next(
            f.dataType
            for f in self.spec.destination_schema().fields
            if f.name == self.bucket_key
        )
        buckets: set[str] = set()
        if values:
            keys = self.spark.sql(
                f"SELECT CAST(k AS {key_type.simpleString()}) AS k FROM VALUES "
                + ", ".join(f"(:k{i})" for i in range(len(values)))
                + " AS v(k)",
                args={f"k{i}": v for i, v in enumerate(values)},
            )
            buckets = {
                str(r["b"])
                for r in keys.select(
                    bucket_expr("k", self._layout(m)).alias("b")
                ).collect()
            }
        return self._visible(
            self._assembled(m, sorted(buckets)).filter(
                F.col(self.bucket_key).isin(values)
            )
        )

    @classmethod
    def _zone_keep(cls, col: str, lo: Any, hi: Any) -> Keep:
        """``_select`` predicate of a range read on ``col``: skip a file
        whose zone map misses ``[lo, hi]``. Files without a recorded zone
        map for the column are conservatively read (correctness never
        depends on stats existing); ``null_only`` files are skipped — a
        range predicate cannot match NULL."""
        lo_k, hi_k = cls._zone_value(lo), cls._zone_value(hi)

        def keep(st: dict[str, Any]) -> bool:
            mm = st.get("minmax", {}).get(col)
            if mm is None:
                return True
            if mm.get("null_only"):
                return False
            return not (
                (lo_k is not None and mm["max"] < lo_k)
                or (hi_k is not None and mm["min"] > hi_k)
            )

        return keep

    def read_range(
        self,
        col: str,
        lo: Any = None,
        hi: Any = None,
        version: int | None = None,
    ) -> DataFrame:
        """Visible rows with ``lo <= col <= hi`` (either bound optional),
        reading ONLY the data files whose manifest zone map intersects the
        range — file-level skipping on top of parquet's own row-group
        pruning, the same two-tier story as Iceberg manifest stats + file
        footers. The payoff tracks layout quality: after
        ``optimize(sort_cols=...)`` / ``optimize(zorder_cols=...)``
        clusters the column, most files' [min,max] windows are disjoint
        from the predicate and never open (prune_report quantifies it;
        zorder_skipping_gain predicts it from the data). The residual
        in-file filter still applies, so results are exact regardless of
        how loose the zone maps are."""
        df = self._assembled(
            self._manifest(version) or {}, keep=self._zone_keep(col, lo, hi)
        )
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return self._visible(df)

    def prune_report(
        self,
        col: str,
        lo: Any = None,
        hi: Any = None,
        version: int | None = None,
    ) -> dict[str, Any]:
        """What ``read_range`` would skip, from manifest metadata alone
        (zero file opens) — the observability half of zone-map pruning,
        for layout decisions: a low skip ratio on a hot predicate column
        is the signal to re-``optimize`` with that column in the sort."""
        return self._prune_report(self._manifest(version), self._zone_keep(col, lo, hi))

    # ---- metadata-only count + bloom point lookups -----------------------------

    def fast_count(self, version: int | None = None) -> dict[str, Any]:
        """Live-row count from manifest stats alone — the scan-less
        ``count(*)`` Iceberg answers from manifest-entry row counts. Every
        commit records per-file footer rows AND exact tombstone counts
        (``_file_stats``), so on a compacted table the count is pure
        manifest arithmetic: Σ(rows − tombstones) over base files. Zero
        file opens, zero Spark jobs — O(manifest) regardless of table
        size, which at 100 TB is the difference between a metadata lookup
        and a cluster-wide scan.

        Pending MoR deltas make the arithmetic unsound (a delta row may
        UPDATE an existing key, net a delete, or arrive stale and lose the
        fold — file row counts can't see which), so delta-bearing tables
        fall back to counting the folded visible read and say so:
        ``source="fold"``. Callers that need the fast path keep it by
        compaction cadence, not by trusting a stale number."""
        m = self._manifest(version)
        if m is None:
            return {"live_rows": 0, "files": 0, "source": "manifest"}
        if m.get("deltas"):
            df = self.read(version=version)
            return {
                "live_rows": df.count(),
                "files": sum(len(fs) for fs in m["buckets"].values()),
                "source": "fold",
            }
        stats = m.get("file_stats", {})
        rels = [p for fs in m["buckets"].values() for p in fs]
        missing = [
            r
            for r in rels
            if "rows" not in stats.get(r, {})
            or "tombstones" not in stats.get(r, {})
        ]
        if missing:  # pre-upgrade manifest: stats not yet recorded
            df = self.read(version=version)
            return {
                "live_rows": df.count(),
                "files": len(rels),
                "source": "fold",
            }
        live = sum(
            int(stats[r]["rows"]) - int(stats[r]["tombstones"]) for r in rels
        )
        return {"live_rows": live, "files": len(rels), "source": "manifest"}

    _BLOOMABLE = (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType)

    def build_blooms(self, cols: list[str], bits_per_key: int = 10) -> int:
        """Compute per-file bloom filters over ``cols`` and commit them as
        manifest stats (``kind=blooms`` — a stats-only commit; data files
        untouched, time travel unaffected). Returns the number of files
        stamped.

        This is the pruning structure for POINT lookups on columns the
        physical layout can't serve: bucket pruning only covers the bucket
        key, and zone maps only help once a sort/z-order clusters the
        column — a high-cardinality column that merge order scatters
        across every file (the audit case: ``_rdl_lsn``) defeats both.
        Iceberg/Parquet solve it with per-file bloom filters; same here,
        but in the manifest so the probe is a driver-side metadata test,
        not a footer open per file.

        Build is DISTRIBUTED: one Spark pass reads only the target columns
        (+ ``input_file_name``), fans each value into its k bit positions
        (``operators/bloom.py`` — md5 double-hashing, identical on the
        driver), and reduces to one 64-bit word per (file, word_idx) via
        ``bit_or`` partial aggregation. Only the aggregated words — m/64
        rows per file per column, KBs — ever reach the driver; column data
        stays on executors. Filters are sized per file from the manifest's
        recorded row count (``bits_per_key`` ≈ 10 → ~1.2% false-file-read
        rate at k=4). A false positive costs one pruned-in file whose
        residual filter returns nothing; never a wrong row.

        Blooms cover BASE files only and are rebuilt by re-running after
        layout maintenance (optimize/rebucket produce new files without
        blooms, which the pruner conservatively reads — stale filters are
        impossible by construction because stats key on the file path).
        Delta files are irrelevant here: delta-bearing buckets are read in
        full by the lookup path (fold correctness, same rule as
        ``read_range``)."""
        from relational_data_loader_spark.operators.bloom import (
            BLOOM_K,
            bloom_size_bits,
            pack_words,
        )

        m = self.current_manifest()
        if m is None:
            return 0
        schema = {f.name: f.dataType for f in self._storage_schema().fields}
        for c in cols:
            if c not in schema:
                raise ValueError(f"build_blooms: unknown column {c!r}")
            if not isinstance(schema[c], self._BLOOMABLE):
                raise ValueError(
                    f"build_blooms: {c!r} is {schema[c].simpleString()}; "
                    "blooms require string/integral columns (canonical "
                    "string form must match across runtimes)"
                )
        stats = dict(m.get("file_stats", {}))
        rels = [p for fs in m["buckets"].values() for p in fs]
        # per-file m_bits from recorded row counts (manifest arithmetic)
        sizes = {
            rel: bloom_size_bits(
                int(stats.get(rel, {}).get("rows", 0)), bits_per_key
            )
            for rel in rels
        }
        df = self._read_files(rels).select(
            F.input_file_name().alias("_f"), *cols
        )
        # file path → m_bits, resolved executor-side via a literal map
        # (files are O(manifest), never data-sized)
        size_map = F.create_map(
            *[
                lit
                for rel in rels
                for lit in (
                    F.lit(os.path.join(self.path, rel)),
                    F.lit(sizes[rel]),
                )
            ]
        )
        # input_file_name returns a URI; strip the scheme to match the
        # absolute paths in the literal map
        fpath = F.regexp_replace(F.col("_f"), "^file:(//)?", "")
        mbits = F.element_at(size_map, fpath)
        parts = [
            df.where(F.col(c).isNotNull()).select(
                fpath.alias("file"),
                F.lit(c).alias("col"),
                F.explode(
                    self._bloom_positions_sized(F.col(c), mbits)
                ).alias("pos"),
            )
            for c in cols
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        words = (
            union.select(
                "file",
                "col",
                F.floor(F.col("pos") / 64).cast("long").alias("widx"),
                # python's F.shiftleft only takes a literal shift; the SQL
                # form takes an expression
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
                ).alias("bit"),
            )
            .groupBy("file", "col", "widx")
            .agg(F.bit_or("bit").alias("word"))
            .collect()
        )
        by_file: dict[tuple[str, str], dict[int, int]] = {}
        for r in words:
            by_file.setdefault((r["file"], r["col"]), {})[r["widx"]] = r["word"]
        for rel in rels:
            entry = dict(stats.get(rel) or {})
            blooms = dict(entry.get("bloom") or {})
            for c in cols:
                wd = by_file.get((os.path.join(self.path, rel), c), {})
                blooms[c] = {
                    "m": sizes[rel],
                    "k": BLOOM_K,
                    "b64": pack_words(wd, sizes[rel]),
                }
            entry["bloom"] = blooms
            stats[rel] = entry
        self._commit({**m, "file_stats": stats, "kind": "blooms"})
        return len(rels)

    @staticmethod
    def _bloom_positions_sized(col: Column, m_bits: Column) -> Column:
        """bloom_positions_expr with a per-ROW modulus column (files have
        individually sized filters, and the build is one job over all of
        them) — same md5 halves + double-hash stride as the driver probe."""
        hexd = F.md5(col.cast("string").cast("binary"))
        h1 = F.conv(F.substring(hexd, 1, 15), 16, 10).cast("long")
        h2 = (
            F.conv(F.substring(hexd, 16, 15), 16, 10)
            .cast("long")
            .bitwiseOR(F.lit(1))
        )
        from relational_data_loader_spark.operators.bloom import BLOOM_K

        return F.array(
            *[
                (h1 + F.lit(i) * h2) % m_bits.cast("long")
                for i in range(BLOOM_K)
            ]
        )

    @staticmethod
    def _bloom_keep(col: str, values: list) -> Keep:
        """``_select`` predicate of ``col IN values`` under the manifest
        blooms. Files without a bloom for the column are conservatively
        read — correctness never depends on stats existing, only the
        residual in-file filter."""
        from relational_data_loader_spark.operators.bloom import (
            probe_words,
            unpack_words,
        )

        def keep(st: dict[str, Any]) -> bool:
            bl = (st.get("bloom") or {}).get(col)
            if bl is None:
                return True
            words = unpack_words(bl["b64"], bl["m"])
            return any(probe_words(words, v, bl["m"], bl["k"]) for v in values)

        return keep

    def point_lookup(self, col: str, values: list) -> DataFrame:
        """Visible rows with ``col IN values``, opening ONLY the files
        whose manifest bloom might contain one of the probe values —
        O(matching files) for point predicates on NON-bucket-key columns,
        where ``read_keys`` (bucket pruning) and ``read_range`` (zone
        maps) can't prune at all. The residual ``isin`` filter makes the
        result exact whatever the blooms' false-positive rate.

        Internal columns are probeable (the audit scenario — "which live
        rows did these LSNs write" — probes ``_rdl_lsn``); when ``col`` is
        internal it is appended to the visible projection so the caller
        can see what matched. Delta-bearing buckets read base+delta in
        full and fold first (``_select``): pruning a base file could flip
        a fold."""
        df = self._assembled(
            self.current_manifest() or {}, keep=self._bloom_keep(col, values)
        )
        return self._visible(df.filter(F.col(col).isin(values)), col)

    def bloom_prune_report(self, col: str, values: list) -> dict[str, Any]:
        """What ``point_lookup`` would skip, from manifest metadata alone —
        the observability twin of ``prune_report`` for bloom pruning. A
        low skip ratio on a hot probe column means the blooms are stale
        (rebuild after maintenance) or undersized (raise bits_per_key)."""
        return self._prune_report(
            self.current_manifest(), self._bloom_keep(col, values)
        )

    # ---- change data feed ------------------------------------------------------

    @staticmethod
    def _changed_buckets(m_from: dict[str, Any], m_to: dict[str, Any]) -> list[str]:
        """Buckets whose committed state can differ between two manifests.
        Merges rewrite touched buckets wholesale (CoW) or append to their
        delta list (MoR) and carry untouched ones BY REFERENCE (identical
        relpath lists on BOTH maps), so (base list, delta list) equality is
        an exact no-change proof — the CDF reads only drifted buckets,
        never the table."""
        b0, b1 = m_from.get("buckets", {}), m_to.get("buckets", {})
        d0, d1 = m_from.get("deltas") or {}, m_to.get("deltas") or {}
        return sorted(
            (
                b
                for b in set(b0) | set(b1) | set(d0) | set(d1)
                if b0.get(b) != b1.get(b) or d0.get(b, []) != d1.get(b, [])
            ),
            key=int,
        )

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Change data feed between two committed versions: one I/U/D row
        per drifted primary key, carrying the v_to payload (NULL on D —
        deletes carry keys only, the engine's CT envelope convention) and
        the row's new ``lsn``. D rows source their lsn from the v_to
        TOMBSTONE (the delete event's sequence number, version-guard
        advanced past the old row) — the same envelope the Iceberg twin's
        ``classify_changelog`` emits, so a consumer ordering or
        checkpointing the feed by lsn behaves identically on both sinks
        (ADVICE r4: this side used to filter tombstones before the diff
        and emit NULL). The one case left NULL is a key that vanished
        WITHOUT a tombstone (a full-refresh rewrite dropped it) — there is
        no event lsn to report, and claiming one would be fabrication.

        The Iceberg-CDF analog for the snapshot sink, built from what the
        sink already guarantees: every applied change advances the row's
        ``_rdl_lsn`` (version guard), so change detection is ONE long
        compare per key — a payload-identical re-upsert still reports U,
        which is correct CDC semantics (an event was applied). Only changed
        buckets are read on both sides (``_changed_buckets``); the diff is
        one full-outer join on the PK over that pruned subset
        (``operators.diff.snapshot_diff``), output proportional to drift.
        Requires ``v_from < v_to`` and both manifests within vacuum's
        retention.
        """
        from relational_data_loader_spark.operators.diff import snapshot_diff

        if v_from >= v_to:
            raise ValueError(f"need v_from < v_to, got {v_from} >= {v_to}")
        m0, m1 = self.manifest_at(v_from), self.manifest_at(v_to)
        changed = self._changed_buckets(m0, m1)
        visible = [f.name for f in self.spec.destination_schema().fields]
        pks = self.spec.primary_keys
        payload = [c for c in visible if c not in pks]

        def _side(m: dict[str, Any], with_tombstones: bool) -> DataFrame:
            # bucket-scoped assembly: MoR manifests fold each changed
            # bucket's base ∪ deltas to its LWW state first, so the diff
            # compares the same resolved rows a reader of that version sees
            df = self._assembled(m, changed)
            if not with_tombstones:
                return self._visible(df, LSN_COL)
            flag = F.coalesce(F.col(DELETED_COL), F.lit(False))
            return df.select(*visible, F.col(LSN_COL), flag.alias("_del"))

        # old side: visible rows only; new side: tombstones kept so a
        # visible->tombstone transition classifies as D *with the delete
        # event's lsn* instead of dropping the row before the diff
        diff = snapshot_diff(
            _side(m0, with_tombstones=False),
            _side(m1, with_tombstones=True),
            pks,
            compare_cols=[LSN_COL], carry_cols=payload + ["_del"],
        )
        new_dead = F.coalesce(F.col("_del"), F.lit(False))
        return (
            # a tombstone with no old visible row is not a visible-state
            # change (deleted before v_from, or inserted+deleted within
            # the window) — drop it, don't report a phantom I
            diff.filter(~((F.col("op") == "I") & new_dead))
            .select(
                F.when(new_dead, F.lit("D")).otherwise(F.col("op")).alias("op"),
                *pks,
                # CT envelope: deletes carry keys only
                *[
                    F.when(new_dead, F.lit(None)).otherwise(F.col(c)).alias(c)
                    for c in payload
                ],
                F.col(LSN_COL).alias("lsn"),
            )
        )

    def watermark(self) -> int:
        m = self.current_manifest()
        return int(m["watermark"]) if m else -1

    def baseline_watermark(self) -> int:
        """Max lsn fully covered by the last full-refresh snapshot. Events at
        or below it are safe to drop outright (the baseline subsumes them);
        everything above is handled by the version-guarded merge, in any
        arrival order. Pre-round-2 manifests fall back to the (stricter,
        old-behavior) global watermark."""
        m = self.current_manifest()
        if m is None:
            return -1
        return int(m.get("baseline_watermark", m.get("watermark", -1)))

    def applied_epochs(self) -> set[str]:
        m = self.current_manifest()
        return _normalize_epoch_keys(m.get("applied_epochs", [])) if m else set()

    def merge_reads_batch_twice(self) -> bool:
        """Whether ``merge`` reads its batch twice: the copy-on-write
        epoch's stats pass and its write do (``_merge_cow``), the
        merge-on-read epoch's one write does not. A caller whose batch
        cannot be re-read for free caches it when this holds."""
        return self.spec.merge_mode != "mor"

    def stored_checksum(self) -> str | None:
        """Checksum of the spec the table was committed with (sink-generic
        surface — the Iceberg twin serves it from table properties)."""
        m = self.current_manifest()
        return m.get("spec_checksum") if m else None

    def stored_spec_json(self) -> str | None:
        m = self.current_manifest()
        return m.get("spec_json") if m else None

    def layout_buckets(self) -> int:
        """Bucket count the committed files were actually laid out with."""
        return self._layout(self.current_manifest() or {})

    # ---- MERGE ---------------------------------------------------------------

    def _lww_merge_plan(
        self, t_env: DataFrame, b_env: DataFrame, layout: int
    ) -> DataFrame:
        """SINGLE-SHUFFLE merged winners over target ∪ batch (round 3).

        The union is clustered by the storage bucket ONCE (``_clustered``),
        and both the LWW window and the bucketed write ride that exchange.
        Round 2 shipped two shuffles here (PK window with map-side
        WindowGroupLimit Partial → bucket-write repartition). Measured
        same-window A/B at 8M events, local[16], RAM-backed: fused 656k
        events/s vs two-shuffle 463k (+42%); re-measured in a degraded
        window: 279k vs 122k — the direction holds. Why: CT-style logs
        spread a PK's 2-5 events across map partitions, so the Partial
        top-1 collapsed almost nothing and the second (netted) shuffle paid
        nearly full volume again.

        Skew trade, stated honestly: Spark does NOT plan the Partial below
        a user repartition (plan-property-tested), so the map-side hot-PK
        bound is gone in the default plan; the raw envelopes of one chunk
        all reach their bucket's reducer. The bound at 10^10 events comes
        from (a) spec.batch_size chunking — ≤ batch_size envelopes per
        epoch by the lsn-range bound, so a reducer sorts at most
        chunk ∪ bucket rows — and (b) the spec.salt_buckets pin, which
        pre-nets a pathological hot-PK flood before this plan sees it
        (``_salted_prenet``, run by ``merge`` itself).
        """
        # tie-break on _rdl_src: equal lsns can only mean the batch
        # re-carries what a baseline stamped — batch wins, idempotently
        return self._clustered(
            t_env.unionByName(b_env),
            layout,
            lww=[F.desc(LSN_COL), F.desc("_rdl_src")],
        ).drop("_rdl_src")

    def merge(
        self, batch: DataFrame, epoch_id: int, namespace: str = "batch",
        netted: bool = False,
    ) -> MergeStats:
        """Apply a change batch: version-guarded LWW merge into the table.

        Contract of ``batch``: change envelopes (lsn, op, pk..., payload...).
        One OR MORE rows per primary key — the sink owns the netting, fused
        into the LWW window of its bucketed write. ``netted`` says the
        caller already reduced the batch to one row per key (replay_dlq's
        ``prepare_batch``, the sparse densify), which skips the
        ``spec.salt_buckets`` pre-net (``_salted_prenet``). Envelope
        semantics mirror the reference's staged upsert+delete
        (``modules/DestinationTableManager.py::upsert_table_from_stage`` W1 +
        delete builder W2), generalized to out-of-order delivery.

        Copy-on-write (default, ``_merge_cow``):

          winners = LWW by (lsn, batch-over-target tie) per PK over
                    touched_target ∪ batch          (ONE bucket-clustered
                    shuffle shared with the write — _lww_merge_plan)
          deletes persist as tombstone rows          (stale permuted inserts
                    can never resurrect a newer delete)
          bucket data = winners                      (rewrite touched buckets
                    only; untouched buckets carried by reference)

        Merge-on-read (``spec.merge_mode="mor"``, ``_merge_mor``): ONE
        bucketed write of the batch's per-key winners as delta files — the
        base table is never read (the module docstring's O(batch)-vs-O(table)
        argument). The per-epoch net rides the write's exchange (window top-1
        per PK within this batch, tombstones kept as rows); cross-epoch and
        against-base resolution happens at read time (``_fold``) ordered by
        (lsn DESC, seq DESC), which reproduces the CoW window's
        batch-beats-target tie rule exactly.

        Epoch stats (touched buckets, per-bucket envelope counts and max
        lsn, for ``MergeStats`` and ``_rdl_state``): CoW takes them from a
        pass over the batch before it reads the target, MoR from its write
        (an observation plus the new files' footers). Neither caches the
        batch: the CoW pass and write each read it, and a caller whose
        batch cannot be read twice for free caches it first (the streaming
        micro-batch, ``StreamingIngest.apply_batch``).
        """
        t0 = time.time()
        spec = self.spec
        m = self.current_manifest()
        if m is None:
            raise RuntimeError(
                f"target {spec.name!r} has no committed snapshot; run a full refresh first"
            )
        key = epoch_key(epoch_id, namespace)
        if key in _normalize_epoch_keys(m.get("applied_epochs", [])):
            return MergeStats(epoch_id, True, 0, 0, 0, int(m["watermark"]), 0)
        # prune and rewrite against the layout the files were COMMITTED with,
        # never the live spec — a target_buckets edit must not desync bucket
        # lookups from file placement (that would leave stale duplicates);
        # re-bucketing is a full refresh's job (decision.py forces it).
        layout = self._layout(m)
        if not netted:
            batch = self._salted_prenet(batch)
        apply = self._merge_mor if spec.merge_mode == "mor" else self._merge_cow
        rows, committed = apply(m, key, batch, epoch_id, layout)
        stats = MergeStats(
            epoch_id,
            False,
            len(rows),
            sum(ups for _, _, ups, _ in rows),
            sum(dels for _, _, _, dels in rows),
            int(committed["watermark"]),
            int((time.time() - t0) * 1000),
            bucket_stats=[
                {
                    "partition_id": b,
                    "max_applied_lsn": max_lsn,
                    "rows_upserted": ups,
                    "rows_deleted": dels,
                }
                for b, max_lsn, ups, dels in rows
            ],
        )
        # MoR read-amplification guard: when any bucket's delta pile
        # crosses the spec threshold, fold it back into base before
        # returning. Crash between the merge commit above and this
        # compaction is safe — the epoch is already durable, the debt
        # just compacts one epoch later.
        if committed["kind"] == "merge_mor" and spec.mor_compact_files and any(
            len(fs) >= spec.mor_compact_files
            for fs in (committed.get("deltas") or {}).values()
        ):
            self.compact_deltas()
        return stats

    def _envelope(self, epoch_id: int, cols: _EpochColumns) -> list[Column]:
        """The batch's columns in storage order: destination rows
        (audit-stamped), the change version and the tombstone flag."""
        return [*cols.dest, *self._audit(epoch_id), *cols.version]

    def _commit_empty(
        self, m: dict[str, Any], key: str, epoch_id: int
    ) -> tuple[list[EpochRow], dict[str, Any]]:
        """Record an epoch that carried no envelopes: a ``merge_empty``
        commit (the epoch key is applied; nothing else changes)."""
        return [], self._commit_epoch(
            m, key, "merge_empty", m["buckets"], int(m["watermark"]), epoch_id,
            m.get("deltas") or {}, m.get("next_delta_seq"),
        )

    def _merge_mor(
        self, m: dict[str, Any], key: str, batch: DataFrame, epoch_id: int,
        layout: int,
    ) -> tuple[list[EpochRow], dict[str, Any]]:
        """The merge-on-read epoch: ONE write job, and the batch's one
        consumer. No stats pass: the epoch's stats ride the write. The
        pre-net envelope counts per bucket come from an observation of the
        rows entering the net (``_observed_counts``), the epoch's max lsn
        from the same observation, and each bucket's max lsn from the
        ``_rdl_lsn`` footer max of its new delta files (the netted winners
        keep every key's max lsn, so the bucket max survives the net).
        Returns the epoch's rows and the committed manifest."""
        cols = self._epoch_columns(layout)
        seq = int(m.get("next_delta_seq", 1))
        obs = Observation()
        observed = batch.select(
            *self._envelope(epoch_id, cols),
            F.lit(seq).cast("long").alias(SEQ_COL),
            cols.bucket,
        ).observe(obs, *cols.observed)
        written = self._write_buckets(
            self._first(observed.repartition(_BUCKET_COL), cols.rank)
        )
        if not written:
            # every envelope leaves a winner row (deletes as tombstones), so
            # no file means no envelope; a plan Spark folded away as
            # statically empty may also have left no observation to read
            return self._commit_empty(m, key, epoch_id)
        seen = obs.get
        counts = self._observed_counts(seen, written)
        deltas: dict[str, list[str]] = {
            b: list(fs) for b, fs in (m.get("deltas") or {}).items()
        }
        for b, files in written.items():
            deltas.setdefault(b, []).extend(files)
        committed = self._commit_epoch(
            m, key, "merge_mor", m["buckets"],
            max(int(m["watermark"]), int(seen["max_lsn"])), epoch_id, deltas, seq + 1,
        )
        stats = committed["file_stats"]
        return [
            (
                b,
                max(int(stats[p]["minmax"][LSN_COL]["max"]) for p in written[str(b)]),
                ups,
                dels,
            )
            for b, (ups, dels) in sorted(counts.items())
        ], committed

    @staticmethod
    def _observed_counts(
        seen: dict[str, Any], written: dict[str, list[str]]
    ) -> dict[int, tuple[int, int]]:
        """Per-bucket (upserts, deletes) envelope counts from a merge-on-read
        write's observation: ``histogram_numeric`` of bucket*2 + deleted
        over 2 × layout bins, beside ``count(*)``.

        Exact, because there are never more distinct values than bins: a
        value that is already a bin centre only raises that bin's count,
        and bins merge only when there are more of them than allowed, the
        closest first, so equal centres (distance 0) merge before distinct
        ones ever could. Merging the partial histograms of several tasks can
        still leave one value in two bins, so counts that share a centre
        add, and the merge averages equal centres in floating point, which
        can leave a centre an ulp off its integer. Guarded all the same: a
        merge of distinct values with total count W ≤ n = ``count(*)``
        lands on a multiple of 1/W, so a centre further than 1/(2n) from an
        integer, a count that is not an integer, counts that do not sum to
        n, or a bucket set other than the written one raises instead of
        recording wrong lineage."""
        n = seen["n"]
        counts: dict[int, list[int]] = {}
        for x, y in seen["bins"] or []:
            code = round(x)
            if abs(x - code) * 2 * n >= 1 or not float(y).is_integer():
                raise RuntimeError(f"observed epoch stats are not exact: bin ({x}, {y})")
            b, deleted = divmod(code, 2)
            counts.setdefault(b, [0, 0])[deleted] += int(y)
        total = sum(ups + dels for ups, dels in counts.values())
        if total != n or {str(b) for b in counts} != set(written):
            raise RuntimeError(
                f"observed epoch stats are not exact: the histogram counts "
                f"{total} envelopes in buckets {sorted(counts)}, the write "
                f"saw {n} and wrote buckets {sorted(written, key=int)}"
            )
        return {b: (ups, dels) for b, (ups, dels) in counts.items()}

    def _merge_cow(
        self, m: dict[str, Any], key: str, batch: DataFrame, epoch_id: int,
        layout: int,
    ) -> tuple[list[EpochRow], dict[str, Any]]:
        """The copy-on-write epoch: a stats pass over the batch, then the
        touched buckets' rewrite. The pass and the merge window each read
        the batch; nothing is cached here. A file-sourced chunk is cheap to
        scan twice, and a streaming micro-batch, which is not, arrives
        cached by its caller (``StreamingIngest.apply_batch``). A chunk of a
        live source (``jdbc://``) is queried twice: should the write reach a
        bucket the pass did not, the epoch raises before it commits.
        Returns the epoch's rows and the committed manifest."""
        spec = self.spec
        cols = self._epoch_columns(layout)
        is_del = F.col(spec.op_column) == F.lit(spec.delete_op)
        stat_rows = (
            batch.groupBy(bucket_expr(self.bucket_key, layout).alias("b"))
            .agg(
                F.max(spec.lsn_column).alias("max_lsn"),
                F.sum(F.when(~is_del, 1).otherwise(0)).alias("ups"),
                F.sum(F.when(is_del, 1).otherwise(0)).alias("dels"),
            )
            .collect()
        )
        if not stat_rows:
            return self._commit_empty(m, key, epoch_id)
        rows = sorted(
            (int(r["b"]), int(r["max_lsn"]), int(r["ups"]), int(r["dels"]))
            for r in stat_rows
        )
        touched = {b for b, *_ in rows}
        watermark = max(int(m["watermark"]), max(mx for _, mx, _, _ in rows))

        # pending MoR deltas for the touched buckets fold into this
        # rewrite (mode interleave safety): their rows join the target
        # side carrying their commit seq, so equal-lsn redeliveries still
        # resolve toward the later epoch, and the new manifest drops the
        # absorbed delta references.
        deltas: dict[str, list[str]] = m.get("deltas") or {}
        target = self._with_deltas(
            [p for b in touched for p in m["buckets"].get(str(b), [])],
            [p for b in touched for p in deltas.get(str(b), [])],
        )
        # version-guarded LWW against the target (module docstring):
        # stored rows and batch rows become one envelope stream and the
        # max-lsn row per PK wins; deletes win as tombstone rows. No
        # broadcast anywhere: driver-side build cost would cap scaling
        # at replay batch sizes. _rdl_src is the equal-lsn tie rank: base
        # rows 0, delta rows their commit seq, this batch next_seq
        # (> every stored seq).
        next_seq = int(m.get("next_delta_seq", 1))
        t_env = target.select(*cols.target)
        b_env = batch.select(
            *self._envelope(epoch_id, cols),
            F.lit(next_seq).cast("long").alias("_rdl_src"),
        )
        buckets = {
            b: files for b, files in m["buckets"].items() if int(b) not in touched
        }
        written = self._write_buckets(self._lww_merge_plan(t_env, b_env, layout))
        stray = sorted(int(b) for b in written if int(b) not in touched)
        if stray:
            # the write read rows in buckets the stats pass did not see: the
            # batch's source changed between its two reads (a live jdbc://
            # table). Those buckets' stored rows were never read, so the
            # commit would replace them with the batch rows alone; nothing is
            # committed and the files written become orphans for vacuum.
            raise RuntimeError(
                f"target {spec.name!r}, epoch {key}: the batch changed between "
                f"its stats pass and its write (buckets {stray} appeared); "
                "nothing was committed, rerun the epoch"
            )
        buckets.update(written)
        return rows, self._commit_epoch(
            m, key, "merge", buckets, watermark, epoch_id,
            {b: fs for b, fs in deltas.items() if int(b) not in touched},
            next_seq if "next_delta_seq" in m else None,
        )

    def compact_deltas(self, max_buckets: int | None = None) -> int:
        """Fold pending MoR delta files back into their buckets' base files
        (Hudi's compaction service / Iceberg's
        rewrite_position_delete_files analog): ONE bucket-clustered shuffle
        over base ∪ deltas of the selected buckets — the same fused
        window+write plan the CoW merge uses — then a manifest that
        references the folded files and clears those buckets' delta lists.
        Logical content is bit-identical (the fold IS the read path's
        resolution, materialized); tombstones, lsn guards, audit stamps all
        ride through, so time travel to pre-compaction versions keeps
        folding the old deltas and ``expire_tombstones`` stays a separate,
        explicitly-gated decision. Buckets without deltas are carried by
        reference — compaction cost is O(selected buckets), not O(table).

        ``max_buckets`` bounds one compaction run to the N WORST buckets
        (most delta files = highest read amplification), leaving the rest
        pending — the incremental-compaction shape a 10^10-row table
        needs: debt spanning thousands of buckets folds across scheduled
        runs of bounded cost instead of one table-sized job, and every
        run is independently committed/resumable because per-bucket folds
        never interact. Returns the number of delta files folded."""
        m = self.current_manifest()
        all_deltas: dict[str, list[str]] = (m or {}).get("deltas") or {}
        if not all_deltas:
            return 0
        if max_buckets is not None and max_buckets <= 0:
            # an exhausted scheduler budget means NO work this cycle — not
            # a silent one-bucket shuffle
            return 0
        worst = sorted(
            all_deltas, key=lambda b: len(all_deltas[b]), reverse=True
        )[:max_buckets]
        hot_base, delta_rels, cold, _ = self._select(m, worst)
        folded = self._clustered(
            self._with_deltas(hot_base + cold, delta_rels),
            self._layout(m),
            lww=self._fold_order(),
        ).drop(SEQ_COL)
        folding = set(worst)
        self._rewrite(
            m, "compact_deltas", folded, folding,
            deltas={b: fs for b, fs in all_deltas.items() if b not in folding},
        )
        return len(delta_rels)

    def _compacted_head(self) -> dict[str, Any] | None:
        """The head manifest after folding any pending merge-on-read deltas
        into base — the first step of every whole-bucket rewrite (optimize,
        rebucket, expire_tombstones, a renaming evolve): those read the
        buckets' BASE file lists, and a rewrite that ignored delta rows
        would silently drop uncompacted epochs."""
        if (self.current_manifest() or {}).get("deltas"):
            self.compact_deltas()
        return self.current_manifest()

    def _rewrite(
        self,
        m: dict[str, Any],
        kind: str,
        clustered: DataFrame,
        rewritten: set[str] | None = None,
        **fields: Any,
    ) -> dict[str, Any]:
        """Commit a maintenance rewrite of head ``m``: write ``_clustered``
        output, keep the buckets outside ``rewritten`` (default: none) by
        reference, and commit ``{**m, **fields, buckets, kind}`` — epochs,
        watermarks and schema carry over untouched. A ``deltas`` map left
        empty is dropped, as on every commit with no pending deltas."""
        buckets = {
            b: fs
            for b, fs in m["buckets"].items()
            if rewritten is not None and b not in rewritten
        }
        buckets.update(self._write_buckets(clustered))
        manifest = {**m, **fields, "buckets": buckets, "kind": kind}
        if not manifest.get("deltas"):
            manifest.pop("deltas", None)
        return self._commit(manifest)

    # ---- clones ----------------------------------------------------------------

    def clone_to(
        self, dest_path: str, mode: str = "shallow", version: int | None = None
    ) -> dict[str, Any]:
        """Clone this table (at ``version``, default head) into a NEW table
        at ``dest_path`` — Delta/Iceberg ``CLONE``:

        - ``shallow``: metadata-only and O(1) data bytes — the clone's v1
          manifest references the source's data files by ABSOLUTE path
          (``_read_files`` resolves them unchanged: joining an absolute
          path ignores the table root), while everything the clone writes
          afterwards lands under its own root as usual. Divergence is
          free-and-isolated in both directions: merges into the clone
          rewrite only the buckets they touch (absolute refs drop away as
          buckets rewrite), and the clone's ``vacuum`` can NEVER reclaim
          source bytes (it only globs the clone's own data dir). The one
          liability is Delta's too: the SOURCE's vacuum does not know
          about clone references, so a source vacuum expiring the cloned
          version strands the clone (``fsck`` detects it; deep-clone or
          re-clone to repair). Pin retention accordingly.
        - ``deep``: byte-copy every referenced data file under the clone's
          root (file copies, no Spark job — footer stats carry over), fully
          isolating it from source retention. Cost O(table bytes).

        The clone carries ``applied_epochs``/watermark/spec, so it can
        CONTINUE INGESTING the same change log independently — the
        zero-copy dev-replay-from-production workflow at 10^10 rows.
        Pending MoR deltas clone with the table (both modes). Returns the
        clone's committed manifest."""
        if mode not in ("shallow", "deep"):
            raise ValueError(f"clone mode must be 'shallow' or 'deep', got {mode!r}")
        m = self._manifest(version)
        if m is None:
            raise RuntimeError("clone_to: source table has no committed snapshot")
        if os.path.abspath(dest_path) == os.path.abspath(self.path):
            raise ValueError("clone_to: destination is the source table")
        dest = SnapshotTable(self.spark, dest_path, self.spec)
        if dest.exists():
            raise RuntimeError(f"clone_to: {dest_path!r} already has a table")

        def _remap_shallow(files: list[str]) -> list[str]:
            # already-absolute refs (clone of a clone) pass through
            return [
                p if os.path.isabs(p) else os.path.join(self.path, p)
                for p in files
            ]

        if mode == "shallow":
            remap = _remap_shallow
        else:
            import shutil

            copy_dir = os.path.join(dest_path, "data", uuid.uuid4().hex)

            def remap(files: list[str]) -> list[str]:
                out = []
                for p in files:
                    src = p if os.path.isabs(p) else os.path.join(self.path, p)
                    b = os.path.basename(os.path.dirname(src))  # _bucket=N
                    d = os.path.join(copy_dir, b)
                    os.makedirs(d, exist_ok=True)
                    dst = os.path.join(d, os.path.basename(src))
                    shutil.copyfile(src, dst)
                    out.append(os.path.relpath(dst, dest_path))
                return out

        # carry the source's per-file stats under the remapped keys so the
        # clone commit is truly metadata-only (zero footer reads; _commit's
        # _file_stats trusts pre-seeded entries) — shallow references and
        # deep byte-copies are both stat-identical to their source files
        src_stats = m.get("file_stats", {})

        def _remap_stats(olds: list[str], news: list[str]) -> dict[str, Any]:
            return {
                new: src_stats[old]
                for old, new in zip(olds, news)
                if old in src_stats
            }

        buckets_new: dict[str, list[str]] = {}
        deltas_src = m.get("deltas") or {}
        deltas_new: dict[str, list[str]] = {}
        stats_new: dict[str, Any] = {}
        for b, fs in m["buckets"].items():
            buckets_new[b] = remap(fs)
            stats_new.update(_remap_stats(fs, buckets_new[b]))
        for b, fs in deltas_src.items():
            deltas_new[b] = remap(fs)
            stats_new.update(_remap_stats(fs, deltas_new[b]))

        manifest = {
            "buckets": buckets_new,
            "file_stats": stats_new,
            "n_buckets": self._layout(m),
            "applied_epochs": sorted(_normalize_epoch_keys(m["applied_epochs"])),
            "watermark": int(m["watermark"]),
            "baseline_watermark": int(
                m.get("baseline_watermark", m.get("watermark", -1))
            ),
            "spec_checksum": m.get("spec_checksum", self.spec.checksum()),
            "spec_json": m.get("spec_json", self.spec.to_json()),
            "schema": m["schema"],
            "kind": f"clone_{mode}",
            "clone_of": {"path": self.path, "version": int(m["version"])},
        }
        if deltas_new:
            manifest["deltas"] = deltas_new
            manifest["next_delta_seq"] = int(m.get("next_delta_seq", 1))
        return dest._commit(manifest)

    # ---- maintenance -----------------------------------------------------------

    def vacuum(
        self, keep_manifests: int = 3, orphan_min_age_seconds: int = 86_400
    ) -> int:
        """Snapshot expiry + orphan collection, three-way:

        - referenced by the last ``keep_manifests`` MAIN manifests or ANY
          live branch → KEPT (unpublished WAP staging is always retained;
          dropping the branch is what releases its files);
        - referenced by an EXPIRED manifest or a dropped-branch record →
          superseded history, deleted immediately;
        - referenced by NOTHING, EVER → deleted only once older than
          ``orphan_min_age_seconds``. These are crash/race leftovers — a
          failed or out-raced commit's data files — but a file in this set
          can ALSO be a concurrent writer's commit IN FLIGHT (written,
          manifest not yet linked), which is exactly the population
          ``run_with_retry`` makes routine. The age gate is what keeps GC
          from eating a live writer's files mid-commit (Iceberg's
          remove_orphan_files draws the same line, default 3 days); pass
          0 only when no other writer can be active.

        Returns files removed. Aged manifest ``.tmp-*`` leftovers (crash
        between fsync and link) are swept on the same gate, uncounted."""
        import shutil

        def _refs(manifest_paths: list[str]) -> set[str]:
            out: set[str] = set()
            for mf in manifest_paths:
                with open(mf) as f:
                    doc = json.load(f)
                for files in doc["buckets"].values():
                    out.update(files)
                # pending MoR delta files are as live as base files — a
                # sweep that missed them would eat uncompacted epochs
                for files in (doc.get("deltas") or {}).values():
                    out.update(files)
            return out

        all_main = self._manifest_files()
        live_branch = glob(
            os.path.join(self.path, "_manifests", "branches", "*", "v*.json")
        )
        dropped = glob(
            os.path.join(self.path, "_manifests", "_dropped", "*", "v*.json")
        )
        now = time.time()
        # the "ever referenced" set only matters for files YOUNGER than the
        # orphan gate (older ones fall to the age rule regardless), and a
        # file can only be younger than the gate if some manifest committed
        # within the gate window references it — so parsing is bounded to
        # manifests whose own mtime is inside the window (+ the kept tail),
        # not the table's entire commit history. A 15-min-commit table is
        # ~100 manifests/day, not 35k/year, per sweep.
        recent_main = [
            mf
            for mf in all_main[: -keep_manifests or None]
            if now - os.path.getmtime(mf) < orphan_min_age_seconds
        ]
        kept = _refs(all_main[-keep_manifests:] + live_branch)
        ever = _refs(recent_main + dropped) | kept
        removed = 0
        for f in glob(
            os.path.join(self.path, "data", "*", f"{_BUCKET_COL}=*", "*.parquet")
        ):
            rel = os.path.relpath(f, self.path)
            if rel in kept:
                continue
            try:
                expired = (
                    rel in ever
                    or now - os.path.getmtime(f) >= orphan_min_age_seconds
                )
                if expired:
                    os.remove(f)
                    removed += 1
            except FileNotFoundError:
                # a concurrent sweep (or maintenance) beat us to it — the
                # file being gone IS the goal state, not an error
                continue
        # dropped-branch records have served their purpose this sweep
        shutil.rmtree(
            os.path.join(self.path, "_manifests", "_dropped"),
            ignore_errors=True,
        )
        for tmp in glob(os.path.join(self.path, "_manifests", ".tmp-*")):
            try:
                if now - os.path.getmtime(tmp) >= orphan_min_age_seconds:
                    os.remove(tmp)
            except FileNotFoundError:
                continue
        return removed

    def optimize(
        self,
        sort_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
        zorder_bits: int = 8,
        files_per_bucket: int = 1,
    ) -> int:
        """Sort-compaction (the OPTIMIZE table service; Iceberg twin:
        ``rewrite_data_files`` with a sort strategy): rewrite every bucket
        as ONE file with rows sorted by ``sort_cols`` (default: the
        primary key). ``zorder_cols`` switches the in-bucket order to a
        Morton code over those columns instead (Delta/Iceberg
        ``ZORDER BY`` twin) — multi-column row-group pruning at the cost
        of the leading key's perfect ordering; mutually exclusive with
        ``sort_cols`` taking effect.

        Logical content is bit-identical — tombstones, internal lsn/audit
        columns, everything; only the physical layout changes. The win is
        ORDER, not file count (this sink's merges already rewrite each
        touched bucket to one file): merge output is clustered by bucket
        but row order inside follows the LWW window processing, so parquet
        row-group min/max stats on the PK are useless — after a sort
        rewrite they prune point lookups (``read_keys``) and PK-range
        scans inside the bucket, the same reason Iceberg deployments run
        sort-strategy ``rewrite_data_files``. It also collapses
        multi-file buckets when they do occur (full-refresh task splits,
        speculative duplicates). Commits a
        new manifest version (``kind=optimize``) — epochs/watermarks
        carry over untouched, time travel to pre-optimize versions keeps
        reading the old files until ``vacuum``. Returns the file count
        before the rewrite (the maintenance report's "compacted N").

        ``files_per_bucket > 1`` additionally RANGE-SPLITS each bucket
        into that many files along the sort order (``ntile`` chunks), so
        consecutive files hold disjoint sort-key ranges. That is what
        turns the manifest's zone maps (``read_range``/``prune_report``)
        into actual file skipping: with one file per bucket every file
        spans ~the whole value range and nothing can be pruned; with
        range-split files a narrow predicate opens ~1/files_per_bucket of
        the table. Costs a second exchange (the ntile window hashes by
        bucket, then the write redistributes by (bucket, chunk)) — pay it
        when the table serves range scans, skip it for pure point-lookup
        tables where bucket pruning already does the work. This is the
        same layout Iceberg's sort-strategy ``rewrite_data_files`` with a
        target file size produces. Bucket routing is untouched either
        way (chunking splits WITHIN each bucket), so ``read_keys`` keeps
        pruning by bucket — now to smaller files.
        """
        m = self._compacted_head()
        if m is None:
            return 0
        layout = self._layout(m)
        rels = [p for files in m["buckets"].values() for p in files]
        df = self._read_files(rels)
        if zorder_cols:
            # multi-column locality instead of a lexicographic PK sort:
            # rows inside each bucket file are ordered by Morton code over
            # `zorder_cols`, so parquet row-group min/max stats prune
            # predicates on ANY interleaved column, not just the leading
            # sort key (operators/layout.py has the arithmetic + the
            # determinism contract). Bucket routing is untouched — z-order
            # changes row order WITHIN each bucket's one file only, so
            # read_keys' bucket pruning keeps working unchanged.
            from relational_data_loader_spark.operators.layout import (
                zorder_assign,
            )

            df = zorder_assign(df, list(zorder_cols), bits=zorder_bits, n_files=2)
            sort_keys = ["zcode"]
        else:
            sort_keys = list(sort_cols) if sort_cols else self.spec.primary_keys
        if files_per_bucket > 1:
            wb = Window.partitionBy(_BUCKET_COL).orderBy(
                *[F.col(c) for c in sort_keys]
            )
            clustered = (
                df.withColumn(_BUCKET_COL, bucket_expr(self.bucket_key, layout))
                .withColumn(
                    "_chunk", F.ntile(files_per_bucket).over(wb)
                )
                .repartitionByRange(
                    layout * files_per_bucket,
                    F.col(_BUCKET_COL),
                    F.col("_chunk"),
                )
                .sortWithinPartitions(_BUCKET_COL, "_chunk", *sort_keys)
                .drop("_chunk")
            )
        else:
            clustered = self._clustered(df, layout).sortWithinPartitions(
                _BUCKET_COL, *sort_keys
            )
        if zorder_cols:
            clustered = clustered.drop("zcode", "file_id")
        self._rewrite(m, "optimize", clustered)
        return len(rels)

    def rebucket(self, n_buckets: int) -> int:
        """Change the table's hash-bucket layout IN PLACE — the table
        service a pinned-layout table needs once it outgrows its day-1
        bucket count (a 10^10-row table laid out with 64 buckets has
        ~150M-row bucket files: every MERGE rewrites whole multi-GB files
        and point lookups scan them; doubling the layout halves both).

        Semantics mirror ``optimize``: logical content is bit-identical
        (tombstones, internal columns, audit), epochs/watermark carry over
        untouched, time travel to pre-rebucket versions keeps reading the
        old layout (each manifest pins its own ``n_buckets``, so readers
        and mergers of any version route keys with the layout its files
        were actually written under). One full rewrite: rehash + ONE
        shuffle into the new layout, PK-sorted within buckets (the rewrite
        is the natural moment to restore sort locality too). Incremental
        merges after the commit pick up the new layout from the manifest
        automatically. Returns the previous bucket count (0 = no table or
        no-op).
        """
        m = self._compacted_head()
        if m is None:
            return 0
        old = self._layout(m)
        n_buckets = int(n_buckets)
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        if n_buckets == old:
            return 0
        df = self._read_files(
            [p for files in m["buckets"].values() for p in files]
        )
        clustered = self._clustered(df, n_buckets).sortWithinPartitions(
            _BUCKET_COL, *self.spec.primary_keys
        )
        self._rewrite(m, "rebucket", clustered, n_buckets=n_buckets)
        return old

    def maintenance_report(
        self, target_bucket_bytes: int = 512 * 1024 * 1024
    ) -> dict[str, Any]:
        """Layout-health report from manifest metadata ALONE (the
        commit-time file stats fsck also uses) — zero data reads, so a
        scheduler can run it per table per epoch and decide which of the
        maintenance verbs to fire:

        - ``recommend_optimize``: some bucket holds >1 file (full-refresh
          task splits, speculative duplicates) — a sort rewrite folds each
          back to one stats-pruned file;
        - ``recommend_rebucket_to``: mean bucket size exceeds
          ``target_bucket_bytes`` — suggests the next power-of-two layout
          that brings it back under (the ``rebucket`` argument to use);
        - ``bucket_skew``: max/mean bucket bytes — >2 means the bucket KEY
          is skewed; rebucketing won't fix that (same key → same bucket at
          any count), hot-key handling will (operators/skew.py);
        - ``recommend_compact_deltas``: merge-on-read delta debt — the max
          per-bucket delta FILE count is that bucket's read amplification
          (every read of it folds that many extra files), so >0 with any
          meaningful pile is the ``compact_deltas`` signal. Auto-compaction
          (``spec.mor_compact_files``) keeps this bounded by construction.
        """
        m = self.current_manifest()
        if m is None:
            return {"status": "no_table"}
        stats = m.get("file_stats", {})
        deltas: dict[str, list[str]] = m.get("deltas") or {}
        delta_files = sum(len(fs) for fs in deltas.values())
        delta_bytes = sum(
            int(stats.get(p, {}).get("bytes", 0))
            for fs in deltas.values()
            for p in fs
        )
        max_delta_files = max((len(fs) for fs in deltas.values()), default=0)
        per_bucket_bytes: dict[str, int] = {}
        per_bucket_files: dict[str, int] = {}
        total_rows = 0
        for b, files in m["buckets"].items():
            per_bucket_files[b] = len(files)
            per_bucket_bytes[b] = sum(
                int(stats.get(p, {}).get("bytes", 0)) for p in files
            )
            total_rows += sum(int(stats.get(p, {}).get("rows", 0)) for p in files)
        n_buckets = self._layout(m)
        sizes = list(per_bucket_bytes.values()) or [0]
        mean_b = sum(sizes) / max(len(sizes), 1)
        max_files = max(per_bucket_files.values() or [0])
        rec_rebucket = None
        if mean_b > target_bucket_bytes:
            factor = 1
            while mean_b / (1 << factor) > target_bucket_bytes:
                factor += 1
            rec_rebucket = n_buckets * (1 << factor)
        return {
            "version": m.get("version"),
            "n_buckets": n_buckets,
            "total_rows": total_rows,
            "total_bytes": sum(sizes),
            "mean_bucket_bytes": int(mean_b),
            "max_bucket_bytes": max(sizes),
            "bucket_skew": round(max(sizes) / mean_b, 2) if mean_b else 0.0,
            "max_files_per_bucket": max_files,
            "recommend_optimize": max_files > 1,
            "recommend_rebucket_to": rec_rebucket,
            "delta_files": delta_files,
            "delta_bytes": delta_bytes,
            "max_delta_files_per_bucket": max_delta_files,
            "recommend_compact_deltas": delta_files > 0,
        }

    def rollback(self, version: int) -> dict[str, Any]:
        """Restore the table to an earlier committed version by COMMITTING
        a new manifest that duplicates it (Iceberg's
        ``rollback_to_snapshot``; never by deleting manifests — history
        stays append-only, so the rolled-back-FROM state remains
        time-travelable and auditable). The repair half of ``fsck``: when
        the current version's files are corrupt, roll back to the last
        intact version and re-run the load — watermark and applied_epochs
        revert WITH the manifest, so the next incremental re-ingests
        everything past the restored watermark and the version-guarded
        merge keeps the replay exactly-once.

        Only valid within vacuum's retention window (the old version's
        data files must still exist — run ``fsck(version=N)`` first to
        check). Raises on a rollback to the current version (no-op would
        burn a version number and confuse the audit trail).
        """
        cur = self.current_manifest()
        if cur is None:
            raise ValueError("rollback: table has no committed manifest")
        if int(version) == int(cur["version"]):
            raise ValueError(
                f"rollback target {version} is already the current version"
            )
        target = self.manifest_at(int(version))
        manifest = {
            k: v
            for k, v in target.items()
            if k not in ("version", "committed_at")
        }
        manifest["kind"] = "rollback"
        manifest["rollback_of"] = int(version)
        manifest["rolled_back_from"] = int(cur["version"])
        return self._commit(manifest)

    def fsck(self, version: int | None = None) -> dict[str, Any]:
        """Verify every data file the manifest references against its
        commit-time stats (size + parquet-footer row count) — the cheap
        half of an integrity scan: footer reads only, no data pages, so
        it's safe to run on a schedule against a 10^10-row table. Catches
        the failure the manifest alone can't see: a file that an external
        actor deleted, truncated, or swapped AFTER its commit (bit-rot,
        mis-scoped retention scripts, manual "cleanup"). Reports, never
        repairs — the fix is time travel to an intact version or replay
        from the change log, both of which need the evidence intact.
        """
        m = self._manifest(version)
        if m is None:
            return {"status": "no_table", "ok": True}
        stats = m.get("file_stats", {})
        missing: list[str] = []
        corrupt: list[str] = []
        unverifiable: list[str] = []
        n = 0
        for files in list(m["buckets"].values()) + list(
            (m.get("deltas") or {}).values()
        ):
            for rel in files:
                n += 1
                full = os.path.join(self.path, rel)
                if not os.path.exists(full):
                    missing.append(rel)
                    continue
                rec = stats.get(rel)
                if rec is None:
                    # pre-stats manifest (older layout version): existence
                    # is all we can check — report that honestly
                    unverifiable.append(rel)
                    continue
                if os.path.getsize(full) != rec["bytes"]:
                    corrupt.append(rel)
                    continue
                try:
                    rows = pq.ParquetFile(full).metadata.num_rows
                except Exception:
                    corrupt.append(rel)
                    continue
                if rows != rec["rows"]:
                    corrupt.append(rel)
        return {
            "version": m.get("version"),
            "files_checked": n,
            "missing": sorted(missing),
            "corrupt": sorted(corrupt),
            "unverifiable": sorted(unverifiable),
            "ok": not missing and not corrupt,
        }

    def expire_tombstones(self, below_lsn: int) -> int:
        """Drop tombstone rows with lsn ≤ ``below_lsn`` (Iceberg twin:
        compaction). Safe once the caller knows no out-of-order event older
        than ``below_lsn`` can still arrive (e.g. the streaming source's
        files are fully processed up to it). Rewrites ONLY the buckets that
        hold expirable tombstones — found by one column-pruned scan of the
        two internal columns."""
        m = self._compacted_head()
        if m is None:
            return 0
        layout = self._layout(m)
        df = self._read_files(
            [p for files in m["buckets"].values() for p in files]
        )
        expirable = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
            F.coalesce(F.col(LSN_COL), F.lit(-1)) <= below_lsn
        )
        hit_rows = (
            df.filter(expirable)
            .groupBy(bucket_expr(self.bucket_key, layout).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not hit_rows:
            return 0
        touched = {int(r["b"]) for r in hit_rows}
        expired = int(sum(r["n"] for r in hit_rows))
        keep_df = self._read_files(
            [p for b in touched for p in m["buckets"].get(str(b), [])]
        ).filter(~expirable)
        self._rewrite(
            m, "expire_tombstones", self._clustered(keep_df, layout),
            {str(b) for b in touched},
        )
        return expired

    # ---- schema evolution ------------------------------------------------------

    def evolve(
        self,
        new_spec: IngestSpec,
        renames: list[tuple[str, str]],
        widened: list[tuple[str, str]] = (),
    ) -> None:
        """Additive/rename/widening evolution (FIXTURES.md F3 cases a+b).

        Additive columns are metadata-only: the read path passes the new
        schema explicitly and parquet read-by-name yields NULL for files
        written before the evolution (exactly Iceberg add-column semantics).
        Type WIDENING (int→bigint, float→double, decimal precision growth —
        spec.is_type_widening) is also metadata-only: Spark 4's parquet
        reader promotes the physical type at read time, so old int32 files
        and new int64 files coexist under the widened read schema; only the
        manifest's committed schema changes. (Widening the BUCKET KEY never
        reaches here — its xxhash64 changes with the width, so the decision
        layer forces a re-bucketing full refresh.)
        Renames rewrite the snapshot here (parquet has no field ids); on the
        Iceberg sink a rename is metadata-only — the cost difference is the
        sink's, not the engine's, and is documented in sinks/iceberg.py.
        """
        if renames:
            m = self._compacted_head()
            # read the existing files with the schema they were WRITTEN with
            # (the manifest's), not the new spec's — read-by-name would
            # resolve the renamed column to NULL otherwise
            old_schema = T.StructType.fromJson(json.loads(m["schema"]))
            rels = [p for files in m["buckets"].values() for p in files]
            if rels:
                df = self.spark.read.schema(old_schema).parquet(
                    *[os.path.join(self.path, p) for p in rels]
                )
            else:
                df = self.spark.createDataFrame([], old_schema)
            for old, new in renames:
                df = df.withColumnRenamed(old, new)
            self.spec = new_spec
            self.bucket_key = new_spec.primary_keys[0]
            for c in new_spec.columns:
                if c.destination not in df.columns:
                    df = df.withColumn(c.destination, F.lit(None).cast(c.spark_type))
                elif df.schema[c.destination].dataType != c.spark_type:
                    # widen during the rewrite so the new files are born
                    # with the promoted type (lossless by is_type_widening)
                    df = df.withColumn(
                        c.destination, F.col(c.destination).cast(c.spark_type)
                    )
            # a rename rewrites rows but keeps the committed bucket layout
            # (hashing is on values, which are unchanged)
            layout = self._layout(m)
            # audit stamps + version/tombstone columns ride through untouched
            # (a rename is not a load; rows keep their epoch and lsn)
            for name, typ in ((LSN_COL, "long"), (DELETED_COL, "boolean")):
                if name not in df.columns:  # files from before versioning
                    df = df.withColumn(name, F.lit(None).cast(typ))
            keep = (
                self._dest_cols()
                + [f.name for f in new_spec.audit_fields if f.name in df.columns]
                + [LSN_COL, DELETED_COL]
            )
            buckets = self._write_buckets(self._clustered(df.select(*keep), layout))
            self._commit(
                {
                    "buckets": buckets,
                    "n_buckets": layout,
                    "applied_epochs": sorted(_normalize_epoch_keys(m["applied_epochs"])),
                    "watermark": m["watermark"],
                    "baseline_watermark": int(
                        m.get("baseline_watermark", m.get("watermark", -1))
                    ),
                    "spec_checksum": new_spec.checksum(),
                    "spec_json": new_spec.to_json(),
                    "schema": self._storage_schema().json(),
                    "kind": "evolve_rename",
                }
            )
        else:
            m = self.current_manifest()
            self.spec = new_spec
            self._commit(
                {
                    **m,
                    "n_buckets": self._layout(m),
                    "spec_checksum": new_spec.checksum(),
                    "spec_json": new_spec.to_json(),
                    "schema": self._storage_schema().json(),
                    "kind": "evolve_add",
                }
            )
