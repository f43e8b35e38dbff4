"""Ingest spec — the engine's declarative "model config".

Mirrors the reference's per-table JSON model configuration
(``modules/DataLoadManager.py`` config loading; README "model
configuration" — SURVEY.md §1.1): source table, column mappings
(source name -> destination name + declared type), primary keys, and
batch sizing. Like the reference, a *change* to the spec is detected by
checksum and classified: additive / rename changes evolve the target
schema in place; breaking changes force a full refresh (the reference's
only schema-evolution story, SURVEY.md §1.2).

The spec is the engine's entire "query language", exactly as in the
reference: there is no user expression surface beyond column mapping,
type casting, and the optional vectorized transforms registry.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

# Per-row audit column names (reference P3 analog; spec.audit_columns).
AUDIT_EXEC_ID = "_rdl_exec_id"
AUDIT_LOADED_AT = "_rdl_loaded_at"

# Model-JSON type keyword -> Spark type (SURVEY.md §1.2 type table).
_TYPE_MAP: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "guid": T.StringType(),
    "uuid": T.StringType(),
    "json": T.StringType(),
    "binary": T.BinaryType(),
}


def spark_type(type_name: str) -> T.DataType:
    """Resolve a model-JSON type keyword (e.g. ``decimal(12,2)``) to a Spark type."""
    name = type_name.strip().lower()
    if name.startswith(("decimal", "numeric")):
        if "(" in name:
            p, s = name[name.index("(") + 1 : name.rindex(")")].split(",")
            return T.DecimalType(int(p), int(s))
        return T.DecimalType(38, 18)
    if name not in _TYPE_MAP:
        raise ValueError(f"unknown model type: {type_name!r}")
    return _TYPE_MAP[name]


@dataclass(frozen=True)
class ColumnSpec:
    """One column mapping: source name -> destination name + declared type.

    Reference: the ``columns[]`` array of the model JSON
    (``modules/data_sources/*`` select builders apply the mapping;
    SURVEY.md §2.1 P1/P2).
    """

    source: str
    destination: str
    type: str
    primary_key: bool = False
    nullable: bool = True

    @property
    def spark_type(self) -> T.DataType:
        return spark_type(self.type)


@dataclass
class IngestSpec:
    """One destination table's ingest model.

    Reference: one JSON model file per destination table
    (``modules/DataLoadManager.py::start_single_import`` — SURVEY.md §2.1 C5).
    """

    name: str                               # destination table name
    source: str                             # source locator, e.g. parquet:///path, csv:///path
    columns: list[ColumnSpec] = field(default_factory=list)
    # Destination sink (reference: the dst-conn CLI arg picking the Postgres
    # writer). "snapshot" = the parquet fallback table under the manager's
    # warehouse; "iceberg://<catalog.db.table>" = the production Iceberg sink
    # (needs the runtime jars — plans/manager.py routes and fails loudly when
    # they're absent). Not part of checksum(): switching sinks is a
    # deployment change, not a schema change — the new sink's missing table
    # forces the initial full refresh by itself.
    sink: str = "snapshot"
    # Max change events applied per epoch (reference C2's batch_size).
    # Batch mode: a larger unapplied range is split into lsn-bounded chunks,
    # each committed separately (plans/manager.py). Streaming: drives the
    # default maxFilesPerTrigger (streaming/runner.py). 0 disables chunking.
    # Default sized for Spark executors, not pandas: ~5M events ≈ a few
    # hundred MB per epoch across the cluster.
    batch_size: int = 5_000_000
    lsn_column: str = "lsn"                 # change-version column (SYS_CHANGE_VERSION analog)
    op_column: str = "op"                   # change-operation column (SYS_CHANGE_OPERATION analog)
    delete_op: str = "D"
    upsert_ops: tuple[str, ...] = ("I", "U")
    target_buckets: int = 16                # hash buckets on first PK col for the snapshot sink
    # Skew salt for LWW netting (operators/lww.py): >1 makes the sinks run
    # the two-phase salted pre-net before their merge window. 0 (default) =
    # the fused merge window is the only net; it rides the bucket
    # repartition, where WindowGroupLimit plans in Final mode only, so a hot
    # PK is bounded by batch_size chunking — pin a factor when one PK floods
    # a chunk (plans/manager.py).
    salt_buckets: int = 0
    # MERGE strategy for the snapshot sink (Hudi's table-type choice,
    # Iceberg's write.merge.mode):
    #   "cow" (default) — copy-on-write: each epoch rewrites the touched
    #     buckets' files; reads are plain scans. Best for read-heavy tables.
    #   "mor" — merge-on-read: each epoch APPENDS bucketed delta files
    #     (O(batch) write, no base read at all); readers fold base ∪ deltas
    #     with the same LWW window; compact_deltas() folds the debt back
    #     into base files. Best for write-heavy CDC tails: with hashed PKs
    #     even a tiny batch touches ~every bucket, so CoW write cost is
    #     O(table) per epoch regardless of batch size — MoR makes it
    #     O(batch) and moves the fold cost to reads until compaction.
    # NOT part of checksum(): flipping the strategy is a deployment change,
    # never a schema change — it must not force a full refresh (the CoW
    # merge absorbs pending deltas for the buckets it touches, so the modes
    # interleave safely on one table). The Iceberg sink ignores it: its
    # MERGE INTO path is engine-side CoW here; real Iceberg v2 runtimes
    # flip the same trade via write.merge.mode table properties.
    merge_mode: str = "cow"
    # Change-envelope convention of the SOURCE feed (reference S2
    # generalized): "full" — every U carries the complete after-image
    # (MySQL binlog, SQL Server CT, Debezium default); "sparse" — U rows
    # set only changed columns, NULL means unchanged (MongoDB change
    # streams, Cassandra CDC, outbox patch feeds). Sparse batches fold
    # column-wise and densify against the committed table before the
    # standard full-row merge (operators/sparse.py). NOT part of
    # checksum(): it describes the wire format, not the destination
    # schema — committed rows are full images under either convention, so
    # flipping it must not force a refresh. Batch manager only: streaming
    # rejects sparse specs because permuted micro-batch segments (which
    # the stream path tolerates for full envelopes) would silently lose
    # column-level writes — the lsn-chunked batch loop applies in order.
    envelope: str = "full"
    # Auto-compaction trigger for merge_mode="mor": when any bucket holds
    # >= this many delta files after a merge, the sink runs compact_deltas()
    # before returning (0 = manual compaction only). Per-bucket delta file
    # count IS the read amplification of that bucket, which is why the
    # trigger is max-per-bucket, not a table-wide total.
    mor_compact_files: int = 0
    # Per-row audit/lineage columns (reference P3: modules/BatchDataLoader.py
    # appends load metadata to every destination row). When true, every
    # written row carries _rdl_exec_id (the epoch that wrote it) and
    # _rdl_loaded_at (epoch-derived timestamp — deterministic, replay-stable;
    # never current_timestamp(), which would break exactly-once replay
    # equality). Untouched rows keep the stamp of the epoch that wrote them.
    audit_columns: bool = False
    transforms: dict[str, str] = field(default_factory=dict)
    # destination column -> named vectorized transform (functions/registry.py);
    # the reference has no user extension point (SURVEY.md §2.2 "UDF surface");
    # this is our single, Arrow-vectorized one.

    # Data-quality admission gate (operators/quality.py): check name -> SQL
    # boolean expression over DESTINATION columns that is TRUE when a row
    # VIOLATES the expectation. Evaluated on every epoch's upsert rows
    # (deletes exempt — their payload is NULL by envelope contract) BEFORE
    # the merge commits, in one conditional-count pass. Mode "enforce"
    # raises ExpectationFailedError and commits nothing (the epoch reruns
    # cleanly after the source is fixed); "audit" commits and reports the
    # counts on RunResult.dq_violations. Deliberately NOT part of
    # checksum(): tightening a gate is an operational change, not a schema
    # change — it must never force a full refresh.
    expectations: dict[str, str] = field(default_factory=dict)
    expectations_mode: str = "enforce"  # "enforce" | "audit"

    # Poison-row policy for LOSSY CASTS (source value present, declared
    # cast yields NULL). "fail" keeps the historical behavior: the bad
    # value surfaces wherever the cast runs (ANSI error, or a NULL the DQ
    # gate catches). "quarantine" detours the RAW envelopes of failing
    # rows to an append-only dead-letter table (<warehouse>/<name>_dlq)
    # BEFORE projection, per epoch, and the batch commits without them —
    # a resident 10^10-event pipeline cannot abort on one bad byte.
    # ``DataLoadManager.replay_dlq`` re-admits them after a spec fix
    # (widen/transform) through the normal version-guarded merge, so the
    # final state converges to the full-replay-under-fixed-spec oracle.
    # Operational policy, deliberately NOT part of checksum(): flipping it
    # must never force a refresh. Deletes are exempt on non-PK columns
    # (only their key applies); a lossy PK cast always quarantines — the
    # row cannot even be addressed.
    on_cast_error: str = "fail"  # "fail" | "quarantine"

    # Load-order dependencies (plans/dag.py): names of specs whose tables
    # must commit BEFORE this one loads in a multi-spec batch run — the
    # FK parents. The CLI derives topological waves from these and skips
    # dependents of a rejected/failed parent instead of committing an
    # orphan window. Orchestration metadata, deliberately NOT part of
    # checksum(): re-declaring an ordering must never force a refresh.
    depends_on: tuple[str, ...] = ()

    # Schema-evolution compatibility policy (the schema-registry
    # BACKWARD/FORWARD/FULL levels, applied to THIS engine's two consumer
    # contracts). The gate runs in DataLoadManager.run whenever the spec
    # checksum changed, BEFORE any load work, and raises
    # CompatibilityError listing every violation — a governance rail for
    # multi-team tables where "the pipeline can evolve it" is not the
    # same question as "the consumers survive it".
    #   "none"     — anything diff() classifies as evolvable or breaking
    #                proceeds as today (breaking → full refresh).
    #   "backward" — consumers adopting the NEW schema must still read
    #                pre-evolution data (time travel, unrewritten files):
    #                forbids adding NON-NULLABLE columns (old rows have no
    #                value) and every breaking change; widening/rename/
    #                nullable-add pass.
    #   "forward"  — consumers pinned to the OLD schema must keep working
    #                against the evolved table: forbids renames, type
    #                widening (an old reader expects int, gets bigint) and
    #                every breaking change; additive columns pass (column
    #                pruning hides them from old projections).
    #   "full"     — both; only nullable adds pass.
    # Operational policy, deliberately NOT part of checksum(): tightening
    # the level must never itself force a refresh.
    compat_level: str = "none"

    def __post_init__(self) -> None:
        if self.merge_mode not in ("cow", "mor"):
            raise ValueError(
                f"spec {self.name!r}: merge_mode must be 'cow' or 'mor', "
                f"got {self.merge_mode!r}"
            )
        if self.envelope not in ("full", "sparse"):
            raise ValueError(
                f"spec {self.name!r}: envelope must be 'full' or 'sparse', "
                f"got {self.envelope!r}"
            )
        if self.mor_compact_files < 0:
            raise ValueError(
                f"spec {self.name!r}: mor_compact_files must be >= 0, "
                f"got {self.mor_compact_files}"
            )
        if self.on_cast_error not in ("fail", "quarantine"):
            raise ValueError(
                f"spec {self.name!r}: on_cast_error must be 'fail' or "
                f"'quarantine', got {self.on_cast_error!r}"
            )
        if self.on_cast_error == "quarantine" and self.envelope != "full":
            raise ValueError(
                f"spec {self.name!r}: on_cast_error='quarantine' requires "
                "envelope='full' — a sparse patch quarantined on one "
                "column has no full-row image to replay"
            )
        if self.compat_level not in ("none", "backward", "forward", "full"):
            raise ValueError(
                f"spec {self.name!r}: compat_level must be one of "
                f"none/backward/forward/full, got {self.compat_level!r}"
            )

    # ---- derived --------------------------------------------------------

    @property
    def primary_keys(self) -> list[str]:
        pks = [c.destination for c in self.columns if c.primary_key]
        if not pks:
            raise ValueError(f"spec {self.name!r} declares no primary key")
        return pks

    @property
    def source_primary_keys(self) -> list[str]:
        """PK columns by their SOURCE names — what the change stream carries
        (change_schema uses ColumnSpec.source; primary_keys uses destination
        names, which only coincide when the spec doesn't rename)."""
        pks = [c.source for c in self.columns if c.primary_key]
        if not pks:
            raise ValueError(f"spec {self.name!r} declares no primary key")
        return pks

    @property
    def payload_columns(self) -> list[str]:
        return [c.destination for c in self.columns if not c.primary_key]

    @property
    def audit_fields(self) -> list[T.StructField]:
        if not self.audit_columns:
            return []
        return [
            T.StructField(AUDIT_EXEC_ID, T.LongType(), True),
            T.StructField(AUDIT_LOADED_AT, T.TimestampType(), True),
        ]

    def destination_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.destination, c.spark_type, c.nullable) for c in self.columns]
            + self.audit_fields
        )

    def change_schema(self) -> T.StructType:
        """Schema of the change envelope: (lsn, op, pk..., payload-nullable...).

        Mirrors a CHANGETABLE(CHANGES ...) row left-joined to the base table
        (SURVEY.md §1.1 "Change envelope"): payload columns are NULL on D.
        """
        fields = [
            T.StructField(self.lsn_column, T.LongType(), False),
            T.StructField(self.op_column, T.StringType(), False),
        ]
        for c in self.columns:
            # PKs present on every envelope; payloads nullable (null on delete)
            fields.append(
                T.StructField(c.source, c.spark_type, not c.primary_key or c.nullable)
            )
        return T.StructType(fields)

    def untyped_change_schema(self) -> T.StructType:
        """Wire schema for quarantine-mode TEXT sources (csv): lsn/op keep
        their envelope types, every spec column reads as STRING so lossy
        values reach ``flag_lossy_casts`` instead of failing the scan.
        Parquet sources don't use this — they are self-describing, so
        quarantine mode reads them schema-less (sources/readers.py)."""
        fields = [
            T.StructField(self.lsn_column, T.LongType(), False),
            T.StructField(self.op_column, T.StringType(), False),
        ]
        for c in self.columns:
            fields.append(T.StructField(c.source, T.StringType(), True))
        return T.StructType(fields)

    # ---- checksum & evolution -------------------------------------------

    def checksum(self) -> str:
        """Stable config checksum; a change triggers evolution / full refresh.

        Reference: config-change detection in ``modules/DataLoadManager.py``
        (SURVEY.md §1.2 "Schema system").
        """
        doc = {
            "name": self.name,
            "audit_columns": self.audit_columns,
            "columns": [
                [c.source, c.destination, c.type, c.primary_key, c.nullable]
                for c in self.columns
            ],
        }
        return hashlib.sha256(json.dumps(doc, sort_keys=True).encode()).hexdigest()

    def check_compat(self, old: "IngestSpec") -> list[str]:
        """Violations of this spec's ``compat_level`` for the evolution
        old → self (empty list = compatible). Pure classification over
        ``diff()`` — see the ``compat_level`` field doc for which change
        classes each level forbids and why. Breaking changes (type change,
        PK change, dropped column, audit toggle) violate EVERY non-none
        level: they force a full refresh that rewrites the table out from
        under both consumer contracts."""
        if self.compat_level == "none":
            return []
        d = self.diff(old)
        out: list[str] = []
        for b in d.breaking:
            name = getattr(b, "destination", b)
            out.append(f"breaking change on {name!r} (forbidden at any level)")
        if self.compat_level in ("backward", "full"):
            for c in d.added:
                if not c.nullable:
                    out.append(
                        f"added NON-NULLABLE column {c.destination!r} "
                        "(backward: pre-evolution rows have no value)"
                    )
        if self.compat_level in ("forward", "full"):
            for old_name, new_name in d.renamed:
                out.append(
                    f"rename {old_name!r} -> {new_name!r} (forward: "
                    "old-schema consumers still select the old name)"
                )
            for name, new_type in d.widened:
                out.append(
                    f"widen {name!r} to {new_type!r} (forward: old-schema "
                    "consumers expect the narrow type)"
                )
        return out

    def diff(self, old: "IngestSpec") -> "SpecDiff":
        """Classify the change old -> self per SURVEY.md §7.1 M4 / FIXTURES.md F3.

        - additive: new destination columns (old rows get NULL) -> in-place evolve
        - rename: same source+type, new destination name -> metadata rename
        - breaking: type change, PK change, or dropped column -> full refresh
        """
        old_by_src = {c.source: c for c in old.columns}
        new_by_src = {c.source: c for c in self.columns}
        added, renamed, widened, breaking = [], [], [], []
        for src, c in new_by_src.items():
            o = old_by_src.get(src)
            if o is None:
                added.append(c)
                continue
            if o.primary_key != c.primary_key:
                breaking.append(c)
                continue
            if o.type != c.type:
                if is_type_widening(o.type, c.type):
                    # recorded under the NEW destination name: evolve
                    # applies renames first, then widens
                    widened.append((c.destination, c.type))
                else:
                    breaking.append(c)
                    continue
            if o.destination != c.destination:
                renamed.append((o.destination, c.destination))
        for src in old_by_src:
            if src not in new_by_src:
                breaking.append(old_by_src[src])
        if old.audit_columns != self.audit_columns:
            # toggling per-row audit changes the physical schema of every
            # row; backfilling historical stamps is impossible incrementally
            breaking.append("audit_columns")
        return SpecDiff(
            added=added, renamed=renamed, widened=widened, breaking=breaking
        )

    # ---- (de)serialization ----------------------------------------------

    def to_json(self) -> str:
        doc: dict[str, Any] = {
            "name": self.name,
            "source": self.source,
            "sink": self.sink,
            "batch_size": self.batch_size,
            "lsn_column": self.lsn_column,
            "op_column": self.op_column,
            "delete_op": self.delete_op,
            "upsert_ops": list(self.upsert_ops),
            "target_buckets": self.target_buckets,
            "salt_buckets": self.salt_buckets,
            "merge_mode": self.merge_mode,
            "envelope": self.envelope,
            "mor_compact_files": self.mor_compact_files,
            "audit_columns": self.audit_columns,
            "transforms": self.transforms,
            "expectations": self.expectations,
            "expectations_mode": self.expectations_mode,
            "on_cast_error": self.on_cast_error,
            "depends_on": list(self.depends_on),
            "compat_level": self.compat_level,
            "columns": [
                {
                    "source": c.source,
                    "destination": c.destination,
                    "type": c.type,
                    "primary_key": c.primary_key,
                    "nullable": c.nullable,
                }
                for c in self.columns
            ],
        }
        return json.dumps(doc, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "IngestSpec":
        doc = json.loads(text)
        return cls(
            name=doc["name"],
            source=doc["source"],
            sink=doc.get("sink", "snapshot"),
            columns=[ColumnSpec(**c) for c in doc["columns"]],
            batch_size=doc.get("batch_size", 5_000_000),
            lsn_column=doc.get("lsn_column", "lsn"),
            op_column=doc.get("op_column", "op"),
            delete_op=doc.get("delete_op", "D"),
            upsert_ops=tuple(doc.get("upsert_ops", ("I", "U"))),
            target_buckets=doc.get("target_buckets", 16),
            salt_buckets=doc.get("salt_buckets", 0),
            merge_mode=doc.get("merge_mode", "cow"),
            envelope=doc.get("envelope", "full"),
            mor_compact_files=doc.get("mor_compact_files", 0),
            audit_columns=doc.get("audit_columns", False),
            transforms=doc.get("transforms", {}),
            expectations=doc.get("expectations", {}),
            expectations_mode=doc.get("expectations_mode", "enforce"),
            on_cast_error=doc.get("on_cast_error", "fail"),
            depends_on=tuple(doc.get("depends_on", ())),
            compat_level=doc.get("compat_level", "none"),
        )


def is_type_widening(old_type: str, new_type: str) -> bool:
    """Lossless type promotions that evolve in place instead of forcing a
    full refresh — exactly Iceberg's metadata-only set (int→long,
    float→double, decimal precision growth at equal scale), which Spark 4's
    parquet reader also applies at read time, so the snapshot sink gets the
    same metadata-only treatment (sinks/snapshot.py evolve)."""
    o, n = old_type.strip().lower(), new_type.strip().lower()
    if (o, n) in {("int", "bigint"), ("float", "double")}:
        return True
    ot, nt = spark_type(o), spark_type(n)
    if isinstance(ot, T.DecimalType) and isinstance(nt, T.DecimalType):
        return nt.scale == ot.scale and nt.precision >= ot.precision
    return False


class CompatibilityError(ValueError):
    """A spec evolution violates the table's declared ``compat_level``.

    Raised by ``gate_compat`` BEFORE any load work — the table state,
    watermark and epochs are untouched, so fixing the spec (or lowering
    the level, a deliberate governance act) and rerunning applies cleanly.
    The registry analog: a producer's schema registration rejected by the
    subject's compatibility setting."""

    def __init__(self, spec_name: str, level: str, violations: list[str]):
        self.spec_name = spec_name
        self.level = level
        self.violations = violations
        super().__init__(
            f"spec {spec_name!r} violates compat_level={level!r}: "
            + "; ".join(violations)
        )


def gate_compat(spec: IngestSpec, stored: IngestSpec | None) -> None:
    """The one compatibility gate, run before any load work by
    ``DataLoadManager.run`` and ``StreamingIngest.start``: raise
    ``CompatibilityError`` when the evolution from the table's ``stored``
    spec (None before the first load) to the live ``spec`` violates
    ``spec.compat_level``."""
    if stored is None or stored.checksum() == spec.checksum():
        return
    violations = spec.check_compat(stored)
    if violations:
        raise CompatibilityError(spec.name, spec.compat_level, violations)


@dataclass
class SpecDiff:
    added: list[ColumnSpec]
    renamed: list[tuple[str, str]]
    breaking: list[Any]
    widened: list[tuple[str, str]] = field(default_factory=list)
    # (destination name AFTER any rename, new type keyword)

    @property
    def is_breaking(self) -> bool:
        return bool(self.breaking)

    @property
    def is_noop(self) -> bool:
        return not (self.added or self.renamed or self.widened or self.breaking)


def transcripts_spec(source: str = "", **overrides: Any) -> IngestSpec:
    """The flagship spec: multi-turn transcript table per BASELINE.json input_hint."""
    cols = [
        ColumnSpec("conv_id", "conv_id", "string", primary_key=True, nullable=False),
        ColumnSpec("turn_idx", "turn_idx", "int", primary_key=True, nullable=False),
        ColumnSpec("role", "role", "string"),
        ColumnSpec("text", "text", "string"),
        ColumnSpec("tool", "tool", "string"),
        ColumnSpec("ts", "ts", "datetime"),
    ]
    kwargs: dict[str, Any] = dict(name="transcripts", source=source, columns=cols)
    kwargs.update(overrides)
    return IngestSpec(**kwargs)
