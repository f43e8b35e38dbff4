"""Structured Streaming ingest: change-log tailer → foreachBatch MERGE.

The reference is a *polling* loader — each CLI run reads CHANGETABLE deltas
since the tracker's last version and applies them (SURVEY.md §3.2). This
module is that loop made resident: a Structured Streaming file source tails
the LSN-ordered change-log directory (micro-batch = ``maxFilesPerTrigger``
log segments, the reference's batch_size analog), and ``foreachBatch``
applies each micro-batch through the same epoch-apply path the batch
manager uses (``DataLoadManager.apply_epoch``: the sink's netting merge plus
the ``_rdl_state`` append).

Exactly-once story (north_star):
- Spark's streaming checkpoint makes source progress durable and replays a
  failed micro-batch with the SAME epoch_id after restart;
- the sink's commit manifest records applied epoch ids atomically with the
  data commit, so a replayed epoch is a detected no-op (merge → skipped);
- together: at-least-once delivery × idempotent commit = exactly-once apply.
  The two pieces of state (checkpoint dir, target manifest) must be kept or
  deleted together — same contract as Delta/Iceberg + checkpoint. ``start``
  refuses a fresh checkpoint on a table an earlier stream fed: its batch
  ids would restart at 0 and collide with the applied ``stream:<id>`` keys.
- no stateful operator: a redelivered segment rides the merge, whose
  version guard makes each stale row a no-op.

Late events at/below the full-refresh BASELINE (a refresh raced the stream)
are dropped by an explicit filter; events above it may arrive in any order
(the file source batches by mtime, not lsn) and are applied correctly by the
sink's version-guarded merge — see sinks/snapshot.py "out-of-order safety".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.session import CacheScope
from relational_data_loader_spark.spec import IngestSpec, gate_compat

# rows one change-log file is assumed to hold, to turn spec.batch_size (rows)
# into the file source's maxFilesPerTrigger (files)
ROWS_PER_LOG_FILE = 250_000


class StreamingIngest:
    """A resident (or availableNow) change-log tail that applies each
    micro-batch through ``DataLoadManager.apply_epoch``.

    ``quarantined`` maps each applied micro-batch id to the rows its
    dead-letter split detoured to ``<warehouse>/<name>_dlq/s<batchId>``
    (``spec.on_cast_error="quarantine"``; 0 when none did). A stream has no
    ``RunResult``: this is where a micro-batch reports what it
    dead-lettered. A checkpoint-replayed micro-batch overwrites its entry
    with the same count, as it overwrites its dead-letter directory.
    """

    def __init__(
        self,
        manager: DataLoadManager,
        spec: IngestSpec,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
    ):
        if spec.envelope != "full":
            # the stream path tolerates PERMUTED micro-batch segments (file
            # source orders by mtime, not lsn — see apply_batch); that is
            # safe for full after-images (version-guarded merge) but loses
            # column-level writes on sparse patches: the first-applied
            # segment's densified image would win whole-row over a
            # lower-lsn patch to a DIFFERENT column. The batch manager's
            # lsn-chunked loop applies in order — use that for sparse feeds.
            raise ValueError(
                f"spec {spec.name!r}: envelope='sparse' is batch-only; "
                "streaming segment permutation breaks column-level LWW"
            )
        if spec.on_cast_error == "quarantine" and not spec.source.startswith(
            "csv://"
        ):
            # readStream demands a schema for file sources, so only a TEXT
            # wire can be read untyped for the lossy-cast flags: a parquet
            # stream with mistyped physical columns fails the scan before
            # any flag runs, and the debezium parser types inside from_json
            # (malformed fields null silently, the raw value is gone). The
            # batch manager reads parquet schema-less — route those there.
            raise ValueError(
                f"spec {spec.name!r}: on_cast_error='quarantine' streams "
                "only over csv:// sources; parquet/debezium poison "
                "handling needs the batch manager's raw scan"
            )
        self.mgr = manager
        self.spec = spec
        self.checkpoint_dir = checkpoint_dir
        if max_files_per_trigger is None:
            # derive micro-batch size from the spec's batch_size (the
            # reference C2 knob): the file source is bounded in files, not
            # rows, so convert via the assumed rows per log file
            max_files_per_trigger = max(1, spec.batch_size // ROWS_PER_LOG_FILE)
        self.max_files_per_trigger = max_files_per_trigger
        self.quarantined: dict[int, int] = {}

    # -- micro-batch apply (also unit-testable without a running stream) ----

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spec = self.spec
        epoch_id = int(epoch_id)
        table = self.mgr.table(spec)
        if not table.exists():
            # bootstrap an empty snapshot so merge has a base (the reference
            # creates the destination table before its first batch — W5)
            envelope = T.StructType(
                [T.StructField(c.destination, c.spark_type) for c in spec.columns]
                + spec.change_schema().fields[:2]  # lsn, op
            )
            table.full_refresh_from_envelopes(
                self.mgr.spark.createDataFrame([], envelope),
                epoch_id=-1,
                watermark=-1,
                namespace="stream",
            )
        with CacheScope() as scope:
            # the ingest path's one cache: a foreachBatch micro-batch cannot
            # be read twice for free (each scan re-reads the source and
            # counts toward numInputRows), so it is cached when it has two
            # consumers — the dead-letter split (poison write + clean path)
            # or a sink merge that reads its batch twice (the sink says so:
            # the snapshot sink's copy-on-write stats pass + write)
            if spec.on_cast_error == "quarantine" or table.merge_reads_batch_twice():
                batch_df = scope.cache(batch_df)
            # drop only events the full-refresh BASELINE already covers — a
            # baseline snapshot subsumes its whole lsn range. Events above it
            # are NEVER dropped here: the file source orders micro-batches by
            # file mtime, not lsn, so around a kill/resume a later-lsn
            # segment can arrive first; the sink's version-guarded merge
            # (sinks/snapshot.py) applies permuted segments correctly in any
            # order. (Round-2 fix: a global max-watermark drop here silently
            # lost permuted segments.)
            batch_df = batch_df.filter(
                F.col(spec.lsn_column) > F.lit(table.baseline_watermark())
            )
            # dead-letter split per micro-batch ("s<batchId>" DLQ dirs): the
            # foreachBatch epoch_id is Structured Streaming's batchId, which
            # is stable across a checkpoint-replayed micro-batch — the
            # overwrite is idempotent exactly like the batch path's
            # lsn-keyed dirs
            if spec.on_cast_error == "quarantine":
                batch_df, self.quarantined[epoch_id] = self.mgr._quarantine_split(
                    spec, batch_df, epoch_id, prefix="s"
                )
            # "stream" namespace: Structured Streaming batchIds count 0,1,2,…
            # while batch-manager epochs are log positions — an un-namespaced
            # shared set would let a long-lived stream's batchId hit a
            # committed batch LSN and silently drop that micro-batch
            self.mgr.apply_epoch(
                table, spec, self.mgr.project(spec, batch_df), epoch_id,
                "stream", "stream_merge",
            )

    # -- stream lifecycle ------------------------------------------------------

    def start(self, available_now: bool = True) -> StreamingQuery:
        """Tail the change-log directory as a stream.

        File sources: ``parquet://`` (the lake-native log), ``csv://``
        (the reference's CsvDataSource S4, streamed) and ``debezium://``
        (JSON-lines Debezium envelopes, the binlog/WAL wire format —
        sources/debezium.py; parsed inside the stream so the foreachBatch
        apply path is byte-identical to the other schemes). A polled *database*
        source (the reference's primary mode, S2) intentionally has no
        readStream analog — Spark's JDBC source is batch-only — and maps to
        repeated batch runs instead: ``cli.py --stream --once`` drains the
        log and exits, and each batch-mode ``manager.run`` is one CT poll
        (watermark → CHANGETABLE-analog scan → merge). That equivalence is
        tested in tests/test_streaming.py::test_jdbc_style_poll_loop.
        """
        # registry gate at producer startup: a resident stream applies the
        # SAME spec for its whole life, so a forbidden evolution is caught
        # once here, before the first micro-batch, with the table untouched
        # (the batch path gates in manager.run). Level "none" gates nothing,
        # and a checkpoint that planned a batch is not fresh, so a resumed
        # stream under "none" reads no manifest here.
        fresh = not self._checkpoint_planned_a_batch()
        if self.spec.compat_level != "none" or fresh:
            table = self.mgr.table(self.spec)
            if table.exists():
                stored = table.stored_spec_json()
                gate_compat(self.spec, IngestSpec.from_json(stored) if stored else None)
                if fresh:
                    self._refuse_fresh_checkpoint(table)
        scheme, _, path = self.spec.source.partition("://")
        if scheme == "kafka":
            # Debezium topic tail (sources/kafka.py, jar-gated);
            # maxOffsetsPerTrigger in the URI bounds the micro-batch the way
            # maxFilesPerTrigger bounds the file sources
            from relational_data_loader_spark.sources.kafka import kafka_stream

            stream = kafka_stream(self.mgr.spark, self.spec.source, self.spec)
        elif scheme == "debezium":
            # text-source tail + the same parser the batch path uses; the
            # envelope supplies the schema, so no .schema() on the reader
            from relational_data_loader_spark.sources.debezium import parse_debezium

            raw = (
                self.mgr.spark.readStream.option(
                    "maxFilesPerTrigger", self.max_files_per_trigger
                )
                .option("latestFirst", "false")
                .text(path)
            )
            stream = parse_debezium(raw, self.spec)
        else:
            # quarantine mode tails the text wire untyped so lossy values
            # reach the flags instead of failing/nulling in the scan
            # (csv-only — the __init__ gate rejects the other schemes)
            stream_schema = (
                self.spec.untyped_change_schema()
                if self.spec.on_cast_error == "quarantine"
                else self.spec.change_schema()
            )
            reader = (
                self.mgr.spark.readStream.schema(stream_schema)
                .option("maxFilesPerTrigger", self.max_files_per_trigger)
                .option("latestFirst", "false")
            )
            if scheme == "parquet":
                stream = reader.parquet(path)
            elif scheme == "csv":
                # the engine's csv conventions, shared verbatim with the batch
                # reader (sources/readers.py CSV_OPTIONS) so batch replay and
                # streaming replay of the same log cannot desync
                from relational_data_loader_spark.sources.readers import CSV_OPTIONS

                stream = reader.options(**CSV_OPTIONS).csv(path)
            else:
                raise ValueError(
                    f"streaming source must be parquet://, csv://, "
                    f"debezium:// or kafka://, got {scheme!r} "
                    "(database sources poll via batch runs — see docstring)"
                )
        writer = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"rdl-ingest-{self.spec.name}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _checkpoint_planned_a_batch(self) -> bool:
        """Whether ``<checkpoint>/offsets/`` holds a planned micro-batch.
        Listed through the checkpoint's Hadoop FileSystem, as Spark itself
        resolves ``checkpointLocation``, so an ``s3a://``, ``hdfs://`` or
        ``file:`` checkpoint is read where Spark wrote it (a dot file, such
        as a ``.crc`` sidecar, is not a batch)."""
        spark = self.mgr.spark
        path = spark._jvm.org.apache.hadoop.fs.Path(self.checkpoint_dir, "offsets")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return False
        return any(
            not st.getPath().getName().startswith(".") for st in fs.listStatus(path)
        )

    def _refuse_fresh_checkpoint(self, table) -> None:
        """Refuse a fresh checkpoint (one that never planned a micro-batch:
        nothing in ``offsets/``) on a table an earlier stream fed. Its batch
        ids restart at 0, so every id the table already applied as
        ``stream:<id>`` would be skipped as a replay and its rows silently
        lost. The bootstrap key ``stream:-1`` does not count, and neither
        does a checkpoint that planned a batch (``offsets/``) without
        committing it: Spark replays that batch with the same id, which the
        sink must skip. A full refresh clears the applied keys on both
        sinks, which is why it is the named recovery."""
        fed = [
            k for k in table.applied_epochs()
            if k.startswith("stream:") and int(k[len("stream:"):]) >= 0
        ]
        if fed:
            raise ValueError(
                f"spec {self.spec.name!r}: checkpoint {self.checkpoint_dir!r} "
                f"has no micro-batch, but the table already applied {len(fed)} "
                "stream micro-batches from another checkpoint; their batch "
                "ids would repeat and be skipped as replays. Resume the old "
                "checkpoint, or recover with a forced full refresh before "
                "this stream starts (CLI --force-full-refresh, or "
                "DataLoadManager.run(spec, force_full=True)): it resets the "
                "applied stream batches"
            )

    def run_until_caught_up(self) -> None:
        """Process everything currently in the log, then stop (poll-style run)."""
        q = self.start(available_now=True)
        q.awaitTermination()
