"""Streaming ingest families: end-to-end tail, kill/resume exactly-once,
idempotent epoch replay, late-event drop, redelivered and stale segments
(SURVEY.md §5.2 engine families)."""

import os
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.spec import transcripts_spec
from relational_data_loader_spark.streaming.runner import StreamingIngest
from tests.util import assert_tables_equal, duck_final_state, spark_sorted_pdf, write_log

N_EVENTS = 3000
N_CONVS = 60


@pytest.fixture(scope="module")
def log_tbl():
    return generate_change_log(n_events=N_EVENTS, n_convs=N_CONVS, seed=11)


def test_stream_full_replay_matches_oracle(spark, warehouse, tmp_path, log_tbl):
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=8)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"), max_files_per_trigger=2)

    ing.run_until_caught_up()

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)
    # 8 files / 2 per trigger = 4 micro-batch epochs + bootstrap(-1)
    epochs = mgr.table(spec).applied_epochs()
    assert len(epochs) >= 4


def test_stream_kill_and_resume_exactly_once(spark, warehouse, tmp_path, log_tbl):
    """Stop after the first micro-batches, restart from checkpoint, assert the
    final state equals the full-replay oracle with no double-apply."""
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=8)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    ckpt = str(tmp_path / "ckpt")
    ing = StreamingIngest(mgr, spec, ckpt, max_files_per_trigger=1)

    # phase 1: run and stop mid-stream ("kill")
    q = ing.start(available_now=True)
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(
            p.get("batchId", 0) >= 2 for p in [q.lastProgress or {}]
        ):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    partial = mgr.table(spec).read().count()

    # phase 2: resume from the same checkpoint
    ing2 = StreamingIngest(mgr, spec, ckpt, max_files_per_trigger=1)
    ing2.run_until_caught_up()

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)

    # no epoch applied twice: manifest epoch set strictly increasing
    epochs = sorted(mgr.table(spec).applied_epochs())
    assert len(epochs) == len(set(epochs))
    assert partial <= len(got) + N_EVENTS  # sanity: phase 1 did not corrupt


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_micro_batches_read_each_event_once(spark, warehouse, tmp_path, log_tbl, mode):
    """Each scan of the foreachBatch source counts toward numInputRows, so
    the sum equals the log's rows only if every micro-batch is read once.
    A copy-on-write merge has two consumers of the batch (its stats pass
    and its write), so ``apply_batch`` caches the micro-batch and the
    source is scanned once; a merge-on-read merge's one consumer is its
    write, and the micro-batch is not cached."""
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=4)
    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, merge_mode=mode
    )
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    q = ing.start(available_now=True)
    q.awaitTermination()
    assert sum(p["numInputRows"] for p in q.recentProgress) == log_tbl.num_rows


def test_replayed_epoch_is_noop(spark, warehouse, tmp_path, log_tbl):
    """Simulate foreachBatch at-least-once: re-apply a committed epoch id."""
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=4)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"))

    batch = mgr.spark.read.schema(spec.change_schema()).parquet(logdir)
    ing.apply_batch(batch, epoch_id=7)
    m1 = mgr.table(spec).current_manifest()

    ing.apply_batch(batch, epoch_id=7)  # the replay
    m2 = mgr.table(spec).current_manifest()
    assert m1["version"] == m2["version"]
    assert m1["buckets"] == m2["buckets"]


def test_csv_stream_matches_oracle(spark, warehouse, tmp_path, log_tbl):
    """S4 (CsvDataSource) streamed: a csv:// change-log tail must replay to
    the same final state as the parquet path — including NULL payloads on
    deletes and newline-carrying texts (multiLine)."""
    pqdir = str(tmp_path / "pq")
    write_log(log_tbl, pqdir)
    csvdir = str(tmp_path / "csvlog")
    (
        spark.read.parquet(pqdir)
        .repartitionByRange(4, "lsn")
        .write.option("header", "true")
        .option("nullValue", "\\N")  # the engine's csv null convention
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(csvdir)
    )
    spec = transcripts_spec(source=f"csv://{csvdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    ing.run_until_caught_up()

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{pqdir}/*.parquet")
    assert_tables_equal(got, want)
    assert len(mgr.table(spec).applied_epochs()) >= 2  # really micro-batched


def test_unknown_stream_scheme_rejected(spark, warehouse, tmp_path):
    spec = transcripts_spec(source="jdbc://jdbc:sqlserver://h?dbtable=t")
    ing = StreamingIngest(DataLoadManager(spark, warehouse), spec, str(tmp_path / "c"))
    with pytest.raises(ValueError, match="poll via batch runs"):
        ing.start()


def test_jdbc_style_poll_loop(spark, warehouse, tmp_path, log_tbl):
    """The reference's primary source is a polled database (S2) — Spark has
    no JDBC readStream, so the engine's documented analog is the poll loop:
    every batch-mode run() is one CT poll (version probe → scan past the
    watermark → merge), exactly what `cli.py` without --stream does per
    invocation. N polls over a growing log must equal one full replay, and
    a poll with nothing new must be a detected no-op."""
    logdir = str(tmp_path / "log")
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)

    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cuts = [max_lsn // 3, 2 * max_lsn // 3, max_lsn]
    lo = None
    decisions = []
    for hi in cuts:
        write_log(log_tbl, logdir, lsn_upto=hi, lsn_from=lo)
        decisions.append(mgr.run(spec).decision.kind)
        lo = hi
    assert decisions == ["full_refresh", "incremental", "incremental"]

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)

    assert mgr.run(spec).skipped is True  # idle poll: no new versions


def test_late_events_below_watermark_dropped(spark, warehouse, tmp_path, log_tbl):
    """Events at/below the committed watermark (e.g. replayed segments after a
    full refresh) must not re-apply."""
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=4)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)  # batch full load to max lsn
    wm = mgr.table(spec).watermark()
    assert wm == pc.max(log_tbl["lsn"]).as_py()

    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"))
    batch = mgr.spark.read.schema(spec.change_schema()).parquet(logdir)
    ing.apply_batch(batch, epoch_id=99)  # all events are ≤ watermark → no-op data-wise

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)


def _write_segments(tbl, logdir, cuts):
    """One parquet file per ``[lo, hi)`` lsn slice of the log, in ``cuts``
    order; strictly increasing mtimes make the file source deliver them in
    that order."""
    os.makedirs(logdir, exist_ok=True)
    segs = []
    for i, (lo, hi) in enumerate(cuts):
        seg = tbl.filter(
            pc.and_(pc.greater_equal(tbl["lsn"], lo), pc.less(tbl["lsn"], hi))
        ).sort_by("lsn")
        path = os.path.join(logdir, f"seg-{i:03d}.parquet")
        pq.write_table(seg, path)
        os.utime(path, (1_700_000_000 + i,) * 2)
        segs.append(seg)
    return segs


def _renamed_pk_spec(source):
    from relational_data_loader_spark.spec import ColumnSpec, IngestSpec

    cols = [
        ColumnSpec("conv_id", "conversation_id", "string", primary_key=True,
                   nullable=False),
        ColumnSpec("turn_idx", "turn_number", "int", primary_key=True,
                   nullable=False),
        ColumnSpec("role", "speaker", "string"),
        ColumnSpec("text", "text", "string"),
        ColumnSpec("tool", "tool", "string"),
        ColumnSpec("ts", "ts", "datetime"),
    ]
    return IngestSpec(name="renamed", source=source, columns=cols, target_buckets=4)


@pytest.mark.parametrize(
    "seed, n_events, n_convs, cuts, renamed",
    [
        # a later segment redelivers the first one whole, plus the rest
        (19, 1200, 25, lambda n: [(0, n // 2), (0, n + 1)], False),
        # a later segment holds only events the first already superseded
        (23, 800, 15, lambda n: [(0, n + 1), (n // 4, n // 2)], False),
        # the redelivered prefix again, under a spec that renames its PKs
        (41, 400, 10, lambda n: [(0, n // 2), (0, n + 1)], True),
    ],
    ids=["redelivered_prefix", "stale_only_batch", "renamed_pk"],
)
def test_redelivered_and_stale_segments_match_oracle(
    spark, warehouse, tmp_path, seed, n_events, n_convs, cuts, renamed
):
    """At-least-once delivery: segments that repeat or lag behind what the
    table already holds, stale deletes included, each applied as its own
    micro-batch, leave the LWW final state of the log."""
    tbl = generate_change_log(n_events=n_events, n_convs=n_convs, seed=seed)
    logdir = str(tmp_path / "log")
    segs = _write_segments(tbl, logdir, cuts(tbl.num_rows))
    assert "D" in segs[-1]["op"].to_pylist()

    source = f"parquet://{logdir}"
    spec = (
        _renamed_pk_spec(source) if renamed
        else transcripts_spec(source=source, target_buckets=4)
    )
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    q = ing.start(available_now=True)
    q.awaitTermination()
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [
        s.num_rows for s in segs
    ]

    got = mgr.table(spec).read()
    if renamed:
        got = got.selectExpr(
            "conversation_id AS conv_id", "turn_number AS turn_idx",
            "speaker AS role", "text", "tool", "ts",
        )
    assert_tables_equal(spark_sorted_pdf(got), duck_final_state(f"{logdir}/*.parquet"))


def test_planned_but_uncommitted_first_batch_resumes(spark, warehouse, tmp_path, log_tbl):
    """A crash after the sink committed batch 0 but before Spark logged its
    commit leaves a checkpoint with an offset and no commit. Spark replays
    batch 0 under the same id, which the sink skips: that checkpoint is
    not fresh and must resume."""
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=2)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    ckpt = str(tmp_path / "ckpt")
    StreamingIngest(mgr, spec, ckpt, max_files_per_trigger=2).run_until_caught_up()
    assert "stream:0" in mgr.table(spec).applied_epochs()
    version = mgr.table(spec).current_manifest()["version"]
    commits = os.path.join(ckpt, "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))

    q = StreamingIngest(mgr, spec, ckpt, max_files_per_trigger=2).start()
    q.awaitTermination()
    # batch 0 ran again, and the sink skipped it as applied
    assert [p["batchId"] for p in q.recentProgress] == [0]
    assert mgr.table(spec).current_manifest()["version"] == version
    assert_tables_equal(
        spark_sorted_pdf(mgr.table(spec).read()), duck_final_state(f"{logdir}/*.parquet")
    )


def test_file_uri_checkpoint_resumes_and_a_fresh_one_is_refused(
    spark, warehouse, tmp_path, log_tbl
):
    """Spark takes any Hadoop URI as ``checkpointLocation``, and ``start``
    reads the checkpoint through the same FileSystem: a stream on a
    ``file:`` checkpoint resumes, and a new ``file:`` checkpoint on the
    table it fed is refused."""
    logdir = str(tmp_path / "log")
    cut = pc.max(log_tbl["lsn"]).as_py() // 2
    write_log(log_tbl, logdir, lsn_upto=cut)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    ckpt = f"file://{tmp_path}/ckpt"
    StreamingIngest(mgr, spec, ckpt, max_files_per_trigger=2).run_until_caught_up()
    write_log(log_tbl, logdir, lsn_from=cut)

    StreamingIngest(mgr, spec, ckpt, max_files_per_trigger=2).run_until_caught_up()
    assert_tables_equal(
        spark_sorted_pdf(mgr.table(spec).read()), duck_final_state(f"{logdir}/*.parquet")
    )
    with pytest.raises(ValueError, match="force-full-refresh"):
        StreamingIngest(mgr, spec, f"file://{tmp_path}/ckpt2").start()
