"""Dead-letter lifecycle: on_cast_error='quarantine' detours lossy-cast
envelopes to <warehouse>/<name>_dlq, the batch commits without them, and
DataLoadManager.replay_dlq re-admits them after a spec fix through the
version-guarded merge — final state converges to the
full-replay-under-fixed-spec oracle, watermark never moves backward, and
rows that still fail stay retained.
"""

import os

import pytest

from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.spec import ColumnSpec, IngestSpec


def _spec(tmp_path, val_type="int", on_cast_error="quarantine"):
    return IngestSpec(
        name="facts",
        source=f"parquet://{tmp_path}/log",
        columns=[
            ColumnSpec("id", "id", "bigint", primary_key=True),
            ColumnSpec("val", "val", val_type),
        ],
        target_buckets=4,
        on_cast_error=on_cast_error,
    )


# (lsn, op, id, val) — id and val are STRINGS at the source; the spec casts
BIG = "9999999999"  # > int32, fits bigint: fixed by widening
LOG = [
    (1, "I", "1", "10"),
    (2, "I", "2", "20"),
    (3, "I", "3", BIG),    # poison insert; a later clean U wins anyway
    (4, "I", "4", "40"),
    (5, "U", "1", BIG),    # poison update: THE row replay must land
    (6, "U", "2", "21"),
    (7, "U", "3", "31"),
    (8, "D", "4", "zzz"),  # garbage payload on a delete: exempt, applies
    (9, "D", "x", "50"),   # lossy PK cast: quarantined even as a delete
    (10, "I", "5", BIG),   # poison insert, then the key is deleted: the
    (11, "D", "5", None),  # replay must NOT resurrect it past lsn 11
]


def _write_log(spark, tmp_path, rows):
    spark.createDataFrame(rows, ["lsn", "op", "id", "val"]).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/log")


def _state(mgr, spec):
    return {
        r.id: r.val for r in mgr.table(spec).read().select("id", "val").collect()
    }


def test_quarantine_then_widen_then_replay(spark, tmp_path):
    _write_log(spark, tmp_path, LOG)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    spec = _spec(tmp_path)

    r1 = mgr.run(spec)
    assert r1.rows_quarantined == 4  # lsn 3, 5, 9, 10
    assert _state(mgr, spec) == {1: 10, 2: 21, 3: 31}  # 4 and 5 deleted
    wm = mgr.table(spec).watermark()
    assert wm == 11  # poison rows never hold the watermark back
    dlq = str(tmp_path / "wh" / "facts_dlq")
    assert sorted(os.listdir(dlq)) == ["e11"]

    # replay under the UNCHANGED spec: nothing fixable, everything retained
    r2 = mgr.replay_dlq(spec)
    assert r2.rows_upserted == 0 and r2.rows_deleted == 0
    assert sorted(os.listdir(dlq)) == ["r1"]

    # the fix: widen val int -> bigint (evolve, not refresh), then replay
    wide = _spec(tmp_path, val_type="bigint")
    r3 = mgr.run(wide)
    assert r3.decision.kind == "incremental" and r3.decision.evolve_widened
    r4 = mgr.replay_dlq(wide)
    # lsn5 wins key 1 (5 > 1); lsn3 loses key 3 (3 < 7); lsn10 loses to
    # key 5's lsn-11 tombstone (NO resurrection); lsn9 still lossy PK
    assert r4.rows_upserted == 3  # envelopes carried; LWW decides per key
    assert _state(mgr, wide) == {1: 9999999999, 2: 21, 3: 31}
    assert mgr.table(wide).watermark() == 11  # replay never moves it
    assert sorted(os.listdir(dlq)) == ["r2"]
    still = spark.read.parquet(f"{dlq}/r2")
    assert [r.id for r in still.collect()] == ["x"]


def test_replay_is_idempotent_and_empty_dlq_is_noop(spark, tmp_path):
    _write_log(spark, tmp_path, LOG)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    wide = _spec(tmp_path, val_type="bigint")
    mgr.run(wide)  # bigint from the start: only the PK-poison row detours
    assert _state(mgr, wide) == {1: 9999999999, 2: 21, 3: 31}  # 5 deleted

    a = mgr.replay_dlq(wide)   # consumes e9 -> retains the PK-poison row
    b = mgr.replay_dlq(wide)   # nothing new: merge applies zero rows
    assert a.epoch_id == 1 and b.epoch_id == 2
    assert b.rows_upserted == 0
    assert _state(mgr, wide) == {1: 9999999999, 2: 21, 3: 31}
    # the retained marker is always kept as the monotone sequence floor
    dlq = str(tmp_path / "wh" / "facts_dlq")
    assert sorted(os.listdir(dlq)) == ["r2"]
    # a third replay on a marker-only DLQ merges nothing, keeps the floor
    c = mgr.replay_dlq(wide)
    assert c.epoch_id == 3 and c.rows_upserted == 0


def test_fail_mode_writes_no_dlq(spark, tmp_path):
    # fail mode reads with the TYPED envelope schema, so the log must be
    # wire-typed (the historical contract quarantine mode relaxes)
    spark.createDataFrame(
        [(1, "I", 1, 10), (2, "U", 1, 11)], ["lsn", "op", "id", "val"]
    ).write.mode("overwrite").parquet(f"{tmp_path}/log")
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    spec = _spec(tmp_path, val_type="bigint", on_cast_error="fail")
    r = mgr.run(spec)
    assert r.rows_quarantined == 0
    assert not os.path.exists(str(tmp_path / "wh" / "facts_dlq"))


def test_incremental_chunks_quarantine_per_epoch(spark, tmp_path):
    head = [r for r in LOG if r[0] <= 4]
    _write_log(spark, tmp_path, head)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    spec = _spec(tmp_path)
    r1 = mgr.run(spec)
    assert r1.rows_quarantined == 1  # lsn 3
    _write_log(spark, tmp_path, LOG)
    r2 = mgr.run(spec)
    assert r2.decision.kind == "incremental"
    assert r2.rows_quarantined == 3  # lsn 5, 9, 10
    dlq = str(tmp_path / "wh" / "facts_dlq")
    assert sorted(os.listdir(dlq)) == ["e11", "e4"]
    # widen + replay drains BOTH epochs' poison in one pass
    wide = _spec(tmp_path, val_type="bigint")
    mgr.run(wide)
    mgr.replay_dlq(wide)
    assert _state(mgr, wide) == {1: 9999999999, 2: 21, 3: 31}


def test_streaming_csv_quarantine_and_replay(spark, tmp_path):
    """The streaming twin: a csv:// micro-batch tail under quarantine mode
    detours poison rows to s<batchId> DLQ dirs, commits the rest, and the
    same replay_dlq verb drains them after the widen fix."""
    from relational_data_loader_spark.streaming.runner import StreamingIngest

    csvdir = str(tmp_path / "csvlog")
    (
        spark.createDataFrame(LOG, ["lsn", "op", "id", "val"])
        .coalesce(1)
        .write.option("header", "true")
        .option("nullValue", "\\N")
        .csv(csvdir)
    )
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))

    def _spec_csv(val_type):
        s = _spec(tmp_path, val_type=val_type)
        return IngestSpec(
            **{
                **{f: getattr(s, f) for f in (
                    "name", "columns", "target_buckets", "on_cast_error",
                )},
                "source": f"csv://{csvdir}",
            }
        )

    spec = _spec_csv("int")
    StreamingIngest(
        mgr, spec, str(tmp_path / "ckpt")
    ).run_until_caught_up()
    assert _state(mgr, spec) == {1: 10, 2: 21, 3: 31}
    dlq = str(tmp_path / "wh" / "facts_dlq")
    dirs = sorted(os.listdir(dlq))
    assert dirs and all(d.startswith("s") for d in dirs)

    wide = _spec_csv("bigint")
    mgr.run(wide)  # batch evolve over the same csv source (widen in place)
    mgr.replay_dlq(wide)
    assert _state(mgr, wide) == {1: 9999999999, 2: 21, 3: 31}


def _quarantine_stream(spark, tmp_path, merge_mode="cow"):
    """Stream ``LOG`` from 3 csv files, one micro-batch per file, under the
    quarantine spec; returns the ingest and its finished query."""
    from relational_data_loader_spark.streaming.runner import StreamingIngest

    csvdir = str(tmp_path / "csvlog")
    (
        spark.createDataFrame(LOG, ["lsn", "op", "id", "val"])
        .repartition(3)
        .write.option("header", "true")
        .option("nullValue", "\\N")
        .csv(csvdir)
    )
    spec = IngestSpec(
        name="facts",
        source=f"csv://{csvdir}",
        columns=_spec(tmp_path).columns,
        target_buckets=4,
        on_cast_error="quarantine",
        merge_mode=merge_mode,
    )
    ing = StreamingIngest(
        DataLoadManager(spark, str(tmp_path / "wh")), spec,
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    q = ing.start(available_now=True)
    q.awaitTermination()
    return ing, q


def test_streaming_quarantine_counts_per_micro_batch(spark, tmp_path):
    """Each micro-batch records the rows its dead-letter split detoured,
    keyed by batch id; over the whole log they sum to its poison rows."""
    ing, _ = _quarantine_stream(spark, tmp_path)
    assert len(ing.quarantined) == 3  # one micro-batch per csv file
    assert sum(ing.quarantined.values()) == 4  # lsn 3, 5, 9, 10


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_streaming_quarantine_reads_each_micro_batch_once(spark, tmp_path, mode):
    """The dead-letter split has two consumers of a micro-batch (the poison
    write and the clean path), so the stream caches it: summed over the
    triggers, numInputRows counts every log row once."""
    _, q = _quarantine_stream(spark, tmp_path, mode)
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(LOG)


def test_streaming_quarantine_rejects_non_csv(spark, tmp_path):
    import pytest as _pytest

    from relational_data_loader_spark.streaming.runner import StreamingIngest

    spec = _spec(tmp_path)  # parquet:// source
    with _pytest.raises(ValueError, match="csv"):
        StreamingIngest(DataLoadManager(spark, str(tmp_path / "wh")), spec,
                        str(tmp_path / "ckpt"))


def test_replay_tolerates_additive_spec_evolution(spark, tmp_path):
    """DLQ rows written before a new column was added to the spec replay
    with NULL in that column — exactly what the table's old rows carry."""
    _write_log(spark, tmp_path, LOG)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    mgr.run(_spec(tmp_path))  # poison detours under the 2-column spec

    wider = IngestSpec(
        name="facts",
        source=f"parquet://{tmp_path}/log",
        columns=[
            ColumnSpec("id", "id", "bigint", primary_key=True),
            ColumnSpec("val", "val", "bigint"),
            ColumnSpec("note", "note", "string"),  # additive: not in DLQ rows
        ],
        target_buckets=4,
        on_cast_error="quarantine",
    )
    # the source log lacks 'note' too — evolve via a log rewrite with it
    spark.createDataFrame(
        [r + ("n",) for r in LOG], ["lsn", "op", "id", "val", "note"]
    ).write.mode("overwrite").parquet(f"{tmp_path}/log")
    mgr.run(wider)
    r = mgr.replay_dlq(wider)
    assert r.rows_upserted == 3
    got = {
        x.id: (x.val, x.note)
        for x in mgr.table(wider).read().select("id", "val", "note").collect()
    }
    assert got[1] == (9999999999, None)  # replayed row: NULL in the new col
