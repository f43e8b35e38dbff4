"""``_rdl_state`` rows of every epoch-apply path.

Full refresh: one row (partition -1, the survivor count). Merges — CoW
chunks, MoR, a streaming micro-batch, a dead-letter replay — one row per
touched bucket per epoch, counting the envelopes the epoch carried in that
bucket, under the path's ``kind``. An epoch the sink skips as already
applied appends nothing, and so does an epoch that carried no envelopes.
"""

import pyarrow.compute as pc
from pyspark.sql import functions as F

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.operators.watermark import bucket_expr
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.sinks.snapshot import SnapshotTable
from relational_data_loader_spark.spec import transcripts_spec
from relational_data_loader_spark.streaming.runner import StreamingIngest
from tests.test_dlq_replay import LOG, _spec, _write_log
from tests.util import cache_is_empty, duck_final_state, write_log

N_BUCKETS = 8


def _rows(mgr, kind):
    st = mgr.state.read().to_pandas()
    st = st[st["kind"] == kind]
    return {
        (int(r.epoch_id), int(r.partition_id), int(r.max_applied_lsn),
         int(r.rows_upserted), int(r.rows_deleted))
        for r in st.itertuples()
    }


def _expected(envelopes, bucket_key, n_buckets, epoch_id):
    """One row per bucket the envelopes touch: (epoch, bucket, max lsn,
    upserts, deletes)."""
    agg = envelopes.groupBy(bucket_expr(bucket_key, n_buckets).alias("b")).agg(
        F.max("lsn").alias("mx"),
        F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("ups"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("dels"),
    )
    return {
        (epoch_id, int(r.b), int(r.mx), int(r.ups), int(r.dels))
        for r in agg.collect()
    }


def _log(tmp_path, n_events=2400):
    tbl = generate_change_log(n_events=n_events, n_convs=60, seed=23)
    return tbl, str(tmp_path / "log"), pc.max(tbl["lsn"]).as_py()


def test_full_refresh_then_chunked_cow_merges(spark, warehouse, tmp_path):
    tbl, logdir, max_lsn = _log(tmp_path)
    write_log(tbl, logdir, lsn_upto=max_lsn // 4)
    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=N_BUCKETS, batch_size=700
    )
    mgr = DataLoadManager(spark, warehouse)
    r1 = mgr.run(spec)
    assert r1.decision.kind == "full_refresh"
    survivors = len(duck_final_state(f"{logdir}/*.parquet"))
    assert _rows(mgr, "full_refresh") == {
        (r1.epoch_id, -1, r1.watermark, survivors, 0)
    }

    write_log(tbl, logdir, lsn_from=max_lsn // 4)
    r2 = mgr.run(spec)
    assert r2.decision.kind == "incremental" and r2.n_chunks >= 2
    got = _rows(mgr, "merge")
    his = sorted({e for e, *_ in got})
    assert len(his) == r2.n_chunks and his[-1] == max_lsn
    log = spark.read.parquet(logdir)
    want = set()
    for lo, hi in zip([r1.watermark] + his, his):
        chunk = log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        want |= _expected(chunk, "conv_id", N_BUCKETS, hi)
    assert got == want

    # a rerun over the applied log is a no-op and appends nothing
    n_before = mgr.state.read().num_rows
    assert mgr.run(spec).skipped
    assert mgr.state.read().num_rows == n_before


def test_cow_merge_caches_nothing(spark, warehouse, tmp_path, monkeypatch):
    """A copy-on-write poll's stats pass and write each read the chunk from
    its files: the session's cache is empty while the merge writes."""
    tbl, logdir, max_lsn = _log(tmp_path, n_events=1500)
    cut = max_lsn // 2
    write_log(tbl, logdir, lsn_upto=cut)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=N_BUCKETS)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)
    write_log(tbl, logdir, lsn_from=cut)

    empty_at_write = []
    write = SnapshotTable._write_buckets

    def recording(self, clustered):
        empty_at_write.append(cache_is_empty(spark))
        return write(self, clustered)

    monkeypatch.setattr(SnapshotTable, "_write_buckets", recording)
    r2 = mgr.run(spec)
    assert r2.decision.kind == "incremental" and not r2.skipped
    assert empty_at_write == [True]
    assert mgr.table(spec).current_manifest()["kind"] == "merge"


def test_cow_merge_refuses_a_bucket_its_stats_pass_missed(
    spark, warehouse, tmp_path, monkeypatch
):
    """The CoW pass and write each read the chunk. Should the write reach a
    bucket the pass did not (a live source changed in between), that
    bucket's stored rows were never read, so the epoch raises and commits
    nothing."""
    import pytest

    tbl, logdir, max_lsn = _log(tmp_path, n_events=1500)
    cut = max_lsn // 2
    write_log(tbl, logdir, lsn_upto=cut)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=N_BUCKETS)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)
    write_log(tbl, logdir, lsn_from=cut)
    version = mgr.table(spec).current_manifest()["version"]

    write = SnapshotTable._write_buckets

    def with_stray_bucket(self, clustered):
        return {**write(self, clustered), str(N_BUCKETS): []}

    monkeypatch.setattr(SnapshotTable, "_write_buckets", with_stray_bucket)
    with pytest.raises(RuntimeError, match="changed between its stats pass"):
        mgr.run(spec)
    assert mgr.table(spec).current_manifest()["version"] == version


def test_mor_merge(spark, warehouse, tmp_path):
    tbl, logdir, max_lsn = _log(tmp_path, n_events=1500)
    cut = max_lsn // 2
    write_log(tbl, logdir, lsn_upto=cut)
    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=N_BUCKETS, merge_mode="mor"
    )
    mgr = DataLoadManager(spark, warehouse)
    r1 = mgr.run(spec)
    write_log(tbl, logdir, lsn_from=cut)
    r2 = mgr.run(spec)
    assert r2.n_chunks == 1
    assert "deltas" in mgr.table(spec).current_manifest()
    tail = spark.read.parquet(logdir).filter(F.col("lsn") > r1.watermark)
    assert _rows(mgr, "merge") == _expected(tail, "conv_id", N_BUCKETS, max_lsn)


def test_stream_micro_batch_and_its_replay(spark, warehouse, tmp_path):
    tbl, logdir, _ = _log(tmp_path, n_events=1200)
    write_log(tbl, logdir)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=N_BUCKETS)
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"))
    batch = spark.read.schema(spec.change_schema()).parquet(logdir)

    ing.apply_batch(batch, epoch_id=0)
    # the empty bootstrap snapshot appends no row of its own
    assert set(mgr.state.read().to_pandas()["kind"]) == {"stream_merge"}
    assert _rows(mgr, "stream_merge") == _expected(batch, "conv_id", N_BUCKETS, 0)

    n_before = mgr.state.read().num_rows
    ing.apply_batch(batch, epoch_id=0)  # at-least-once redelivery
    assert mgr.state.read().num_rows == n_before


def test_dlq_replay(spark, tmp_path):
    _write_log(spark, tmp_path, LOG)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    mgr.run(_spec(tmp_path))  # quarantines lsn 3, 5, 9, 10
    wide = _spec(tmp_path, val_type="bigint")
    mgr.run(wide)  # widens in place; no new events, so no merge rows
    assert _rows(mgr, "merge") == set()

    r = mgr.replay_dlq(wide)
    # the replay nets its dead letters first: keys 3 (lsn 3), 1 (lsn 5) and
    # 5 (lsn 10); lsn 9 still fails its PK cast and stays retained
    replayed = spark.createDataFrame(
        [(3, 3, "I"), (1, 5, "U"), (5, 10, "I")], "id bigint, lsn bigint, op string"
    )
    assert _rows(mgr, "dlq_replay") == _expected(replayed, "id", 4, r.epoch_id)


def test_dlq_replay_of_still_failing_rows_appends_nothing(spark, tmp_path):
    _write_log(spark, tmp_path, LOG)
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    wide = _spec(tmp_path, val_type="bigint")
    mgr.run(wide)  # only lsn 9 detours, and its PK cast keeps failing
    for _ in range(2):
        assert mgr.replay_dlq(wide).rows_upserted == 0
    assert _rows(mgr, "dlq_replay") == set()
    assert set(mgr.state.read().to_pandas()["kind"]) == {"full_refresh"}
