"""A merge-on-read epoch is one write job whose stats ride the write.

The ``_rdl_state`` envelope counts come from an observation of the rows
entering the write's net (``histogram_numeric`` over bucket*2 + deleted,
``max`` and ``count``), each bucket's max lsn from its new delta files'
``_rdl_lsn`` footer max. Nothing is persisted, and the epoch's plan is
built from columns cached per spec and layout. The cost is pinned by
counts, not times: Spark jobs by job group, cache entries, py4j commands.
"""

import os
import uuid
from glob import glob

import pyarrow.compute as pc
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.sinks.snapshot import SnapshotTable
from relational_data_loader_spark.spec import transcripts_spec
from tests.test_epoch_state import _expected, _rows
from tests.util import cache_is_empty, write_log


def _envelopes(spark, n, lsn0, n_partitions=4):
    return spark.range(0, n, 1, n_partitions).selectExpr(
        f"id + {lsn0} AS lsn",
        "CASE WHEN id % 13 = 0 THEN 'D' ELSE 'U' END AS op",
        "concat('c', id % 200) AS conv_id",
        "CAST(id % 7 AS INT) AS turn_idx",
        "'user' AS role",
        "md5(CAST(id AS STRING)) AS text",
        "'' AS tool",
        "timestamp_seconds(id) AS ts",
    )


def _mor_table(spark, path, n_buckets=16):
    spec = transcripts_spec(
        source="parquet:///dev/null", target_buckets=n_buckets, merge_mode="mor"
    )
    table = SnapshotTable(spark, path, spec)
    table.full_refresh_from_envelopes(_envelopes(spark, 2000, 0), 1, 2000)
    return table


def _jobs_and_py4j_commands(spark, fn):
    """Run ``fn`` under a job group of its own while counting the py4j
    commands sent to the JVM; return its result, the group's Spark job
    count (waiting for the listener bus first, as ingestbench/trace.py
    does) and the command count."""
    sc = spark.sparkContext
    group = f"mor-epoch-{uuid.uuid4().hex}"
    sent = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    sc.setJobGroup(group, group)
    GatewayClient.send_command = counting
    try:
        out = fn()
    finally:
        GatewayClient.send_command = send
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), sent[0]


def test_second_mor_merge_is_one_write_with_a_constant_plan_build(spark, tmp_path):
    table = _mor_table(spark, str(tmp_path / "t"))
    table.merge(_envelopes(spark, 3000, 2000), 2)  # first merge builds the columns
    stats, jobs, commands = _jobs_and_py4j_commands(
        spark, lambda: table.merge(_envelopes(spark, 3000, 5000), 3)
    )
    assert not stats.skipped and stats.touched_buckets > 0
    assert table.current_manifest()["kind"] == "merge_mor"
    # the write's shuffle stage and the write itself: no stats pass
    assert jobs == 2
    # nothing persisted, nothing left behind
    assert cache_is_empty(spark)
    assert commands < 400, commands


def test_64_bucket_merge_state_rows_are_exact(spark, tmp_path):
    tbl = generate_change_log(n_events=3000, n_convs=400, seed=31)
    max_lsn = pc.max(tbl["lsn"]).as_py()
    cut = max_lsn // 3
    logdir = str(tmp_path / "log")
    write_log(tbl, logdir, lsn_upto=cut)
    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=64, merge_mode="mor"
    )
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    r1 = mgr.run(spec)
    write_log(tbl, logdir, lsn_from=cut)
    r2 = mgr.run(spec)
    assert r2.decision.kind == "incremental" and r2.n_chunks == 1
    tail = spark.read.parquet(logdir).filter(F.col("lsn") > r1.watermark)
    want = _expected(tail, "conv_id", 64, max_lsn)
    # most of the 128 (bucket, deleted) values occur: the histogram is full
    assert len(want) > 48 and sum(d for *_, d in want) > 0
    assert _rows(mgr, "merge") == want


def test_one_key_across_two_partitions_counts_once_per_envelope(spark, tmp_path):
    """Both input partitions observe the same (bucket, deleted) values, so
    merging their partial histograms yields a centre twice; the counts
    must still come out exact."""
    table = _mor_table(spark, str(tmp_path / "t"), n_buckets=8)
    one_key = spark.range(0, 10, 1, 2).selectExpr(
        "id + 5000 AS lsn",
        "CASE WHEN id % 3 = 0 THEN 'D' ELSE 'U' END AS op",
        "'hot' AS conv_id",
        "CAST(1 AS INT) AS turn_idx",
        "'user' AS role",
        "CAST(id AS STRING) AS text",
        "'' AS tool",
        "timestamp_seconds(id) AS ts",
    )
    assert one_key.rdd.getNumPartitions() == 2
    stats = table.merge(one_key, 7)
    want = _expected(one_key, "conv_id", 8, 7)
    assert {
        (7, r["partition_id"], r["max_applied_lsn"], r["rows_upserted"], r["rows_deleted"])
        for r in stats.bucket_stats
    } == want == {(7, next(iter(want))[1], 5009, 6, 4)}


def test_empty_mor_batch_commits_merge_empty_and_leaves_nothing(spark, tmp_path):
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    spec = transcripts_spec(source="parquet:///dev/null", target_buckets=8, merge_mode="mor")
    table = mgr.table(spec)
    table.full_refresh_from_envelopes(_envelopes(spark, 500, 0), 1, 500)
    data = os.path.join(table.path, "data")
    dirs_before = sorted(os.listdir(data))

    stats = mgr.apply_epoch(
        table, spec, _envelopes(spark, 0, 600), 600, "batch", "merge"
    )
    assert not stats.skipped and stats.touched_buckets == 0
    m = table.current_manifest()
    assert m["kind"] == "merge_empty" and "batch:600" in m["applied_epochs"]
    assert mgr.state.read().num_rows == 0
    assert sorted(os.listdir(data)) == dirs_before
    assert all(glob(os.path.join(data, d, "*", "*.parquet")) for d in dirs_before)


def _seen(bins, n):
    return {"bins": bins, "n": n, "max_lsn": 0}


def test_observed_counts_add_repeated_centres_and_round_merge_drift():
    counts = SnapshotTable._observed_counts(
        # bucket 3 upserts arrive as two bins (two partial histograms), one
        # of them an ulp off 6 after a floating-point merge of equal centres
        _seen([(5.999999999999999, 4.0), (6.0, 2.0), (7.0, 1.0), (8.0, 3.0)], 10),
        {"3": ["a"], "4": ["b"]},
    )
    assert counts == {3: (6, 1), 4: (3, 0)}


@pytest.mark.parametrize(
    "bins, n, written",
    [
        ([(6.5, 2.0)], 2, {"3": ["a"]}),           # distinct values merged
        ([(6.0, 2.0)], 3, {"3": ["a"]}),           # counts short of count(*)
        ([(6.0, 1.5)], 1, {"3": ["a"]}),           # fractional count
        ([(6.0, 2.0)], 2, {"3": ["a"], "4": ["b"]}),  # a written bucket unseen
    ],
)
def test_observed_counts_refuse_inexact_histograms(bins, n, written):
    with pytest.raises(RuntimeError, match="not exact"):
        SnapshotTable._observed_counts(_seen(bins, n), written)
