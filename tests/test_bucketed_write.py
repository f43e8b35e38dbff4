"""Bucketed writes are sized by data volume, not by the bucket count.

Every write path clusters through ``SnapshotTable._clustered``: a hash
exchange on ``_bucket`` with no fixed partition count, so the session's
shuffle partitions apply and AQE coalesces by shuffle bytes. Two properties
must hold together on a table with more buckets than the session has
shuffle partitions: each commit still writes one file per touched bucket,
and the write stage runs fewer tasks than there are buckets. Also here: the
bucket-id lookup behind ``read_keys`` runs no Spark job of its own.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from relational_data_loader_spark.sinks.snapshot import SnapshotTable
from relational_data_loader_spark.spec import ColumnSpec, IngestSpec, transcripts_spec

N_BUCKETS = 16


def _envelopes(spark, n, lsn0, n_convs=200):
    return spark.range(n).selectExpr(
        f"id + {lsn0} AS lsn",
        "CASE WHEN id % 13 = 0 THEN 'D' ELSE 'U' END AS op",
        f"concat('c', id % {n_convs}) AS conv_id",
        "CAST(id % 7 AS INT) AS turn_idx",
        "'user' AS role",
        "md5(CAST(id AS STRING)) AS text",
        "'' AS tool",
        "timestamp_seconds(id) AS ts",
    )


def _jobs(spark, fn):
    """Run ``fn`` in a fresh job group; return its result and the job ids."""
    sc = spark.sparkContext
    group = f"bucketed-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _write_stage_tasks(spark, fn):
    """Run ``fn``; return the task count of the last stage that ran — the
    bucketed write, which ends every write path under test."""
    _, job_ids = _jobs(spark, fn)
    st = spark.sparkContext.statusTracker()
    ran = [
        st.getStageInfo(s)
        for j in job_ids
        for s in st.getJobInfo(j).stageIds
    ]
    ran = [i for i in ran if i is not None and i.numCompletedTasks > 0]
    assert ran, job_ids
    return max(ran, key=lambda i: i.stageId).numTasks


@pytest.fixture()
def table(spark, tmp_path):
    def mk(mode):
        spec = transcripts_spec(
            source="parquet:///dev/null", target_buckets=N_BUCKETS, merge_mode=mode
        )
        return SnapshotTable(spark, str(tmp_path / mode), spec)

    return mk


def _touched(before, after):
    return {b for b, fs in after.items() if fs != before.get(b)}


def test_every_write_path_is_narrower_than_its_bucket_count(spark, table):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) < N_BUCKETS

    widths = {}
    cow = table("cow")
    widths["full refresh"] = _write_stage_tasks(
        spark,
        lambda: cow.full_refresh_from_envelopes(
            _envelopes(spark, 3000, 0), epoch_id=3000, watermark=3000
        ),
    )
    m0 = cow.current_manifest()
    assert len(m0["buckets"]) == N_BUCKETS
    assert all(len(fs) == 1 for fs in m0["buckets"].values()), m0["buckets"]

    widths["CoW merge"] = _write_stage_tasks(
        spark, lambda: cow.merge(_envelopes(spark, 1500, 5000), epoch_id=1)
    )
    m1 = cow.current_manifest()
    touched = _touched(m0["buckets"], m1["buckets"])
    assert len(touched) == N_BUCKETS
    assert all(len(m1["buckets"][b]) == 1 for b in touched), m1["buckets"]

    mor = table("mor")
    mor.full_refresh_from_envelopes(
        _envelopes(spark, 3000, 0), epoch_id=3000, watermark=3000
    )
    for epoch in (1, 2):
        widths[f"MoR merge {epoch}"] = _write_stage_tasks(
            spark,
            lambda: mor.merge(_envelopes(spark, 1500, 5000 * epoch), epoch_id=epoch),
        )
        deltas = mor.current_manifest()["deltas"]
        assert len(deltas) == N_BUCKETS
        assert all(len(fs) == epoch for fs in deltas.values()), deltas

    before = mor.current_manifest()["buckets"]
    widths["compact_deltas"] = _write_stage_tasks(spark, mor.compact_deltas)
    m = mor.current_manifest()
    assert "deltas" not in m
    assert _touched(before, m["buckets"]) == set(before)
    assert all(len(fs) == 1 for fs in m["buckets"].values()), m["buckets"]

    # the narrower write changed no content: both modes read the same state
    assert sorted(cow.read().collect()) == sorted(mor.read().collect())
    assert cow.read().count() > 0
    assert all(n < N_BUCKETS for n in widths.values()), widths


def _int_keyed_spec(n_buckets):
    return IngestSpec(
        name="accounts",
        source="parquet:///dev/null",
        columns=[
            ColumnSpec("account_id", "account_id", "int", primary_key=True, nullable=False),
            ColumnSpec("name", "name", "string"),
        ],
        target_buckets=n_buckets,
    )


@pytest.mark.parametrize("keyed", ["string", "int"])
def test_read_keys_bucket_ids_match_the_layout(spark, tmp_path, keyed):
    """``read_keys`` hashes its keys in a driver-side local relation; the
    ids must equal the layout's ``bucket_expr`` over the stored key type, or
    a lookup opens the wrong buckets and silently misses rows (a wrong id
    misses a key with probability 15/16, and five keys are looked up)."""
    if keyed == "string":
        spec = transcripts_spec(source="parquet:///dev/null", target_buckets=N_BUCKETS)
        df = _envelopes(spark, 400, 0, n_convs=80).filter("op <> 'D'")
        key, keys = "conv_id", ["c3", "c17", "c42", "c61", "c79", "nope"]
    else:
        spec = _int_keyed_spec(N_BUCKETS)
        df = spark.range(300).selectExpr(
            "id AS lsn", "'I' AS op",
            "CAST(id * 7919 AS INT) AS account_id", "md5(CAST(id AS STRING)) AS name",
        )
        key, keys = "account_id", [0, 7919, 7919 * 40, 7919 * 123, 7919 * 299, -5]
    t = SnapshotTable(spark, str(tmp_path / keyed), spec)
    t.full_refresh_from_envelopes(df, epoch_id=1, watermark=1)

    got = sorted(r[key] for r in t.read_keys(keys).collect())
    want = sorted(r[key] for r in t.read().filter(F.col(key).isin(keys)).collect())
    assert len(set(want)) >= 3 and got == want


def test_read_keys_collect_runs_one_spark_job(spark, tmp_path):
    """The bucket-id lookup evaluates on the driver: collecting a lookup
    runs exactly one job, the scan of the selected buckets."""
    spec = transcripts_spec(source="parquet:///dev/null", target_buckets=N_BUCKETS)
    t = SnapshotTable(spark, str(tmp_path / "t"), spec)
    t.full_refresh_from_envelopes(_envelopes(spark, 2000, 0), epoch_id=2000, watermark=2000)
    rows, job_ids = _jobs(spark, lambda: t.read_keys(["c1", "c2", "c150"]).collect())
    assert rows
    assert len(job_ids) == 1, job_ids
