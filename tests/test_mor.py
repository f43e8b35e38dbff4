"""Merge-on-read (spec.merge_mode="mor") — the write-optimized twin of the
bucket-pruned CoW merge (sinks/snapshot.py module docstring, "Merge-on-read
deltas").

Strategy: every behavioral family asserts EQUALITY against the CoW engine
over the same batches (mode choice must be invisible to readers), plus the
MoR-specific invariants CoW can't exhibit — the no-base-read write plan,
delta-debt accounting, compaction content-neutrality, and the zone-prune
trap (a stale in-range delta row must lose the fold to a newer out-of-range
base row, which requires delta-bearing buckets to skip base pruning).
"""

import datetime as dt
import os

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.sinks.snapshot import SnapshotTable
from relational_data_loader_spark.spec import transcripts_spec
from tests.util import assert_tables_equal, duck_final_state, spark_sorted_pdf, write_log

TS = dt.datetime(2026, 1, 1)
ENV_SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, "
    "role string, text string, tool string, ts timestamp"
)


def envelopes(spark, rows):
    return spark.createDataFrame(rows, ENV_SCHEMA)


def init_rows(n=10):
    return [(i, "U", f"c{i % 3}", i, "user", f"t{i}", None, TS) for i in range(n)]


EPOCH1 = [
    (100, "U", "c0", 0, "user", "updated", None, TS),
    (101, "D", "c1", 1, None, None, None, None),
    (102, "U", "c9", 99, "asst", "new", None, TS),
]
EPOCH2 = [
    # stale vs EPOCH1's lsn-100 update — must lose the cross-epoch fold
    (90, "U", "c0", 0, "user", "stale-should-lose", None, TS),
    (103, "U", "c1", 1, "user", "reinsert", None, TS),
]
EPOCH3 = [
    # stale insert BELOW the epoch-1 delete's lsn — the tombstone must win
    (95, "U", "c9", 99, "asst", "resurrection-attempt", None, TS),
]


def mk(spark, base, mode, tag, **kw):
    spec = transcripts_spec(
        source="parquet:///dev/null", target_buckets=4, merge_mode=mode, **kw
    )
    return SnapshotTable(spark, os.path.join(base, tag), spec)


def visible(table, version=None):
    return sorted(tuple(r) for r in table.read(version=version).collect())


def replay(spark, base, mode, tag, epochs, **kw):
    t = mk(spark, base, mode, tag, **kw)
    t.full_refresh_from_envelopes(
        envelopes(spark, init_rows()), epoch_id=0, watermark=10
    )
    for i, rows in enumerate(epochs, start=1):
        t.merge(envelopes(spark, rows), epoch_id=i)
    return t


# ---- mode equivalence --------------------------------------------------


def test_mor_read_equals_cow(spark, tmp_path):
    base = str(tmp_path)
    epochs = [EPOCH1, EPOCH2, EPOCH3]
    cow = replay(spark, base, "cow", "cow", epochs)
    mor = replay(spark, base, "mor", "mor", epochs)
    assert visible(cow) == visible(mor)
    m = mor.current_manifest()
    assert m["kind"] == "merge_mor"
    assert m.get("deltas"), "MoR merges must record delta files"
    assert m["next_delta_seq"] == 4  # one seq per merge epoch
    # delete stayed dead through the fold (tombstone beats stale insert)
    keys = {(r[0], r[1]) for r in visible(mor)}
    assert ("c9", 99) in keys  # lsn 102 upsert survives
    texts = {r[3] for r in visible(mor)}
    assert "resurrection-attempt" not in texts
    assert "stale-should-lose" not in texts


def test_mor_out_of_order_epochs_match_in_order(spark, tmp_path):
    base = str(tmp_path)
    in_order = replay(spark, base, "mor", "a", [EPOCH1, EPOCH2])
    permuted = replay(spark, base, "mor", "b", [EPOCH2, EPOCH1])
    assert visible(in_order) == visible(permuted)


def test_mor_epoch_idempotent_skip(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1])
    n_files = sum(len(v) for v in t.current_manifest()["deltas"].values())
    stats = t.merge(envelopes(spark, EPOCH1), epoch_id=1)
    assert stats.skipped
    m = t.current_manifest()
    assert sum(len(v) for v in m["deltas"].values()) == n_files


# ---- the O(batch) write property ----------------------------------------


def test_mor_merge_never_reads_base(spark, tmp_path, monkeypatch):
    t = replay(spark, str(tmp_path), "mor", "t", [])

    def bomb(self, relpaths):
        raise AssertionError(f"MoR merge read base files: {relpaths}")

    monkeypatch.setattr(SnapshotTable, "_read_files", bomb)
    stats = t.merge(envelopes(spark, EPOCH1), epoch_id=1)
    assert not stats.skipped and stats.rows_upserted == 2 and stats.rows_deleted == 1


# ---- compaction ----------------------------------------------------------


def test_compaction_is_content_neutral_and_clears_debt(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1, EPOCH2, EPOCH3])
    before = visible(t)
    pre_version = t.current_manifest()["version"]
    folded = t.compact_deltas()
    assert folded > 0
    m = t.current_manifest()
    assert m["kind"] == "compact_deltas"
    assert not m.get("deltas")
    assert visible(t) == before
    # watermark / epochs / layout carry over untouched
    assert m["watermark"] == 103
    assert m["n_buckets"] == 4
    # time travel to the pre-compaction version still folds the old deltas
    assert visible(t, version=pre_version) == before
    # second call is a no-op
    assert t.compact_deltas() == 0


def test_auto_compaction_trigger(spark, tmp_path):
    t = replay(
        spark, str(tmp_path), "mor", "t", [EPOCH1], mor_compact_files=2
    )
    assert t.current_manifest().get("deltas"), "below threshold: no compaction"
    t.merge(envelopes(spark, EPOCH2), epoch_id=2)
    m = t.current_manifest()
    assert m["kind"] == "compact_deltas" and not m.get("deltas")


def test_cow_merge_absorbs_pending_deltas(spark, tmp_path):
    """Mode interleave: flipping mor→cow must not resurrect pre-flip state —
    the CoW rewrite folds the touched buckets' pending deltas in and drops
    their manifest references."""
    base = str(tmp_path)
    t = replay(spark, base, "mor", "t", [EPOCH1])
    # same table dir reopened with a cow spec (merge_mode is not in
    # checksum(), so no full refresh is forced)
    cow_spec = transcripts_spec(
        source="parquet:///dev/null", target_buckets=4, merge_mode="cow"
    )
    t2 = SnapshotTable(spark, os.path.join(base, "t"), cow_spec)
    t2.merge(envelopes(spark, EPOCH2), epoch_id=2)
    want = visible(replay(spark, base, "cow", "ref", [EPOCH1, EPOCH2]))
    assert visible(t2) == want
    # buckets the CoW batch touched had their pending delta references
    # absorbed (dropped from the manifest); buckets it did NOT touch keep
    # theirs pending — here c9's bucket, which only EPOCH1 wrote
    pre = set(replay(spark, base, "mor", "pre", [EPOCH1]).current_manifest()["deltas"])
    post = set(t2.current_manifest().get("deltas") or {})
    assert post < pre, "touched buckets must shed their delta references"
    # and the leftovers still fold correctly (then compact away cleanly)
    t2.compact_deltas()
    assert visible(t2) == want and not (t2.current_manifest().get("deltas") or {})


# ---- read paths under delta debt -----------------------------------------


def test_read_keys_folds_pending_deltas(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1])
    assert t.read_keys(["c1"]).filter(F.col("turn_idx") == 1).count() == 0
    got = {
        (r["turn_idx"], r["text"]) for r in t.read_keys(["c0"]).collect()
    }
    assert (0, "updated") in got


def test_read_range_stale_delta_cannot_leak(spark, tmp_path):
    """THE zone-prune trap: base holds the newer (out-of-range) version,
    a pending delta holds a stale in-range version. If read_range pruned
    the base file of a delta-bearing bucket, the stale row would win the
    fold and leak into the result."""
    t = mk(spark, str(tmp_path), "mor", "t")
    t.full_refresh_from_envelopes(
        envelopes(spark, [(5, "U", "cA", 1, "user", "mmm", None, TS)]),
        epoch_id=0,
        watermark=5,
    )
    t.merge(
        envelopes(spark, [(10, "U", "cA", 1, "user", "zzz", None, TS)]),
        epoch_id=1,
    )
    t.compact_deltas()  # base now holds text="zzz" (newer, out of range)
    t.merge(
        envelopes(spark, [(7, "U", "cA", 1, "user", "abc", None, TS)]),
        epoch_id=2,
    )  # stale in-range row, pending in a delta file
    assert t.read_range("text", "a", "b").collect() == []
    # report mirrors the read: the delta-bearing bucket is unprunable
    rep = t.prune_report("text", "a", "b")
    assert rep["files_read"] == rep["files_total"]


def test_prune_report_counts_what_a_mor_range_read_opens(spark, tmp_path):
    """Pending deltas make their bucket unprunable while cold buckets still
    zone-prune; the report counts exactly the files the read opens."""
    t = mk(spark, str(tmp_path), "mor", "t")
    rows = [(i, "U", f"c{i % 40}", i, "user", f"t{i}", None, TS) for i in range(400)]
    t.full_refresh_from_envelopes(envelopes(spark, rows), epoch_id=0, watermark=400)
    t.optimize(sort_cols=["turn_idx"], files_per_bucket=4)
    t.merge(envelopes(spark, [(500, "U", "c0", 0, "user", "x", None, TS)]), epoch_id=1)
    assert len(t.current_manifest()["deltas"]) == 1
    rep = t.prune_report("turn_idx", 0, 10)
    assert rep["files_skipped"] > 0, rep
    got = t.read_range("turn_idx", 0, 10)
    assert len(set(got.inputFiles())) == rep["files_read"]
    want = t.read().filter((F.col("turn_idx") >= 0) & (F.col("turn_idx") <= 10))
    assert sorted(got.collect()) == sorted(want.collect())


def test_cdf_across_delta_commits_matches_cow(spark, tmp_path):
    base = str(tmp_path)
    outs = {}
    for mode in ("cow", "mor"):
        t = mk(spark, base, mode, mode)
        t.full_refresh_from_envelopes(
            envelopes(spark, init_rows()), epoch_id=0, watermark=10
        )
        v0 = t.current_manifest()["version"]
        t.merge(envelopes(spark, EPOCH1), epoch_id=1)
        v1 = t.current_manifest()["version"]
        outs[mode] = sorted(
            tuple(r) for r in t.changes_between(v0, v1).collect()
        )
    assert outs["cow"] == outs["mor"]
    ops = {r[0] for r in outs["mor"]}
    assert ops == {"I", "U", "D"}


# ---- integrity / GC -------------------------------------------------------


def test_fsck_covers_delta_files(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1])
    assert t.fsck()["ok"]
    m = t.current_manifest()
    victim = next(p for fs in m["deltas"].values() for p in fs)
    os.remove(os.path.join(t.path, victim))
    r = t.fsck()
    assert not r["ok"] and victim in r["missing"]


def test_vacuum_keeps_live_deltas_reclaims_compacted(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1, EPOCH2])
    live = {
        p for fs in t.current_manifest()["deltas"].values() for p in fs
    }
    t.vacuum(keep_manifests=1, orphan_min_age_seconds=0)
    assert t.fsck()["ok"], "vacuum must not eat pending delta files"
    before = visible(t)
    t.compact_deltas()
    t.vacuum(keep_manifests=1, orphan_min_age_seconds=0)
    for p in live:
        assert not os.path.exists(
            os.path.join(t.path, p)
        ), "compacted-away delta survived vacuum"
    assert visible(t) == before and t.fsck()["ok"]


def test_maintenance_report_tracks_delta_debt(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1, EPOCH2])
    rep = t.maintenance_report()
    assert rep["delta_files"] >= 2
    assert rep["max_delta_files_per_bucket"] >= 1
    assert rep["recommend_compact_deltas"]
    t.compact_deltas()
    rep = t.maintenance_report()
    assert rep["delta_files"] == 0 and not rep["recommend_compact_deltas"]


def test_optimize_and_expire_auto_compact_first(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1])
    before = visible(t)
    t.optimize()
    assert not (t.current_manifest().get("deltas") or {})
    assert visible(t) == before
    t.merge(envelopes(spark, EPOCH2), epoch_id=2)
    want = visible(t)
    assert t.current_manifest().get("deltas")
    t.expire_tombstones(below_lsn=200)
    m = t.current_manifest()
    assert not (m.get("deltas") or {})
    assert visible(t) == want  # tombstones gone, visible rows unchanged


# ---- spec validation -------------------------------------------------------


def test_spec_rejects_bad_merge_mode():
    with pytest.raises(ValueError, match="merge_mode"):
        transcripts_spec(source="x", merge_mode="hybrid")
    with pytest.raises(ValueError, match="mor_compact_files"):
        transcripts_spec(source="x", mor_compact_files=-1)


def test_spec_merge_mode_roundtrips_not_in_checksum():
    from relational_data_loader_spark.spec import IngestSpec

    a = transcripts_spec(source="x")
    b = transcripts_spec(source="x", merge_mode="mor", mor_compact_files=4)
    assert a.checksum() == b.checksum(), "mode flip must not force a refresh"
    rt = IngestSpec.from_json(b.to_json())
    assert rt.merge_mode == "mor" and rt.mor_compact_files == 4


# ---- engine end-to-end vs DuckDB oracle ------------------------------------


def test_manager_mor_replay_matches_oracle(spark, warehouse, tmp_path):
    """Full engine drive (decision → chunked backlog → MoR merge → read)
    against the independent DuckDB LWW replay oracle, then compaction,
    then MORE epochs — the full production cadence on one table."""
    log_tbl = generate_change_log(n_events=4000, n_convs=80, seed=7)
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 2

    write_log(log_tbl, logdir, lsn_upto=cut)
    spec = transcripts_spec(
        source=f"parquet://{logdir}",
        target_buckets=8,
        merge_mode="mor",
        batch_size=600,  # forces a multi-chunk backlog → several delta epochs
    )
    mgr = DataLoadManager(spark, warehouse)
    res1 = mgr.run(spec)
    assert res1.decision.kind == "full_refresh"

    write_log(log_tbl, logdir, lsn_from=cut)
    res2 = mgr.run(spec)
    assert res2.decision.kind == "incremental"
    assert res2.n_chunks > 1, "fixture must exercise the chunked MoR path"
    tbl = mgr.table(spec)
    assert tbl.current_manifest()["kind"] == "merge_mor"
    assert tbl.current_manifest().get("deltas")

    got = spark_sorted_pdf(tbl.read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)

    tbl.compact_deltas()
    got = spark_sorted_pdf(tbl.read())
    assert_tables_equal(got, want)

    # third run: nothing new → skip; watermark intact through compaction
    res3 = mgr.run(spec)
    assert res3.skipped and res3.watermark == max_lsn


# ---- streaming × MoR --------------------------------------------------------


def test_streaming_ingest_mor_matches_oracle(spark, warehouse, tmp_path):
    """Structured Streaming micro-batches through the foreachBatch MERGE
    path with merge_mode="mor": every micro-batch is an O(batch) delta
    append, and the drained table (pending deltas folded at read) must
    equal the DuckDB LWW oracle — streaming epochs and batch epochs share
    one delta-seq lineage."""
    from relational_data_loader_spark.streaming.runner import StreamingIngest

    log_tbl = generate_change_log(n_events=3000, n_convs=60, seed=23)
    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir, n_files=8)
    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, merge_mode="mor"
    )
    mgr = DataLoadManager(spark, warehouse)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    ing.run_until_caught_up()

    tbl = mgr.table(spec)
    m = tbl.current_manifest()
    assert m["kind"] == "merge_mor" and m.get("deltas")
    got = spark_sorted_pdf(tbl.read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)
    tbl.compact_deltas()
    assert_tables_equal(spark_sorted_pdf(tbl.read()), want)


# ---- incremental compaction & read-optimized view ---------------------------


def test_incremental_compaction_worst_buckets_first(spark, tmp_path):
    """max_buckets bounds one run to the highest-debt buckets; the rest
    stay pending and fold on the next run — every intermediate state reads
    identically."""
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1, EPOCH2, EPOCH3])
    want = visible(t)
    all_deltas = t.current_manifest()["deltas"]
    assert len(all_deltas) >= 2
    worst = max(all_deltas, key=lambda b: len(all_deltas[b]))
    folded1 = t.compact_deltas(max_buckets=1)
    m = t.current_manifest()
    assert folded1 == len(all_deltas[worst])
    assert worst not in (m.get("deltas") or {})
    assert len(m["deltas"]) == len(all_deltas) - 1
    assert visible(t) == want
    # second run drains the rest
    folded2 = t.compact_deltas()
    assert folded2 == sum(len(v) for b, v in all_deltas.items() if b != worst)
    assert not (t.current_manifest().get("deltas") or {})
    assert visible(t) == want


def test_read_optimized_serves_base_only(spark, tmp_path):
    t = replay(spark, str(tmp_path), "mor", "t", [EPOCH1])
    # _ro view: pre-merge state (base only), no fold
    ro = sorted(tuple(r) for r in t.read(read_optimized=True).collect())
    base_only = visible(replay(spark, str(tmp_path), "mor", "ref", []))
    assert ro == base_only
    assert visible(t) != ro  # the real-time view sees the delta epoch
    # after compaction the two views converge
    t.compact_deltas()
    assert sorted(tuple(r) for r in t.read(read_optimized=True).collect()) == visible(t)
