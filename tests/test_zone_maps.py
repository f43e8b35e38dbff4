"""Manifest zone maps + range-pruned reads (sinks/snapshot.py):
footer-harvested per-column min/max, read_range correctness, real file
skipping after range-split compaction, conservative degrade paths, and
fsck compatibility."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.sinks.snapshot import SnapshotTable
from relational_data_loader_spark.spec import transcripts_spec
from tests.util import spark_sorted_pdf, write_log


def _loaded_table(spark, tmp_path, n_events=2500, buckets=4):
    log = generate_change_log(n_events=n_events, n_convs=50, seed=11)
    write_log(log, str(tmp_path / "log"))
    spec = transcripts_spec(
        source=f"parquet://{tmp_path}/log", target_buckets=buckets
    )
    mgr = DataLoadManager(spark, str(tmp_path / "wh"))
    mgr.run(spec)
    return mgr.table(spec)


def test_manifest_records_zone_maps(spark, tmp_path):
    t = _loaded_table(spark, tmp_path)
    stats = t.current_manifest()["file_stats"]
    assert stats
    for rec in stats.values():
        assert "minmax" in rec
        mm = rec["minmax"]
        # a numeric, a string and a timestamp column all get maps
        assert mm["turn_idx"]["min"] <= mm["turn_idx"]["max"]
        assert isinstance(mm["conv_id"]["min"], str)
        assert "ts" in mm and mm["ts"]["min"] <= mm["ts"]["max"]


def test_read_range_matches_filtered_full_read(spark, tmp_path):
    t = _loaded_table(spark, tmp_path)
    got = spark_sorted_pdf(t.read_range("turn_idx", lo=2, hi=5))
    want = spark_sorted_pdf(
        t.read().filter("turn_idx >= 2 AND turn_idx <= 5")
    )
    assert got.equals(want)
    # open-ended bounds
    got_lo = spark_sorted_pdf(t.read_range("turn_idx", lo=7))
    want_lo = spark_sorted_pdf(t.read().filter("turn_idx >= 7"))
    assert got_lo.equals(want_lo)


def test_range_split_compaction_enables_file_skipping(spark, tmp_path):
    t = _loaded_table(spark, tmp_path)
    before = t.prune_report("turn_idx", lo=0, hi=0)
    # one file per bucket, every file spans ~all turn_idx: nothing prunable
    assert before["files_skipped"] == 0
    t.optimize(sort_cols=["turn_idx"], files_per_bucket=4)
    after = t.prune_report("turn_idx", lo=0, hi=0)
    assert after["files_total"] > before["files_total"]
    assert after["files_skipped"] > 0
    assert after["bytes_read"] < after["bytes_total"]
    # the report counts exactly the files the read opens
    pruned = t.read_range("turn_idx", lo=0, hi=0)
    assert len(set(pruned.inputFiles())) == after["files_read"]
    # pruned read is still exact
    got = spark_sorted_pdf(pruned)
    want = spark_sorted_pdf(t.read().filter("turn_idx = 0"))
    assert got.equals(want)
    # and fsck still verifies the new manifest clean
    assert t.fsck()["ok"]


def test_missing_zone_map_reads_conservatively(spark, tmp_path):
    t = _loaded_table(spark, tmp_path)
    m = t.current_manifest()
    # simulate a pre-zone-map manifest: strip the maps
    stripped = dict(m)
    stripped["file_stats"] = {
        rel: {k: v for k, v in rec.items() if k != "minmax"}
        for rel, rec in m["file_stats"].items()
    }
    _, _, rels, all_rels = t._select(stripped, keep=t._zone_keep("turn_idx", 0, 0))
    assert rels == all_rels  # unknown stats -> must read everything


def test_footer_zone_maps_null_only_and_long_strings(tmp_path):
    tbl = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "all_null": pa.array([None, None, None], pa.int64()),
            "longstr": pa.array(["x" * 300, "y" * 300, "z" * 300]),
        }
    )
    p = str(tmp_path / "f.parquet")
    pq.write_table(tbl, p)
    mm = SnapshotTable._footer_zone_maps(pq.ParquetFile(p))
    assert mm["k"] == {"min": 1, "max": 3}
    assert mm["all_null"] == {"null_only": True}
    assert "longstr" not in mm  # truncatable stats are never trusted


def test_zone_pruning_rules():
    # pure pruning-decision logic, no table needed: _select is a
    # staticmethod and _zone_keep only touches the class's _zone_value
    stats = {
        "a.parquet": {"minmax": {"c": {"null_only": True}}},
        "b.parquet": {"minmax": {"c": {"min": 5, "max": 9}}},
        "c.parquet": {"minmax": {"c": {"min": 50, "max": 90}}},
        "d.parquet": {"minmax": {}},  # no map for this column
    }
    m = {
        "buckets": {"0": ["a.parquet", "b.parquet"], "1": ["c.parquet", "d.parquet"]},
        "file_stats": stats,
    }
    def prune(col, lo, hi):
        _, _, keep, allr = SnapshotTable._select(
            m, keep=SnapshotTable._zone_keep(col, lo, hi)
        )
        return keep, allr

    keep, allr = prune("c", 1, 20)
    assert keep == ["b.parquet", "d.parquet"] and len(allr) == 4
    keep, _ = prune("c", 60, None)
    assert keep == ["c.parquet", "d.parquet"]
    keep, _ = prune("c", None, None)
    assert keep == ["b.parquet", "c.parquet", "d.parquet"]  # null_only still skipped


def test_zone_values_order_preserving(tmp_path):
    import datetime as dt

    zv = SnapshotTable._zone_value
    assert zv(dt.datetime(2024, 1, 2, 3)) < zv(dt.datetime(2024, 1, 2, 4))
    assert zv(dt.date(2024, 1, 2)) < zv(dt.date(2024, 2, 1))
    assert zv(3) == 3 and zv(2.5) == 2.5 and zv("ab") == "ab"
    assert zv(True) is None and zv(b"raw") is None and zv("x" * 300) is None


def test_reports_on_a_table_with_no_commit(spark, tmp_path):
    # both prune reports share one shape, zeros included
    spec = transcripts_spec(source="parquet:///dev/null", target_buckets=4)
    t = SnapshotTable(spark, str(tmp_path / "t"), spec)
    zero = dict.fromkeys(
        ["files_total", "files_read", "files_skipped", "bytes_total", "bytes_read"], 0
    )
    assert t.prune_report("turn_idx", lo=0, hi=1) == zero
    assert t.bloom_prune_report("text", ["x"]) == zero
    assert t.read_range("turn_idx", lo=0, hi=1).count() == 0
