"""Round-5 session-10 additions: metadata-only fast_count, manifest bloom
filters (build → driver-side probe → pruned point lookup), and the runtime
bloom semi-join prefilter.

Correctness contract in every case: pruning structures may only change
WHICH files/rows are touched, never the result — each test pins the
pruned path against the unpruned read or the DuckDB replay oracle.
"""

import os

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.spec import transcripts_spec
from tests.util import duck_final_state, write_log

N_EVENTS = 3000
N_CONVS = 60


@pytest.fixture(scope="module")
def log_tbl():
    return generate_change_log(n_events=N_EVENTS, n_convs=N_CONVS, seed=7)


def _split_load(spark, warehouse, tmp_path, log_tbl, **spec_kw):
    """Head full refresh + incremental tail — produces real tombstones and
    per-row lsns in the committed files."""
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    write_log(log_tbl, logdir, lsn_upto=max_lsn // 2)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8, **spec_kw)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)
    write_log(log_tbl, logdir, lsn_from=max_lsn // 2)
    mgr.run(spec)
    return mgr.table(spec), logdir


# ---- fast_count -----------------------------------------------------------


def test_fast_count_matches_scan_on_tombstoned_table(spark, warehouse, tmp_path, log_tbl):
    tbl, logdir = _split_load(spark, warehouse, tmp_path, log_tbl)
    fc = tbl.fast_count()
    assert fc["source"] == "manifest", fc
    assert fc["live_rows"] == tbl.read().count()
    assert fc["live_rows"] == len(duck_final_state(f"{logdir}/*.parquet"))


def test_fast_count_tombstone_stats_are_exact(spark, warehouse, tmp_path, log_tbl):
    tbl, _ = _split_load(spark, warehouse, tmp_path, log_tbl)
    m = tbl.current_manifest()
    stats = m["file_stats"]
    rels = [p for fs in m["buckets"].values() for p in fs]
    recorded = sum(int(stats[r]["tombstones"]) for r in rels)
    actual = (
        tbl._assembled(m)
        .filter(F.coalesce(F.col("_rdl_deleted"), F.lit(False)))
        .count()
    )
    assert recorded == actual
    assert recorded > 0  # the fixture's deletes must actually exercise it


def test_fast_count_falls_back_under_mor_debt(spark, warehouse, tmp_path, log_tbl):
    tbl, logdir = _split_load(
        spark, warehouse, tmp_path, log_tbl, merge_mode="mor"
    )
    assert tbl.current_manifest().get("deltas"), "fixture produced no delta debt"
    fc = tbl.fast_count()
    assert fc["source"] == "fold", fc
    assert fc["live_rows"] == len(duck_final_state(f"{logdir}/*.parquet"))
    # compaction clears the debt and restores the metadata-only path
    tbl.compact_deltas()
    fc2 = tbl.fast_count()
    assert fc2["source"] == "manifest" and fc2["live_rows"] == fc["live_rows"]


# ---- manifest blooms + point lookup ----------------------------------------


def test_point_lookup_equals_filtered_read_and_prunes(spark, warehouse, tmp_path, log_tbl):
    tbl, _ = _split_load(spark, warehouse, tmp_path, log_tbl)
    tbl.optimize(sort_cols=["turn_idx"], files_per_bucket=4)
    tbl.build_blooms(["text"])
    final = tbl.read()
    conv = final.agg(F.min("conv_id")).first()[0]
    probes = [
        r["text"]
        for r in final.filter(
            (F.col("conv_id") == conv) & (F.col("turn_idx") <= 3)
        ).collect()
        if r["text"] is not None
    ]
    assert probes
    rep = tbl.bloom_prune_report("text", probes)
    assert rep["files_skipped"] > 0, rep
    assert rep["files_read"] + rep["files_skipped"] == rep["files_total"]
    lookup = tbl.point_lookup("text", probes)
    assert len(set(lookup.inputFiles())) == rep["files_read"]
    got = sorted(tuple(r) for r in lookup.collect())
    want = sorted(
        tuple(r) for r in final.filter(F.col("text").isin(probes)).collect()
    )
    assert got == want


def test_point_lookup_on_internal_lsn_column(spark, warehouse, tmp_path, log_tbl):
    """The audit scenario: probe by _rdl_lsn (internal). Only the tail's
    incrementally merged rows carry per-row lsns (the full-refresh head is
    stamped with the baseline watermark by design), so probe tail lsns."""
    tbl, _ = _split_load(spark, warehouse, tmp_path, log_tbl)
    tbl.build_blooms(["_rdl_lsn"])
    m = tbl.current_manifest()
    base = int(m["baseline_watermark"])
    live = tbl._assembled(m).filter(
        ~F.coalesce(F.col("_rdl_deleted"), F.lit(False))
    )
    vals = [
        r[0]
        for r in live.filter(F.col("_rdl_lsn") > base)
        .select("_rdl_lsn")
        .limit(4)
        .collect()
    ]
    assert vals
    got = tbl.point_lookup("_rdl_lsn", vals)
    assert "_rdl_lsn" in got.columns  # internal probe column is surfaced
    rows = got.collect()
    assert {r["_rdl_lsn"] for r in rows} == set(vals)


def test_blooms_are_conservative_after_layout_churn(spark, warehouse, tmp_path, log_tbl):
    """optimize() after build_blooms replaces every file with bloom-less
    ones: the pruner must read everything (stale-filter-by-construction
    is impossible because stats key on the file path)."""
    tbl, _ = _split_load(spark, warehouse, tmp_path, log_tbl)
    tbl.build_blooms(["text"])
    tbl.optimize()
    probe = tbl.read().select("text").first()[0]
    rep = tbl.bloom_prune_report("text", [probe])
    assert rep["files_skipped"] == 0
    assert tbl.point_lookup("text", [probe]).count() >= 1


def test_build_blooms_rejects_unbloomable_columns(spark, warehouse, tmp_path, log_tbl):
    tbl, _ = _split_load(spark, warehouse, tmp_path, log_tbl)
    with pytest.raises(ValueError, match="string/integral"):
        tbl.build_blooms(["ts"])  # timestamp: string form isn't canonical
    with pytest.raises(ValueError, match="unknown column"):
        tbl.build_blooms(["nope"])


def test_empty_probe_set_reads_nothing(spark, warehouse, tmp_path, log_tbl):
    tbl, _ = _split_load(spark, warehouse, tmp_path, log_tbl)
    tbl.build_blooms(["text"])
    rep = tbl.bloom_prune_report("text", [])
    assert rep["files_read"] == 0 and rep["files_skipped"] == rep["files_total"]
    assert tbl.point_lookup("text", []).count() == 0


# ---- runtime bloom semi-join filter ----------------------------------------

SF = "/root/testdata/sf0.001"


def _dim_and_fact(spark):
    o = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    dim = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1995)
    ).select("o_orderkey")
    return dim, li


@pytest.mark.parametrize("m_bits", [1 << 14, 1 << 20])  # literal + pandas paths
def test_bloom_semi_filter_is_result_invariant(spark, m_bits):
    from relational_data_loader_spark.operators.runtime_filter import (
        bloom_semi_filter,
    )

    dim, li = _dim_and_fact(spark)
    pruned, stats = bloom_semi_filter(
        li, dim, "l_orderkey", "o_orderkey", m_bits=m_bits, k=3
    )
    assert 0 < stats["fill"] < 0.5, stats
    n_fact, n_pruned = li.count(), pruned.count()
    plain = sorted(
        tuple(r)
        for r in li.join(dim, li["l_orderkey"] == dim["o_orderkey"]).collect()
    )
    with_bloom = sorted(
        tuple(r)
        for r in pruned.join(
            dim, pruned["l_orderkey"] == dim["o_orderkey"]
        ).collect()
    )
    assert with_bloom == plain
    assert len(plain) <= n_pruned < n_fact  # superset of joiners, real pruning


def test_bloom_probe_is_codegen_and_pre_exchange(spark):
    """The literal-path probe must be a scan-stage filter: xxhash64 in the
    pruned frame's plan and NO exchange — every pruned row is one the
    downstream join never shuffles."""
    from relational_data_loader_spark.operators.runtime_filter import (
        bloom_semi_filter,
    )

    dim, li = _dim_and_fact(spark)
    pruned, _ = bloom_semi_filter(
        li, dim, "l_orderkey", "o_orderkey", m_bits=1 << 14, k=3
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, plan
    assert "Exchange" not in plan, plan


def test_bloom_semi_filter_rejects_bad_m(spark):
    from relational_data_loader_spark.operators.runtime_filter import (
        bloom_semi_filter,
    )

    dim, li = _dim_and_fact(spark)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_semi_filter(li, dim, "l_orderkey", "o_orderkey", m_bits=100)


# ---- dedup as a CDC writer ----------------------------------------------------


def test_dedup_deletes_are_cdf_visible(spark, warehouse, tmp_path, log_tbl):
    """The lineage payoff over a rewrite: the dedup drop shows up as D rows
    in the change feed, and time travel still serves the pre-dedup state."""
    from relational_data_loader_spark.operators.transcript import dedup_drop_list
    from relational_data_loader_spark.spec import transcripts_spec

    logdir = str(tmp_path / "log")
    write_log(log_tbl, logdir)
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)
    tbl = mgr.table(spec)
    v1 = tbl.current_manifest()["version"]
    state = tbl.read()
    n_before = state.count()

    # mirror half the conversations straight into the table's source log
    mirror = (
        spark.read.parquet(logdir)
        .filter(F.substring("conv_id", -1, 1).isin("0", "2", "4", "6", "8"))
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_m")))
        .withColumn("lsn", F.col("lsn") + tbl.watermark())
    )
    mirror.write.mode("append").parquet(logdir)
    mgr.run(spec)
    state = tbl.read()
    drops = dedup_drop_list(state, "conv_id", "turn_idx", "text")
    assert drops.count() > 0
    wm = int(tbl.watermark())
    dels = state.join(drops, "conv_id").select(
        F.lit(wm + 1).cast("long").alias("lsn"),
        F.lit("D").alias("op"),
        "conv_id",
        "turn_idx",
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
    )
    dels.write.mode("append").parquet(logdir)
    r = mgr.run(spec)
    assert r.rows_deleted > 0
    v3 = tbl.current_manifest()["version"]

    feed = tbl.changes_between(v3 - 1, v3)
    d_rows = feed.filter(F.col("op") == "D")
    assert d_rows.count() == r.rows_deleted
    assert set(
        x["conv_id"] for x in d_rows.select("conv_id").distinct().collect()
    ) == set(x["conv_id"] for x in drops.collect())
    # time travel: the pre-dedup (even pre-mirror) state is still served
    assert tbl.read(version=v1).count() == n_before
    # final state has no duplicate conversations left
    assert dedup_drop_list(tbl.read(), "conv_id", "turn_idx", "text").count() == 0


# ---- epoch shuffle -------------------------------------------------------------


def test_epoch_shuffle_is_deterministic_total_and_single_exchange(spark):
    from relational_data_loader_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id"
    )
    a = epoch_shuffle(docs, "doc_id", seed=1, n_shards=4)
    b = epoch_shuffle(docs, "doc_id", seed=1, n_shards=4)
    ra = sorted(tuple(r) for r in a.collect())
    assert ra == sorted(tuple(r) for r in b.collect())  # retry-stable
    # permutation: every doc exactly once, positions dense per shard
    n = docs.count()
    assert len(ra) == n and len({t[0] for t in ra}) == n
    per_shard = {}
    for _, shard, pos in ra:
        per_shard.setdefault(shard, []).append(pos)
    for shard, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # a different seed is a different permutation
    c = sorted(tuple(r) for r in epoch_shuffle(docs, "doc_id", seed=2, n_shards=4).collect())
    assert c != ra
    # one exchange: hash shard + windowed rank, never a global range sort
    # (AQE's toString appends the pre-adaptive plan — gate the final one)
    plan = a._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Exchange") == 1, final_plan
    assert "rangepartitioning" not in final_plan.lower(), final_plan
