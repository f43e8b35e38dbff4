"""Round-2 hardening families:

- bucket-layout pinning: a spec edit to ``target_buckets`` must never desync
  merge pruning from the committed file layout (silent stale-duplicate
  corruption); the engine re-buckets via full refresh instead;
- epoch namespacing: batch-manager epochs (log positions) and Structured
  Streaming batchIds (0,1,2,…) live in disjoint manifest namespaces so a
  stream's batchId can never be mistaken for an already-applied batch LSN;
- chunked incremental apply: ``spec.batch_size`` splits a large backlog into
  separately committed epochs, resumable mid-backlog (reference C2's batch
  loop — ``modules/BatchDataLoader.py::load_batch``);
- salted LWW netting: spec-pinned and auto-detected salting both produce the
  same final state as the unsalted plan while the physical plan shows the
  two-phase shape.
"""

import pyarrow.compute as pc
import pytest

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.operators.lww import net_changes
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.spec import transcripts_spec
from relational_data_loader_spark.streaming.runner import StreamingIngest
from tests.util import assert_tables_equal, duck_final_state, spark_sorted_pdf, write_log


@pytest.fixture(scope="module")
def log_tbl():
    return generate_change_log(n_events=5000, n_convs=90, seed=17)


# ---------------------------------------------------------------------------
# bucket-layout pinning


def test_target_buckets_change_forces_full_refresh(spark, warehouse, tmp_path, log_tbl):
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(log_tbl, logdir, lsn_upto=cut)

    spec8 = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec8)
    assert mgr.table(spec8).layout_buckets() == 8

    # tail arrives AND the operator edits target_buckets: incremental under
    # the new layout would prune the wrong files — must re-bucket instead
    write_log(log_tbl, logdir, lsn_from=cut)
    spec16 = transcripts_spec(source=f"parquet://{logdir}", target_buckets=16)
    res = mgr.run(spec16)
    assert res.decision.kind == "full_refresh"
    assert any("bucket layout changed" in r for r in res.decision.reasons)
    assert mgr.table(spec16).layout_buckets() == 16

    got = spark_sorted_pdf(mgr.table(spec16).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)


def test_direct_merge_uses_committed_layout_not_live_spec(
    spark, warehouse, tmp_path, log_tbl
):
    """Callers that bypass the decision plane (e.g. foreachBatch) still merge
    against the committed layout: final state stays correct and the manifest
    keeps the original bucket count."""
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(log_tbl, logdir, lsn_upto=cut)

    mgr = DataLoadManager(spark, warehouse)
    spec8 = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr.run(spec8)

    write_log(log_tbl, logdir, lsn_from=cut)
    # mismatched live spec: pretends the table is 4-bucketed
    spec4 = transcripts_spec(source=f"parquet://{logdir}", target_buckets=4)
    table = mgr.table(spec4)
    tail = mgr.spark.read.schema(spec4.change_schema()).parquet(logdir).filter(
        f"lsn > {cut}"
    )
    stats = table.merge(mgr.prepare_batch(spec4, tail), epoch_id=max_lsn)
    assert not stats.skipped
    assert table.layout_buckets() == 8, "merge must not adopt the live spec's layout"

    got = spark_sorted_pdf(table.read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)


# ---------------------------------------------------------------------------
# epoch namespacing


def test_stream_batchid_does_not_collide_with_batch_epoch(
    spark, warehouse, tmp_path, log_tbl
):
    """A streaming batchId numerically equal to a committed batch-mode epoch
    (an LSN) must still apply — the round-1 shared set silently dropped it."""
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(log_tbl, logdir, lsn_upto=cut)

    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)  # commits batch epoch key "batch:<cut-ish lsn>"
    batch_epochs = {
        k for k in mgr.table(spec).applied_epochs() if k.startswith("batch:")
    }
    assert batch_epochs, "precondition: a batch epoch is committed"
    collide_id = int(next(iter(batch_epochs)).split(":")[1])

    # stream a micro-batch whose batchId == that committed batch LSN
    write_log(log_tbl, logdir, lsn_from=cut)
    ing = StreamingIngest(mgr, spec, str(tmp_path / "ckpt"))
    tail = mgr.spark.read.schema(spec.change_schema()).parquet(logdir).filter(
        f"lsn > {cut}"
    )
    ing.apply_batch(tail, epoch_id=collide_id)

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)  # the tail actually landed

    epochs = mgr.table(spec).applied_epochs()
    assert f"stream:{collide_id}" in epochs
    assert f"batch:{collide_id}" in epochs  # both live side by side


# ---------------------------------------------------------------------------
# chunked incremental apply (spec.batch_size)


def test_backlog_applies_in_bounded_chunks(spark, warehouse, tmp_path, log_tbl):
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 5
    write_log(log_tbl, logdir, lsn_upto=cut)

    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, batch_size=1000
    )
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)

    write_log(log_tbl, logdir, lsn_from=cut)  # ~4000-event backlog
    res = mgr.run(spec)
    assert res.decision.kind == "incremental"
    assert res.n_chunks >= 3, "backlog must split into multiple epochs"
    assert res.watermark == max_lsn

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)

    # each chunk is its own manifest commit (resumable mid-backlog)
    manifest = mgr.table(spec).current_manifest()
    batch_keys = [k for k in manifest["applied_epochs"] if k.startswith("batch:")]
    assert len(batch_keys) >= res.n_chunks


def test_kill_between_chunks_resumes_to_same_state(spark, warehouse, tmp_path, log_tbl):
    """Crash mid-backlog: first run dies after k chunks; rerun finishes; final
    state equals a single-shot replay (VERDICT item 3's 'done' bar)."""
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 5
    write_log(log_tbl, logdir, lsn_upto=cut)

    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, batch_size=1000
    )
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)
    write_log(log_tbl, logdir, lsn_from=cut)

    # inject a crash after the 2nd chunk commit
    table_factory = mgr.table
    calls = {"n": 0}

    class Boom(RuntimeError):
        pass

    real_table = table_factory(spec)
    real_merge = real_table.merge

    def dying_merge(batch, epoch_id, namespace="batch", netted=False):
        calls["n"] += 1
        if calls["n"] > 2:
            raise Boom("simulated crash between chunk commits")
        return real_merge(batch, epoch_id, namespace, netted=netted)

    real_table.merge = dying_merge
    mgr.table = lambda s: real_table  # first run sees the dying table
    with pytest.raises(Boom):
        mgr.run(spec)
    mgr.table = table_factory  # restore

    mid_wm = mgr.table(spec).watermark()
    assert cut < mid_wm < max_lsn, "crash left a partially applied backlog"

    res = mgr.run(spec)  # resume
    assert res.decision.kind == "incremental"
    assert res.watermark == max_lsn

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)


# ---------------------------------------------------------------------------
# salted LWW netting


def _hot_pk_log(n_events=4000):
    """Change log where ONE (conv_id, turn_idx) PK owns ~40% of all events."""
    import pyarrow as pa
    import numpy as np

    tbl = generate_change_log(n_events=n_events, n_convs=50, seed=3)
    rng = np.random.default_rng(5)
    hot = rng.random(tbl.num_rows) < 0.4
    conv = ["conv_hot" if h else c for c, h in zip(tbl["conv_id"].to_pylist(), hot)]
    turn = [0 if h else t for t, h in zip(tbl["turn_idx"].to_pylist(), hot)]
    # hot rows must not be deletes-only; keep ops as generated
    tbl = tbl.set_column(tbl.schema.get_field_index("conv_id"), "conv_id", pa.array(conv))
    return tbl.set_column(
        tbl.schema.get_field_index("turn_idx"), "turn_idx", pa.array(turn, pa.int32())
    )


def test_salted_netting_equals_unsalted(spark, tmp_path):
    tbl = _hot_pk_log()
    logdir = str(tmp_path / "log")
    write_log(tbl, logdir)
    spec = transcripts_spec(source=f"parquet://{logdir}")
    df = spark.read.schema(spec.change_schema()).parquet(logdir)

    plain = net_changes(df, ["conv_id", "turn_idx"]).orderBy("conv_id", "turn_idx")
    salted = net_changes(
        df, ["conv_id", "turn_idx"], salt_buckets=8
    ).orderBy("conv_id", "turn_idx")

    # physical plan really is two-phase: two window stages
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 2

    assert plain.collect() == salted.collect()


def test_spec_salt_buckets_drives_engine_path(spark, warehouse, tmp_path):
    """spec.salt_buckets > 1 ⇒ the engine nets through the salted plan and the
    final state still matches the oracle (VERDICT item 2's 'done' bar)."""
    tbl = _hot_pk_log()
    logdir = str(tmp_path / "log")
    import pyarrow.compute as pc

    max_lsn = pc.max(tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(tbl, logdir, lsn_upto=cut)

    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, salt_buckets=8
    )
    mgr = DataLoadManager(spark, warehouse)
    first = mgr.run(spec)
    # the pinned full refresh takes the sink's fused entry, which runs the
    # salted pre-net itself
    assert first.decision.kind == "full_refresh"
    assert_tables_equal(
        spark_sorted_pdf(mgr.table(spec).read()),
        duck_final_state(f"{logdir}/*.parquet"),
    )
    write_log(tbl, logdir, lsn_from=cut)
    res = mgr.run(spec)
    assert res.decision.kind == "incremental"
    assert res.salt_buckets == 8, "engine must take the salted path"

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)


def test_hot_pk_unsalted_uses_window_group_limit(spark, tmp_path, warehouse):
    """salt_buckets=0 (default): the engine runs no salted pre-net. The plan
    assertion covers ``net_changes`` standing alone, which plans
    WindowGroupLimit Partial (map-side top-1 per PK before the shuffle);
    the default merge does not run that plan — its window rides the bucket
    repartition with the limit in Final mode only (test_plans.py), so its
    hot-PK bound is batch_size chunking plus the salt pin. Also asserts
    final-state correctness of the unsalted run on the skewed fixture (40%
    of events on one PK)."""
    from relational_data_loader_spark.spec import transcripts_spec as _ts

    tbl = _hot_pk_log()
    logdir = str(tmp_path / "log")
    max_lsn = pc.max(tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(tbl, logdir, lsn_upto=cut)

    spec = _ts(source=f"parquet://{logdir}", target_buckets=8)
    mgr = DataLoadManager(spark, warehouse)
    mgr.run(spec)
    write_log(tbl, logdir, lsn_from=cut)

    # the skew-critical plan property: partial (map-side) group limit
    from relational_data_loader_spark.operators.lww import net_changes

    tail = mgr.spark.read.schema(spec.change_schema()).parquet(logdir).filter(
        f"lsn > {cut}"
    )
    plan = (
        net_changes(mgr.project(spec, tail), spec.primary_keys)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan

    res = mgr.run(spec)
    assert res.salt_buckets == 0, "default path must not pay the salt shuffles"

    got = spark_sorted_pdf(mgr.table(spec).read())
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(got, want)
