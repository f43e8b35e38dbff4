"""Engine-path sink selection (VERDICT r2 'missing' #1 / task #2).

Routing: ``spec.sink`` picks the destination in ``DataLoadManager.table``
— the reference's dst-conn argument choosing its Postgres writer.

E2E: ``manager.run`` drives an ``IcebergTable`` whose *data plane* is real
(change-log scan, netting, stats, temp views on the live session) while its
*Iceberg SQL surface* is a recording fake with real commit gating (see
tests/test_iceberg_sink.py). The fake "executes" each data write by
noop-evaluating the write's source view on the real session — exactly what
the Iceberg scan would trigger on a cluster — so Observations fire and the
run's control flow is exercised end-to-end: initial full refresh →
incremental MERGE with netted source → idempotent re-run → replay skip.
"""

import re

import pyarrow.compute as pc
import pytest

from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.plans.manager import DataLoadManager
from relational_data_loader_spark.sinks import iceberg as iceberg_mod
from relational_data_loader_spark.sinks.iceberg import IcebergTable, _encode_stamp
from relational_data_loader_spark.sinks.snapshot import SnapshotTable
from relational_data_loader_spark.spec import transcripts_spec
from relational_data_loader_spark.streaming.runner import StreamingIngest
from tests.test_iceberg_sink import FakeSpark
from tests.util import write_log

N_EVENTS = 2000
N_CONVS = 50


# ---------------------------------------------------------------- routing --


def test_default_sink_is_snapshot(spark, warehouse):
    t = DataLoadManager(spark, warehouse).table(
        transcripts_spec(source="parquet:///x")
    )
    assert isinstance(t, SnapshotTable)
    assert callable(t.full_refresh_from_envelopes)


def test_iceberg_sink_routes_when_runtime_present(spark, warehouse, monkeypatch):
    monkeypatch.setattr(iceberg_mod, "iceberg_available", lambda s: True)
    spec = transcripts_spec(
        source="parquet:///x", sink="iceberg://lake.db.transcripts"
    )
    t = DataLoadManager(spark, warehouse).table(spec)
    assert isinstance(t, IcebergTable)
    assert t.identifier == "lake.db.transcripts"
    assert callable(t.full_refresh_from_envelopes)


def test_iceberg_sink_fails_loudly_without_runtime(spark, warehouse):
    # no jars in this sandbox: the spec demands iceberg, so silently writing
    # to a different physical table would be corruption — refuse instead
    spec = transcripts_spec(source="parquet:///x", sink="iceberg://lake.db.t")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        DataLoadManager(spark, warehouse).table(spec)


def test_bad_sink_values_rejected(spark, warehouse):
    mgr = DataLoadManager(spark, warehouse)
    with pytest.raises(ValueError, match="unknown sink"):
        mgr.table(transcripts_spec(source="x://", sink="postgres://nope"))
    with pytest.raises(ValueError, match="identifier"):
        mgr.table(transcripts_spec(source="x://", sink="iceberg://"))


def test_sink_round_trips_through_spec_json():
    from relational_data_loader_spark.spec import IngestSpec

    spec = transcripts_spec(source="x://", sink="iceberg://lake.db.t")
    back = IngestSpec.from_json(spec.to_json())
    assert back.sink == "iceberg://lake.db.t"
    # sink is a deployment choice, not a schema change: same checksum
    assert back.checksum() == transcripts_spec(source="x://").checksum()


# ------------------------------------------------------------- hybrid e2e --


class HybridIcebergSpark(FakeSpark):
    """FakeSpark (real commit gating) that also *evaluates* each data write
    by noop-writing its source view on the live session — Observations fire
    and lazy plans actually run — and absorbs rdl.spec.* TBLPROPERTIES from
    DDL so the next run's decision reads them back organically."""

    def __init__(self, real):
        super().__init__()
        self._real = real

    def sql(self, text):
        norm = " ".join(text.split())
        if any(kw in norm for kw in self._DATA_WRITES):
            view = (
                "_rdl_full"
                if "FROM _rdl_full" in norm
                else ("_rdl_batch" if "_rdl_batch" in norm else None)
            )
            if view is not None:
                self._real.table(view).write.format("noop").mode(
                    "overwrite"
                ).save()
        for m in re.finditer(r"'(rdl\.spec\.(?:checksum|json))' = '([^']*)'", norm):
            self.tblprops[m.group(1)] = m.group(2)
        return super().sql(text)


@pytest.fixture()
def iceberg_rig(spark, warehouse, tmp_path):
    fake = HybridIcebergSpark(spark)
    logdir = str(tmp_path / "log")
    spec = transcripts_spec(
        source=f"parquet://{logdir}", sink="iceberg://lake.db.transcripts"
    )
    mgr = DataLoadManager(spark, warehouse)
    mgr.table = lambda s: IcebergTable(
        fake, "lake.db.transcripts", s, check_runtime=False
    )
    return mgr, spec, fake, logdir


def test_manager_runs_end_to_end_against_iceberg(iceberg_rig):
    mgr, spec, fake, logdir = iceberg_rig
    log_tbl = generate_change_log(n_events=N_EVENTS, n_convs=N_CONVS, seed=7)
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(log_tbl, logdir, lsn_upto=cut)

    # 1. initial load: table missing → full refresh via ONE stamped RTAS
    res1 = mgr.run(spec)
    assert res1.decision.kind == "full_refresh"
    assert res1.rows_upserted > 0  # the Observation actually fired
    rtas = [c[1] for c in fake.calls if c[0] == "sql" and "CREATE OR REPLACE TABLE" in c[1]]
    assert len(rtas) == 1
    head_max = res1.watermark
    assert cut - 50 <= head_max <= cut
    assert fake.snapshots[0][0] == _encode_stamp(f"batch:{head_max}", head_max)

    # 2. nothing new → detected no-op, no data commit
    res2 = mgr.run(spec)
    assert res2.decision.kind == "incremental" and res2.skipped is True
    assert fake.merges() == []

    # 3. tail arrives → ONE incremental MERGE, netted source, stamped commit
    write_log(log_tbl, logdir, lsn_from=cut)
    res3 = mgr.run(spec)
    assert res3.decision.kind == "incremental" and res3.skipped is False
    merges = fake.merges()
    assert len(merges) == 1
    assert "WHEN MATCHED AND s.lsn > t._rdl_lsn" in merges[0]  # sequence guard
    assert res3.watermark == max_lsn
    assert fake.snapshots[-1][0] == _encode_stamp(f"batch:{max_lsn}", max_lsn)

    # the MERGE source was netted: no multi-row PKs in _rdl_batch (Iceberg
    # MERGE INTO cardinality requirement — the reason the sink nets raw
    # envelopes before its MERGE)
    view = mgr.spark.table("_rdl_batch")
    dup = (
        view.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    )
    assert dup == 0
    raw_tail = mgr.spark.read.parquet(logdir).filter(f"lsn > {head_max}").count()
    assert view.count() < raw_tail  # netting actually collapsed duplicates
    assert res3.rows_upserted + res3.rows_deleted == view.count()

    # 4. replay of the whole log: both epochs already stamped → no-op
    res4 = mgr.run(spec)
    assert res4.skipped is True
    assert len(fake.merges()) == 1  # still exactly one MERGE ever issued


def test_streaming_apply_batch_against_iceberg(iceberg_rig):
    mgr, spec, fake, logdir = iceberg_rig
    log_tbl = generate_change_log(n_events=400, n_convs=20, seed=11)
    write_log(log_tbl, logdir)

    ing = StreamingIngest(mgr, spec, checkpoint_dir="/unused")
    batch = mgr.spark.read.schema(spec.change_schema()).parquet(logdir)
    ing.apply_batch(batch, epoch_id=3)

    # bootstrap RTAS + one stream-namespaced stamped MERGE
    assert any("CREATE OR REPLACE TABLE" in c[1] for c in fake.calls if c[0] == "sql")
    assert len(fake.merges()) == 1
    stamps = [s for s, _ in fake.snapshots if s]
    assert any(s.startswith("rdl/stream:3/") for s in stamps)
    # netted inside the sink (apply_batch hands over raw envelopes)
    dup = (
        mgr.spark.table("_rdl_batch")
        .groupBy("conv_id", "turn_idx")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    # replayed micro-batch (foreachBatch at-least-once) is a detected no-op
    ing.apply_batch(batch, epoch_id=3)
    assert len(fake.merges()) == 1


def test_iceberg_widening_evolves_in_place_via_manager(iceberg_rig):
    """Sink-aware re-bucket rule, end to end: widening turn_idx (a PK, and
    also safe on the bucket column — Iceberg's bucket transform is
    width-stable) must keep the run INCREMENTAL and issue one metadata-only
    ALTER COLUMN TYPE, never a re-bucketing full refresh."""
    from relational_data_loader_spark.spec import ColumnSpec, IngestSpec

    mgr, spec, fake, logdir = iceberg_rig
    log_tbl = generate_change_log(n_events=N_EVENTS, n_convs=N_CONVS, seed=7)
    max_lsn = pc.max(log_tbl["lsn"]).as_py()
    cut = max_lsn // 2
    write_log(log_tbl, logdir, lsn_upto=cut)
    mgr.run(spec)

    write_log(log_tbl, logdir, lsn_from=cut)
    cols = [
        c if c.destination != "turn_idx"
        else ColumnSpec("turn_idx", "turn_idx", "bigint", primary_key=True,
                        nullable=False)
        for c in spec.columns
    ]
    spec2 = IngestSpec(name=spec.name, source=spec.source, columns=cols,
                       sink=spec.sink)
    res = mgr.run(spec2)
    assert res.decision.kind == "incremental", res.decision.reasons
    assert res.decision.evolve_widened == [("turn_idx", "bigint")]
    sqls = [c[1] for c in fake.calls if c[0] == "sql"]
    assert any(
        "ALTER COLUMN turn_idx TYPE bigint" in s for s in sqls
    )
    # exactly one RTAS ever (the initial load) — the widen did NOT re-bucket
    assert sum("CREATE OR REPLACE TABLE" in s for s in sqls) == 1

    # contrast: widening the bucket key on the SNAPSHOT sink re-buckets
    # (covered in test_column_change.py::test_widen_bucket_key_forces_rebucket)
