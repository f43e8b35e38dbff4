"""CLI (reference C4: rdl.py entry point) — batch mode, forced refresh,
stream --once smoke, and the error path. Reuses the session fixture's
SparkSession (get_spark → getOrCreate)."""

import json
import os

import pyarrow.compute as pc
import pytest

from relational_data_loader_spark.cli import main, parse_args
from relational_data_loader_spark.fixtures import generate_change_log
from relational_data_loader_spark.spec import transcripts_spec
from tests.util import assert_tables_equal, duck_final_state, spark_sorted_pdf, write_log


@pytest.fixture()
def setup(tmp_path, spark):
    log = generate_change_log(n_events=2500, n_convs=50, seed=31)
    logdir = str(tmp_path / "log")
    specdir = tmp_path / "specs"
    specdir.mkdir()
    spec = transcripts_spec(source=f"parquet://{logdir}", target_buckets=8)
    (specdir / "transcripts.json").write_text(spec.to_json())
    wh = str(tmp_path / "wh")
    return log, logdir, str(specdir), wh, spec


def _out_lines(capsys):
    return [
        json.loads(l)
        for l in capsys.readouterr().out.splitlines()
        if l.startswith("{")
    ]


def test_batch_mode_full_then_incremental(setup, capsys):
    log, logdir, specdir, wh, spec = setup
    cut = pc.max(log["lsn"]).as_py() // 2
    write_log(log, logdir, lsn_upto=cut)

    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    (r1,) = _out_lines(capsys)
    assert r1["spec"] == "transcripts" and r1["decision"] == "full_refresh"
    assert r1["rows_upserted"] > 0 and r1["watermark"] == cut

    write_log(log, logdir, lsn_from=cut)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    (r2,) = _out_lines(capsys)
    assert r2["decision"] == "incremental" and not r2["skipped"]
    assert r2["rows_deleted"] > 0

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    got = spark_sorted_pdf(mgr.table(spec).read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))


def test_force_full_refresh_star(setup, capsys):
    log, logdir, specdir, wh, _ = setup
    write_log(log, logdir)
    main(["--warehouse", wh, "--specs", specdir])
    capsys.readouterr()
    main(["--warehouse", wh, "--specs", specdir, "--force-full-refresh", "*"])
    (r,) = _out_lines(capsys)
    assert r["decision"] == "full_refresh"
    assert any("forced by caller" in x for x in r["reasons"])


def test_stream_once_drains_and_exits(setup, capsys, tmp_path):
    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=6)
    ckpt = str(tmp_path / "ckpt")
    # availableNow ⇒ the query terminates on its own; main returns
    assert main(
        ["--warehouse", wh, "--specs", specdir, "--stream", "--once",
         "--checkpoint", ckpt]
    ) == 0
    assert "streaming transcripts" in capsys.readouterr().out

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    got = spark_sorted_pdf(mgr.table(spec).read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))
    assert os.path.isdir(os.path.join(ckpt, "transcripts"))


def test_stream_fresh_checkpoint_refused_until_forced_refresh(setup, capsys, tmp_path):
    """A stream started with a new --checkpoint on a table an earlier stream
    fed is refused (its batch ids would repeat applied ones and be skipped):
    a JSON line and rc 3, and the other specs' streams still start.
    --force-full-refresh with the new checkpoint recovers the whole log."""
    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    log, logdir, specdir, wh, spec = setup
    cut = pc.max(log["lsn"]).as_py() // 2
    write_log(log, logdir, lsn_upto=cut)
    stream = ["--warehouse", wh, "--specs", specdir, "--stream", "--once"]
    assert main(stream + ["--checkpoint", str(tmp_path / "ckpt1")]) == 0
    write_log(log, logdir, lsn_from=cut)
    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    table = mgr.table(spec)
    version = table.current_manifest()["version"]
    # a spec no stream fed yet: it must start although the other is refused
    other = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, name="transcripts_b"
    )
    (tmp_path / "specs" / "transcripts_b.json").write_text(other.to_json())
    capsys.readouterr()

    fresh = stream + ["--checkpoint", str(tmp_path / "ckpt2")]
    assert main(fresh) == 3
    out = capsys.readouterr().out
    (refused,) = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    assert refused["spec"] == "transcripts" and refused["refused"] is True
    assert "force-full-refresh" in refused["error"]
    assert "streaming transcripts_b" in out
    assert table.current_manifest()["version"] == version
    want = duck_final_state(f"{logdir}/*.parquet")
    assert_tables_equal(spark_sorted_pdf(mgr.table(other).read()), want)

    assert main(fresh + ["--force-full-refresh", spec.name]) == 0
    capsys.readouterr()
    assert_tables_equal(spark_sorted_pdf(table.read()), want)


def test_no_specs_is_an_error(tmp_path, capsys):
    empty = tmp_path / "none"
    empty.mkdir()
    assert main(["--warehouse", str(tmp_path / "wh"), "--specs", str(empty)]) == 2
    assert "no *.json specs" in capsys.readouterr().err


def test_arg_wiring():
    a = parse_args(
        ["--warehouse", "/wh", "--specs", "/s", "--stream", "--once",
         "--checkpoint", "/c", "--force-full-refresh", "a,b", "--log-level", "INFO"]
    )
    assert (a.warehouse, a.specs, a.stream, a.once, a.checkpoint) == (
        "/wh", "/s", True, True, "/c",
    )
    assert a.force_full_refresh == "a,b" and a.log_level == "INFO"


def test_maintenance_mode(setup, capsys, tmp_path):
    """--expire-tombstones-below / --vacuum run the janitorial pass per spec
    and exit without loading."""
    import json as _json

    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=4)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0  # load once
    capsys.readouterr()

    rc = main(["--warehouse", wh, "--specs", specdir,
               "--expire-tombstones-below", "999999999", "--vacuum"])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = _json.loads(out[-1])
    assert doc["spec"] == "transcripts"
    assert "tombstones_expired" in doc and "files_vacuumed" in doc

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    got = spark_sorted_pdf(mgr.table(spec).read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))


def test_multi_spec_batch_run(setup, capsys, tmp_path):
    """The reference loops over every model JSON in the config folder; two
    specs in one --specs dir must both load, each into its own table."""
    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=4)
    # second spec over the same log but a different destination table
    from relational_data_loader_spark.spec import IngestSpec

    spec2 = IngestSpec.from_json(spec.to_json())
    spec2.name = "transcripts_copy"
    import os as _os

    with open(_os.path.join(specdir, "transcripts_copy.json"), "w") as f:
        f.write(spec2.to_json())

    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    lines = _out_lines(capsys)
    assert {l["spec"] for l in lines} == {"transcripts", "transcripts_copy"}
    assert all(l["decision"] == "full_refresh" for l in lines)

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    want = duck_final_state(f"{logdir}/*.parquet")
    for s in (spec, spec2):
        assert_tables_equal(spark_sorted_pdf(mgr.table(s).read()), want)


def test_maintenance_optimize_flag(setup, capsys, tmp_path):
    import json as _json

    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=4)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    capsys.readouterr()

    rc = main(["--warehouse", wh, "--specs", specdir, "--optimize"])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = _json.loads(out[-1])
    assert doc["spec"] == "transcripts" and doc["files_compacted"] > 0

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    t = mgr.table(spec)
    assert t.current_manifest()["kind"] == "optimize"
    got = spark_sorted_pdf(t.read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))


def test_maintenance_optimize_zorder_flag(setup, capsys, tmp_path):
    import json as _json

    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=4)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    capsys.readouterr()

    rc = main(
        ["--warehouse", wh, "--specs", specdir, "--optimize",
         "--zorder", "turn_idx,_rdl_lsn"]
    )
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = _json.loads(out[-1])
    assert doc["files_compacted"] > 0
    assert doc["zorder"] == ["turn_idx", "_rdl_lsn"]

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    t = mgr.table(spec)
    assert t.current_manifest()["kind"] == "optimize"
    # logical content identical to the replay oracle after the rewrite
    assert_tables_equal(
        spark_sorted_pdf(t.read()), duck_final_state(f"{logdir}/*.parquet")
    )


def test_wap_branch_stage_publish_cycle(setup, capsys, spark):
    """--branch stages, main stays put; --publish-branch fast-forwards;
    a stale branch publish exits rc 3 with the refusal in the JSON line."""
    log, logdir, specdir, wh, spec = setup
    cut = pc.max(log["lsn"]).as_py() // 2
    write_log(log, logdir, lsn_upto=cut)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    capsys.readouterr()

    from relational_data_loader_spark.plans.manager import DataLoadManager

    mgr = DataLoadManager(spark, wh)
    main_tbl = mgr.table(spec)
    wm_before = main_tbl.watermark()

    write_log(log, logdir, lsn_from=cut)
    assert main(["--warehouse", wh, "--specs", specdir, "--branch", "audit"]) == 0
    (r,) = _out_lines(capsys)
    assert r["decision"] == "incremental" and not r["skipped"]
    assert main_tbl.watermark() == wm_before  # main untouched

    assert main(
        ["--warehouse", wh, "--specs", specdir, "--publish-branch", "audit"]
    ) == 0
    (p,) = _out_lines(capsys)
    assert p["published_branch"] == "audit"
    got = spark_sorted_pdf(main_tbl.read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))

    # stale branch: fork, advance main, publish must rc 3
    write_log(log, logdir)  # rewrite whole log; next runs skip, so force
    assert main(
        ["--warehouse", wh, "--specs", specdir, "--branch", "stale",
         "--force-full-refresh", "*"]
    ) == 0
    assert main(
        ["--warehouse", wh, "--specs", specdir, "--force-full-refresh", "*"]
    ) == 0
    capsys.readouterr()
    assert main(
        ["--warehouse", wh, "--specs", specdir, "--publish-branch", "stale"]
    ) == 3
    (f,) = _out_lines(capsys)
    assert "not a fast-forward" in f["publish_failed"]
    assert main(
        ["--warehouse", wh, "--specs", specdir, "--drop-branch", "stale"]
    ) == 0
    assert main_tbl.list_branches() == []


def test_maintenance_compact_deltas_flag(setup, capsys, tmp_path):
    """A MoR spec accumulates delta debt through the CLI batch path; the
    --compact-deltas verb folds it and the table stays oracle-equal."""
    import json as _json

    log, logdir, specdir, wh, _ = setup
    spec = transcripts_spec(
        source=f"parquet://{logdir}", target_buckets=8, merge_mode="mor"
    )
    (tmp_path / "specs" / "transcripts.json").write_text(spec.to_json())
    cut = pc.max(log["lsn"]).as_py() // 2
    write_log(log, logdir, lsn_upto=cut)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    write_log(log, logdir, lsn_from=cut)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    capsys.readouterr()

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    t = mgr.table(spec)
    assert t.current_manifest()["kind"] == "merge_mor"
    assert t.current_manifest().get("deltas")

    rc = main(["--warehouse", wh, "--specs", specdir, "--compact-deltas"])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = _json.loads(out[-1])
    assert doc["spec"] == "transcripts" and doc["delta_files_compacted"] > 0
    m = t.current_manifest()
    assert m["kind"] == "compact_deltas" and not m.get("deltas")
    got = spark_sorted_pdf(t.read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))


def test_publish_group_flag_atomic_across_specs(setup, capsys, tmp_path):
    """Two specs staged with --branch, then --publish-group commits them as
    ONE cross-table transaction (journal + cut record); --recover-groups
    afterwards settles nothing (terminal journal)."""
    import json as _json

    from relational_data_loader_spark.spec import ColumnSpec, IngestSpec

    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir)
    regdir = str(tmp_path / "reg")
    import duckdb
    import pyarrow.parquet as pq

    reg = duckdb.sql(
        f"SELECT lsn, 'U' AS op, conv_id, coalesce(role,'t') AS last_role "
        f"FROM read_parquet('{logdir}/*.parquet')"
    ).arrow()
    import os as _os

    _os.makedirs(regdir, exist_ok=True)
    pq.write_table(reg, f"{regdir}/reg.parquet")
    reg_spec = IngestSpec(
        name="conv_registry",
        source=f"parquet://{regdir}",
        columns=[
            ColumnSpec("conv_id", "conv_id", "string", primary_key=True, nullable=False),
            ColumnSpec("last_role", "last_role", "string"),
        ],
        target_buckets=4,
    )
    (tmp_path / "specs" / "conv_registry.json").write_text(reg_spec.to_json())

    assert main(["--warehouse", wh, "--specs", specdir, "--branch", "wap"]) == 0
    capsys.readouterr()
    rc = main(["--warehouse", wh, "--specs", specdir, "--publish-group", "wap"])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = next(_json.loads(l) for l in out if "published_group" in l)
    assert set(doc["tables"]) == {"transcripts", "conv_registry"}

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.plans.txn import list_cuts, read_cut
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    got = spark_sorted_pdf(mgr.table(spec).read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))
    (cut,) = list_cuts(wh)
    views = read_cut(mgr, [spec, reg_spec], cut["txid"])
    assert views["conv_registry"].count() > 0

    rc = main(["--warehouse", wh, "--specs", specdir, "--recover-groups"])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = next(_json.loads(l) for l in out if "recovered_groups" in l)
    assert doc["recovered_groups"] == []


def test_clone_to_flag(setup, capsys, tmp_path):
    import json as _json

    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    capsys.readouterr()
    dest = str(tmp_path / "devwh")
    rc = main(["--warehouse", wh, "--specs", specdir, "--clone-to", dest])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = _json.loads(out[-1])
    assert doc["cloned_to"].endswith("transcripts") and doc["clone_mode"] == "shallow"

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    dev = DataLoadManager(get_spark("rdl-tests"), dest)
    got = spark_sorted_pdf(dev.table(spec).read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))


def test_compact_log_flag(setup, capsys):
    """--compact-log nets each spec's parquet source below the lsn and
    reports the fold; a subsequent batch run still lands on the oracle."""
    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=6)
    hi = pc.max(log["lsn"]).as_py()

    assert main(
        ["--warehouse", wh, "--specs", specdir, "--compact-log", str(hi // 2)]
    ) == 0
    (r,) = _out_lines(capsys)
    assert r["log_segments_compacted"] >= 2
    assert r["log_rows_netted_away"] > 0

    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    got = spark_sorted_pdf(mgr.table(spec).read())
    assert_tables_equal(got, duck_final_state(f"{logdir}/*.parquet"))


def test_maintenance_build_blooms_flag(setup, capsys):
    """--build-blooms commits per-file bloom stats (after --optimize, so
    the filters cover the rewritten layout) and point_lookup prunes."""
    log, logdir, specdir, wh, spec = setup
    write_log(log, logdir, n_files=4)
    assert main(["--warehouse", wh, "--specs", specdir]) == 0
    capsys.readouterr()

    rc = main(
        ["--warehouse", wh, "--specs", specdir, "--optimize",
         "--build-blooms", "text"]
    )
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    doc = json.loads(out[-1])
    assert doc["bloom_files"] > 0 and doc["bloom_cols"] == ["text"]

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark

    mgr = DataLoadManager(get_spark("rdl-tests"), wh)
    t = mgr.table(spec)
    assert t.current_manifest()["kind"] == "blooms"
    probe = t.read().orderBy("conv_id", "turn_idx").first()["text"]
    rep = t.bloom_prune_report("text", [probe])
    assert rep["files_skipped"] > 0, rep
    assert t.point_lookup("text", [probe]).count() >= 1
