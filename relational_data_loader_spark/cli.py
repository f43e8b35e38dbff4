"""CLI — the ``spark-submit --py-files`` entry point.

Reference: ``rdl.py <src-conn> <dst-conn> <config-folder> [--log-level]
[--force-full-refresh-models m1,m2|'*']``
(``modules/RelationalDataLoader.py::main`` — SURVEY.md §2.1 C4).

Ours:
    spark-submit --py-files rdl_spark.zip -m relational_data_loader_spark.cli \
        --warehouse /lake/wh --specs ./specs/ [--force-full-refresh '*'] \
        [--stream --checkpoint /lake/ckpt] [--master local[32]]

Each ``*.json`` file in --specs is one IngestSpec (the reference's model
config folder). Batch mode runs each spec once (poll-style); --stream keeps
a resident Structured Streaming query per spec.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="rdl-spark", description=__doc__)
    p.add_argument("--warehouse", required=True, help="destination table root")
    p.add_argument("--specs", required=True, help="folder of *.json ingest specs")
    p.add_argument(
        "--force-full-refresh",
        default="",
        help="comma-separated spec names, or '*' for all",
    )
    p.add_argument("--stream", action="store_true", help="run resident streams")
    p.add_argument(
        "--once",
        action="store_true",
        help="with --stream: drain what's in the log (availableNow) and exit "
        "— the reference's poll-style run",
    )
    p.add_argument("--checkpoint", default=None, help="streaming checkpoint root")
    p.add_argument(
        "--expire-tombstones-below",
        type=int,
        default=None,
        metavar="LSN",
        help="maintenance: drop tombstone rows with lsn <= LSN from every "
        "spec's table (safe once no out-of-order event older than LSN can "
        "still arrive), then exit",
    )
    p.add_argument(
        "--vacuum",
        action="store_true",
        help="maintenance: expire superseded data files (snapshot sink) / "
        "old snapshots (iceberg), then exit. Never-referenced orphans "
        "(crash/race leftovers) are reclaimed only past a 1-day age gate "
        "so a concurrent writer's in-flight commit is never collected",
    )
    p.add_argument(
        "--publish-group",
        default=None,
        metavar="NAME",
        help="maintenance: atomically publish branch NAME across EVERY spec "
        "that has it staged — one cross-table transaction (group journal + "
        "consistent-cut record; plans/txn.py), unlike --publish-branch "
        "which moves each table independently. Exit 1 on conflict "
        "(compensated) — re-stage and retry.",
    )
    p.add_argument(
        "--recover-groups",
        action="store_true",
        help="maintenance: settle crashed cross-table publishes from their "
        "group journals (roll forward iff the first participant landed, "
        "else abort leaving branches staged), then exit",
    )
    p.add_argument(
        "--clone-to",
        default=None,
        metavar="DIR",
        help="maintenance: clone each spec's table into DIR/<name> "
        "(snapshot sink only), then exit. Shallow by default — zero-copy "
        "metadata referencing the source's files (see --clone-mode)",
    )
    p.add_argument(
        "--clone-mode",
        default="shallow",
        choices=("shallow", "deep"),
        help="with --clone-to: shallow = zero-copy references (source "
        "vacuum retention must outlive the clone); deep = byte-copied, "
        "fully isolated",
    )
    p.add_argument(
        "--compact-deltas",
        action="store_true",
        help="maintenance: fold every pending merge-on-read delta file back "
        "into its bucket's base files (content-neutral; clears the table's "
        "read amplification), then exit (snapshot sink only)",
    )
    p.add_argument(
        "--optimize",
        action="store_true",
        help="maintenance: sort-compact every bucket to one PK-sorted file "
        "(snapshot sink) / sort rewrite_data_files (iceberg), then exit",
    )
    p.add_argument(
        "--maintenance-report",
        action="store_true",
        help="maintenance: print each table's layout-health report "
        "(bucket sizes/skew from manifest metadata, zero data reads) with "
        "optimize/rebucket recommendations, then exit (snapshot sink only)",
    )
    p.add_argument(
        "--rollback-to",
        type=int,
        default=None,
        metavar="VERSION",
        help="maintenance: restore each spec's table to an earlier "
        "committed version by committing a duplicate manifest (the repair "
        "half of --fsck; watermark/epochs revert with it, so the next "
        "batch run re-ingests the tail exactly-once), then exit "
        "(snapshot sink only)",
    )
    p.add_argument(
        "--fsck",
        action="store_true",
        help="maintenance: verify every data file the current manifest "
        "references against its commit-time size + parquet-footer row "
        "count (footer reads only), then exit — rc 3 if any table has "
        "missing or corrupt files (snapshot sink only)",
    )
    p.add_argument(
        "--replay-dlq",
        action="store_true",
        help="maintenance: re-admit dead-lettered rows (lossy casts "
        "quarantined under on_cast_error='quarantine') through the "
        "version-guarded merge under the CURRENT spec — run after a "
        "widen/transform fix; rows that still fail stay retained",
    )
    p.add_argument(
        "--compact-log",
        type=int,
        default=None,
        metavar="BELOW_LSN",
        help="maintenance: compact each spec's SOURCE change log below the "
        "given lsn to its netted winners (Kafka log-compaction analog — "
        "delete tombstones kept, whole segments only, write-first crash "
        "ordering; replay-equivalent under LWW), then exit "
        "(parquet:// sources only)",
    )
    p.add_argument(
        "--rebucket",
        type=int,
        default=None,
        metavar="N",
        help="maintenance: rewrite the table into N hash buckets (layout "
        "evolution for tables that outgrew target_buckets; snapshot sink "
        "only — PK-sorted rewrite, state/epochs/watermark preserved), "
        "then exit",
    )
    p.add_argument(
        "--zorder",
        default=None,
        metavar="COL1,COL2",
        help="with --optimize: order rows inside each bucket by a Morton "
        "code over these columns instead of the PK sort (multi-column "
        "row-group pruning; snapshot sink only)",
    )
    p.add_argument(
        "--check-compat",
        action="store_true",
        help="maintenance (dry run): validate each spec against its "
        "table's STORED spec under the spec's declared compat_level and "
        "print the violations, loading nothing — the CI pre-flight for a "
        "spec change (rc 3 if any spec would be rejected)",
    )
    p.add_argument(
        "--build-blooms",
        default=None,
        metavar="COL1,COL2",
        help="maintenance: compute per-file bloom filters over these "
        "columns and commit them as manifest stats (point_lookup pruning "
        "on non-bucket-key columns; snapshot sink only). Runs after "
        "--optimize so the filters cover the rewritten files",
    )
    p.add_argument(
        "--branch",
        default=None,
        metavar="NAME",
        help="batch mode: stage every spec's load onto a WAP branch "
        "instead of main (write-audit-publish; snapshot sink only). Audit "
        "the staged state, then --publish-branch NAME to make it live or "
        "--drop-branch NAME to abandon it",
    )
    p.add_argument(
        "--publish-branch",
        default=None,
        metavar="NAME",
        help="maintenance: fast-forward each spec's table to branch NAME's "
        "staged head and delete the branch (rc 3 if any table refuses — "
        "main advanced past the fork point), then exit",
    )
    p.add_argument(
        "--drop-branch",
        default=None,
        metavar="NAME",
        help="maintenance: abandon branch NAME on each spec's table "
        "(staged files reclaimed by the next --vacuum), then exit",
    )
    p.add_argument(
        "--commit-retries",
        type=int,
        default=0,
        metavar="N",
        help="batch loads: retry up to N ADDITIONAL times when another "
        "writer wins the manifest-commit race (each retry re-plans "
        "against the winner's version; default 0 = fail on first "
        "conflict, the single-writer posture)",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--log-level", default="WARN")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from relational_data_loader_spark.plans.manager import DataLoadManager
    from relational_data_loader_spark.session import get_spark
    from relational_data_loader_spark.spec import IngestSpec

    spark = get_spark("rdl-spark", master=args.master)
    spark.sparkContext.setLogLevel(args.log_level)
    mgr = DataLoadManager(spark, args.warehouse)

    spec_files = sorted(glob.glob(os.path.join(args.specs, "*.json")))
    if not spec_files:
        print(f"no *.json specs in {args.specs}", file=sys.stderr)
        return 2
    forced = {s.strip() for s in args.force_full_refresh.split(",") if s.strip()}

    if (
        args.expire_tombstones_below is not None
        or args.vacuum
        or args.compact_deltas
        or args.optimize
        or args.check_compat
        or args.build_blooms is not None
        or args.rebucket is not None
        or args.replay_dlq
        or args.compact_log is not None
        or args.fsck
        or args.rollback_to is not None
        or args.maintenance_report
        or args.publish_branch is not None
        or args.publish_group is not None
        or args.recover_groups
        or args.clone_to is not None
        or args.drop_branch is not None
    ):
        # one parse for every maintenance pass (the per-spec loop below
        # reuses it rather than re-reading each file)
        specs = []
        for f in spec_files:
            with open(f) as fh:
                specs.append(IngestSpec.from_json(fh.read()))
        if args.publish_group is not None or args.recover_groups:
            # cross-table passes run over the whole spec set at once,
            # before the per-spec loop below
            from relational_data_loader_spark.plans.txn import (
                GroupPublishConflict,
                publish_group,
                recover_groups,
            )

            if args.recover_groups:
                settled = recover_groups(mgr, specs)
                print(
                    json.dumps(
                        {
                            "recovered_groups": [
                                {"txid": j["txid"], "status": j["status"]}
                                for j in settled
                            ]
                        }
                    )
                )
            if args.publish_group is not None:
                members = []
                for s in specs:
                    t = mgr.table(s)
                    if (
                        hasattr(t, "list_branches")
                        and args.publish_group in t.list_branches()
                    ):
                        members.append((s, args.publish_group))
                if not members:
                    print(
                        f"[rdl-spark] no spec has branch "
                        f"{args.publish_group!r} staged",
                        file=sys.stderr,
                    )
                    return 1
                try:
                    j = publish_group(mgr, members)
                    print(
                        json.dumps(
                            {
                                "published_group": args.publish_group,
                                "txid": j["txid"],
                                "tables": {
                                    p["table"]: p["target_main_version"]
                                    for p in j["participants"]
                                },
                            }
                        )
                    )
                except GroupPublishConflict as e:
                    print(f"[rdl-spark] group publish conflict: {e}", file=sys.stderr)
                    return 1
        # maintenance mode: no load — run the requested janitorial pass per
        # spec (the reference has no analog; Iceberg deployments run these
        # as table services, the snapshot sink ships its own)
        fsck_failed = False
        for spec in specs:
            table = mgr.table(spec)
            out: dict = {"spec": spec.name}
            if args.compact_log is not None:
                # SOURCE-side pass: needs no destination table (compacting
                # before the first bootstrap is the cheapest time to do it)
                if spec.source.startswith("parquet://"):
                    from relational_data_loader_spark.sources.compaction import (
                        compact_change_log,
                    )

                    stats = compact_change_log(
                        spark,
                        spec.source[len("parquet://"):],
                        args.compact_log,
                        spec.primary_keys,
                        spec.lsn_column,
                        spec.op_column,
                    )
                    out["log_segments_compacted"] = stats["segments_consumed"]
                    out["log_rows_netted_away"] = (
                        stats["rows_in"] - stats["rows_out"]
                    )
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --compact-log is "
                        "parquet:// sources only (csv/debezium/kafka tails "
                        "compact at the broker/collector), skipping",
                        file=sys.stderr,
                    )
            if not table.exists():
                if len(out) > 1:
                    print(json.dumps(out))
                else:
                    print(
                        f"[rdl-spark] {spec.name}: no table, skipping maintenance"
                    )
                continue
            if args.publish_branch is not None:
                # publish runs FIRST: later passes (optimize/fsck/vacuum)
                # then operate on the just-published state
                if hasattr(table, "publish_branch"):
                    try:
                        m = table.publish_branch(args.publish_branch)
                        out["published_branch"] = args.publish_branch
                        out["new_version"] = m["version"]
                    except (RuntimeError, ValueError) as e:
                        out["publish_failed"] = str(e)
                        fsck_failed = True  # reuse the alerting rc
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --publish-branch is "
                        "snapshot-sink only, skipping",
                        file=sys.stderr,
                    )
            if args.drop_branch is not None:
                if hasattr(table, "drop_branch"):
                    table.drop_branch(args.drop_branch)
                    out["dropped_branch"] = args.drop_branch
            if args.expire_tombstones_below is not None:
                n = table.expire_tombstones(args.expire_tombstones_below)
                # the snapshot sink counts expired rows; Iceberg's DELETE
                # doesn't surface a count — report that honestly
                out["tombstones_expired"] = n if n is not None else "unknown"
            if args.check_compat:
                from relational_data_loader_spark.spec import IngestSpec as _IS

                stored_json = (
                    table.stored_spec_json() if table.exists() else None
                )
                if stored_json is None:
                    out["compat"] = "no stored spec (initial load)"
                else:
                    vs = spec.check_compat(_IS.from_json(stored_json))
                    out["compat_level"] = spec.compat_level
                    out["compat_violations"] = vs
                    if vs:
                        fsck_failed = True  # same alerting rc as fsck
            if args.maintenance_report:
                if hasattr(table, "maintenance_report"):
                    out["report"] = table.maintenance_report()
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --maintenance-report is "
                        "snapshot-sink only, skipping",
                        file=sys.stderr,
                    )
            if args.rollback_to is not None:
                # rollback runs FIRST: later passes (optimize/fsck) then
                # operate on the restored version
                if hasattr(table, "rollback"):
                    m = table.rollback(args.rollback_to)
                    out["rolled_back_to"] = args.rollback_to
                    out["new_version"] = m["version"]
                else:
                    # Iceberg: the version is a snapshot id
                    table.rollback_to(args.rollback_to)
                    out["rolled_back_to"] = args.rollback_to
            if args.rebucket is not None:
                if hasattr(table, "rebucket"):
                    prev = table.rebucket(args.rebucket)
                    out["rebucketed_from"] = prev
                    out["rebucketed_to"] = args.rebucket if prev else "no-op"
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --rebucket is snapshot-"
                        "sink only (Iceberg evolves partition specs via "
                        "REPLACE PARTITION FIELD), skipping",
                        file=sys.stderr,
                    )
            if args.clone_to is not None:
                if hasattr(table, "clone_to"):
                    dest = os.path.join(args.clone_to, spec.name)
                    cm = table.clone_to(dest, mode=args.clone_mode)
                    out["cloned_to"] = dest
                    out["clone_mode"] = args.clone_mode
                    out["clone_of_version"] = cm["clone_of"]["version"]
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --clone-to is snapshot-"
                        "sink only (Iceberg: CREATE TABLE ... LIKE + "
                        "snapshot ref), skipping",
                        file=sys.stderr,
                    )
            if args.compact_deltas:
                # runs before --optimize by construction (optimize would
                # auto-compact anyway; the explicit verb reports the count)
                if hasattr(table, "compact_deltas"):
                    out["delta_files_compacted"] = table.compact_deltas()
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --compact-deltas is "
                        "snapshot-sink only (Iceberg v2 compaction runs as "
                        "a rewrite_data_files service), skipping",
                        file=sys.stderr,
                    )
            if args.optimize:
                # order matters: optimize BEFORE vacuum, so the superseded
                # pre-optimize files fall out of the retention window
                zcols = [
                    c.strip() for c in (args.zorder or "").split(",") if c.strip()
                ]
                if hasattr(table, "optimize"):
                    out["files_compacted"] = table.optimize(
                        zorder_cols=zcols or None
                    )
                    if zcols:
                        out["zorder"] = zcols
                else:
                    if zcols:
                        table.zorder(zcols)
                        out["zorder"] = zcols
                    else:
                        table.compact(sort_order=", ".join(spec.primary_keys))
                    out["compacted"] = True
            if args.build_blooms is not None:
                # after --optimize by construction: a layout rewrite
                # replaces every file, and blooms key on the file path
                bcols = [
                    c.strip() for c in args.build_blooms.split(",") if c.strip()
                ]
                if hasattr(table, "build_blooms"):
                    out["bloom_files"] = table.build_blooms(bcols)
                    out["bloom_cols"] = bcols
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --build-blooms is "
                        "snapshot-sink only (Iceberg reads parquet "
                        "footer blooms natively — set write.parquet."
                        "bloom-filter-enabled.column.* instead), skipping",
                        file=sys.stderr,
                    )
            if args.replay_dlq:
                r = mgr.replay_dlq(spec)
                out["dlq_replayed"] = r.rows_upserted + r.rows_deleted
                out["dlq_replay_skipped"] = r.skipped
            if args.vacuum:
                if hasattr(table, "vacuum"):
                    out["files_vacuumed"] = table.vacuum()
                else:
                    table.expire_snapshots()
                    out["snapshots_expired"] = True
            if args.fsck:
                if hasattr(table, "fsck"):
                    # fsck runs LAST so it verifies whatever the other
                    # maintenance passes just committed
                    report = table.fsck()
                    out["fsck"] = report
                    if not report.get("ok", False):
                        fsck_failed = True
                else:
                    print(
                        f"[rdl-spark] {spec.name}: --fsck is snapshot-sink "
                        "only (Iceberg verifies via its own manifests), "
                        "skipping",
                        file=sys.stderr,
                    )
            print(json.dumps(out))
        return 3 if fsck_failed else 0

    # dependency-ordered load: parse everything first, then run topological
    # waves (plans/dag.py) — parents commit before children, and a config
    # bug (unknown dep, cycle) stops the run before ANY load starts
    from relational_data_loader_spark.plans.dag import (
        SpecDependencyError,
        blocked_dependents,
        dependency_waves,
    )

    all_specs = []
    for f in spec_files:
        with open(f) as fh:
            all_specs.append(IngestSpec.from_json(fh.read()))
    try:
        waves = dependency_waves(all_specs)
    except SpecDependencyError as e:
        print(f"[rdl-spark] spec dependency error: {e}", file=sys.stderr)
        return 2

    queries = []
    rejected = False
    failed: set[str] = set()
    for spec in (s for wave in waves for s in wave):
        # a rejected parent blocks its transitive dependents: loading them
        # anyway would commit exactly the FK-orphan window the wave
        # ordering exists to prevent
        blocked = blocked_dependents(all_specs, failed).get(spec.name)
        if blocked and not args.stream:
            print(json.dumps({"spec": spec.name, "skipped": True,
                              "blocked_by": blocked}))
            continue
        force = "*" in forced or spec.name in forced
        if args.stream:
            if args.branch:
                print(
                    "[rdl-spark] --branch is batch-only (a streaming query "
                    "owns its sink)",
                    file=sys.stderr,
                )
                return 2
            from relational_data_loader_spark.streaming.runner import StreamingIngest

            ckpt = os.path.join(
                args.checkpoint or os.path.join(args.warehouse, "_checkpoints"),
                spec.name,
            )
            if force:
                mgr.run(spec, force_full=True)
            try:
                queries.append(
                    StreamingIngest(mgr, spec, ckpt).start(available_now=args.once)
                )
            except ValueError as e:
                # refused at startup (a forbidden spec change, a fresh
                # checkpoint on a table another stream fed): the table is
                # untouched — report like a rejected epoch and start the
                # other specs' streams
                print(json.dumps({"spec": spec.name, "refused": True, "error": str(e)}))
                rejected = True
                failed.add(spec.name)
                continue
            print(f"[rdl-spark] streaming {spec.name} (checkpoint={ckpt})")
        else:
            from relational_data_loader_spark.operators.quality import (
                ExpectationFailedError,
            )

            try:
                res = mgr.run_with_retry(
                    spec,
                    # N retries = N+1 total attempts (run_with_retry counts
                    # attempts; the flag counts recoveries)
                    max_attempts=args.commit_retries + 1,
                    force_full=force,
                    branch=args.branch,
                )
            except ExpectationFailedError as e:
                # admission gate rejected the epoch: nothing committed, the
                # watermark never moved — report and keep servicing the
                # OTHER specs (one poisoned source must not stall the rest),
                # then exit nonzero so the scheduler alerts
                print(
                    json.dumps(
                        {"spec": spec.name, "rejected": True, "violations": e.violations}
                    )
                )
                rejected = True
                failed.add(spec.name)
                continue
            print(
                json.dumps(
                    {
                        "spec": spec.name,
                        "decision": res.decision.kind,
                        "reasons": res.decision.reasons,
                        "rows_upserted": res.rows_upserted,
                        "rows_deleted": res.rows_deleted,
                        "watermark": res.watermark,
                        "skipped": res.skipped,
                        "n_chunks": res.n_chunks,
                        "salt_buckets": res.salt_buckets,
                        "wall_ms": res.wall_ms,
                        "dq_violations": res.dq_violations,
                    }
                )
            )
    for q in queries:
        q.awaitTermination()
    return 3 if rejected else 0


if __name__ == "__main__":
    raise SystemExit(main())
