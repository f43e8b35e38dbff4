#!/usr/bin/env python3
"""rdl-spark ingest benchmark: one workload, one seed, one run.

    python3 ingestbench/run.py --workload poll_cow --seed 1 --seconds 8 --trace 0

Run from the repository root. Set-up starts a ``local[n]`` session
(n = min(2, usable cpus)), generates the seeded change log and runs one untimed
warm-up; then whole cycles of the workload run until ``--seconds`` have
passed, and the last cycle's table is checked against the DuckDB LWW
oracle. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` installs the layer spans and prints the per-layer metrics.
The last stdout line is the JSON result; artifacts (window stamp, session
settings, per-layer table, spans) go to ``.ingestbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ingestbench import report, workloads  # noqa: E402
from ingestbench.changelog import change_log, split  # noqa: E402
from ingestbench.measure import JvmCpu, Recorder, Window, driver_cpu_s, process_age_s  # noqa: E402

HEAD_EVENTS = 100_000
SEG_EVENTS = 5_000
N_SEGS = 40  # more than a stream run delivers in 60 s
DRIVER_MEM = "2g"
# Spark task threads. On a 4-vCPU host this leaves CPUs to the JIT compiler
# threads (busy for minutes after start), GC and the Python driver; with
# local[4] they all compete, and CPU per operation read higher and spread
# twice as wide across seeds.
CORES = 2
# fixed JIT compiler threads: a dynamically started one that exits between
# two readings would take its CPU out of the JIT share (measure.JvmCpu)
JVM_OPTS = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"


def start_session(work: str) -> tuple[object, dict]:
    """A local session sized for a small shared host, everything it writes
    kept under ``work``."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["RDL_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from relational_data_loader_spark.session import get_spark

    cores = min(CORES, len(os.sched_getaffinity(0)))
    extra = {
        "spark.ui.showConsoleProgress": "false",
        # job groups of every span must survive until they are counted
        "spark.ui.retainedJobs": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
    }
    spark = get_spark("ingestbench", master=f"local[{cores}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    conf = {
        "master": f"local[{cores}]",
        "RDL_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        **extra,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir=<work>/tmp {JVM_OPTS}",
    }
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    window = Window()
    wl = workloads.WORKLOADS[args.workload]

    out_dir = os.path.join(ROOT, ".ingestbench", "out")
    work = os.path.join(ROOT, ".ingestbench", "work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    # the engine must import before anything is measured: without it there
    # is nothing to benchmark and the run fails here
    import relational_data_loader_spark.plans.manager  # noqa: F401

    t0 = time.perf_counter()
    spark, session_conf = start_session(work)
    get_spark_ms = (time.perf_counter() - t0) * 1000
    try:
        jvm = JvmCpu(int(spark._jvm.java.lang.ProcessHandle.current().pid()))

        n_events = HEAD_EVENTS + N_SEGS * SEG_EVENTS
        n_convs = n_events // 100
        head, segs = split(change_log(args.seed, n_events, n_convs), HEAD_EVENTS, SEG_EVENTS)

        tracer = None
        if args.trace:
            from ingestbench.trace import Tracer, install

            tracer = Tracer(spark.sparkContext)
            install(tracer)
        ctx = workloads.Context(spark, Recorder(jvm, tracer), work,
                                workloads.lookup_keys(args.seed, n_convs), tracer)
        t1 = time.perf_counter()
        workloads.warm_up(ctx, wl, head, segs)
        warm_up_s = time.perf_counter() - t1
        rec = Recorder(jvm, tracer)
        ctx.rec, ctx.cycles, ctx.write_amp = rec, 0, []

        setup_s = process_age_s() - window.probe_s
        if tracer is not None:
            tracer.recording = True
        cpu0 = (*jvm.read(), driver_cpu_s())
        deadline = time.perf_counter() + args.seconds
        applied, error = None, None
        try:
            while True:
                applied = workloads.run_cycle(ctx, wl, head, segs)
                if time.perf_counter() >= deadline:
                    break
        except Exception:
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        cpu1 = (*jvm.read(), driver_cpu_s())
        if tracer is not None:
            tracer.recording = False
            tracer.count_jobs()

        if error is None:
            verdict = workloads.check(ctx, applied)
        else:
            rec.attempted += 1
            rec.failed += 1
            verdict = {"ok": False, "error": error.strip().splitlines()[-1]}
        result = report.e2e(rec, setup_s, ctx.write_amp) if rec.get("apply") else {
            "metrics": {}, "extra": {}}
        layer_vals = None
        if tracer is not None and rec.get("apply"):
            layer_vals = report.layers(
                tracer.spans, len(rec.get("apply")), ctx.gauges, get_spark_ms,
                *(b - a for a, b in zip(cpu0, cpu1)),
            )
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    artifact = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": ctx.cycles, "session": session_conf,
        "setup_parts_s": {"get_spark": get_spark_ms / 1000, "warm_up": warm_up_s},
        "window": window.close(), "oracle": verdict,
        "attempted": rec.attempted, "failed": rec.failed,
        "e2e": result["metrics"], "e2e_extra": result["extra"],
        "samples": {k: [[v.wall_s, v.jvm_s, v.driver_s, v.events] for v in vs]
                    for k, vs in rec.samples.items()},
        "sizes": {"head_events": HEAD_EVENTS, "seg_events": SEG_EVENTS,
                  "segs_per_poll": workloads.SEGS_PER_POLL,
                  "polls_per_cycle": workloads.POLLS_PER_CYCLE,
                  "stream_read_every": workloads.STREAM_READ_EVERY,
                  "buckets": workloads.BUCKETS, "lookup_keys": ctx.keys},
    }
    if layer_vals is not None:
        artifact["layers"] = layer_vals
        untraced = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            ours = {**result["metrics"], **result["extra"]}
            base = {**base["e2e"], **base["e2e_extra"]}
            artifact["tracing_overhead"] = {
                k: ours[k] - base[k] for k in [n for n, *_ in report.E2E + report.WALL]
                if finite(ours.get(k)) is not None and finite(base.get(k)) is not None}
        with open(os.path.join(out_dir, f"layers-{tag}.md"), "w") as f:
            f.write(f"# {wl.name} seed {args.seed}: per-layer table (traced run)\n\n")
            f.write(report.layer_table(layer_vals))
        with open(os.path.join(out_dir, f"spans-{tag}.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    if args.trace:
        specs, values = report.PER_LAYER, layer_vals or {}
    else:
        specs = [(n, u) for n, u, _, _ in report.E2E]
        values = result["metrics"]
    metrics = {n: {"value": finite(values.get(n)), "unit": u} for n, u in specs}
    print(f"{wl.name} seed={args.seed} cycles={ctx.cycles} oracle={verdict['ok']} "
          f"window={json.dumps(artifact['window'])}")
    print(f"session={json.dumps(session_conf)}")
    tail = result["extra"].get("apply_tail_ms")
    print(f"apply_tail_ms: {tail}" if tail else
          f"apply_tail_ms: n/a ({result['extra'].get('apply_n', 0)} applies, needs > 10)")
    print(f"failed_op_share: {rec.failed / max(rec.attempted, 1)} "
          f"({rec.failed} of {rec.attempted} operations)")
    if "tracing_overhead" in artifact:
        print("tracing overhead (traced - untraced): " + json.dumps(artifact["tracing_overhead"]))
    for n, m in metrics.items():
        print(f"  {n} = {m['value']} {m['unit']}")
    if not args.trace:
        for n, u in report.WALL:
            print(f"  {n} = {result['extra'].get(n)} {u} (wall time, no bound)")
    print(json.dumps({"correct": bool(verdict["ok"]) and rec.failed == 0,
                      "attempted": rec.attempted, "failed": rec.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
