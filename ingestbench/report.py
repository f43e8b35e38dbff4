"""Metric definitions and their computation from a run's samples and spans.

BENCHMARK.json lists exactly ``E2E`` and ``PER_LAYER``; a test keeps the two
in step.
"""

from __future__ import annotations

from ingestbench.measure import Recorder, median, tail_percentile
from ingestbench.trace import LAYERS, Span, inclusive_jobs, self_ms

# name, unit, better, bound. Only costs that a busy neighbour on a shared
# host barely moves are bounded: the CPU each operation burns, bytes
# written, and set-up time (the largest bound). Wall times swing with the
# host: on a 4-vCPU VM, back-to-back poll_cow runs read a median poll of
# 1.3 s with 0.6 s of steal time and 3.5 s with 60 s of it, the slowdown
# lasting whole runs, so no in-run median evens it out. They are
# printed and kept in the artifact (``WALL``) and, per layer, as
# ``bench.*.ms``.
E2E = [
    ("setup_s", "s", "lower", 0.25),
    ("full_load_cpu_us_per_event", "us", "lower", 0.25),
    ("apply_cpu_us_per_event", "us", "lower", 0.25),
    ("scan_cpu_ms", "ms", "lower", 0.25),
    ("lookup_cpu_ms", "ms", "lower", 0.25),
    ("write_amp", "ratio", "lower", 0.1),
]
# name, unit: wall-time results, reported without a bound
WALL = [
    ("full_load_events_per_s", "1/s"),
    ("apply_events_per_s", "1/s"),
    ("apply_p50_ms", "ms"),
    ("scan_p50_ms", "ms"),
    ("lookup_p50_ms", "ms"),
]

BENCH_SPANS = ["bench.full_load", "bench.apply", "bench.drain", "bench.scan", "bench.lookup"]
SPANNED = LAYERS + BENCH_SPANS
GAUGES = [
    ("epoch.bytes_written", "bytes"),
    ("epoch.files_written", "count"),
    ("sinks.snapshot.manifest_bytes", "bytes"),
    ("sinks.snapshot.delta_files_pending", "count"),
    ("sinks.snapshot.read.files", "count"),
    ("state.files", "count"),
    ("stream.walCommit_ms", "ms"),
    ("stream.commitOffsets_ms", "ms"),
    ("stream.latestOffset_ms", "ms"),
    ("stream.addBatch_ms", "ms"),
]
# name, unit (all per-layer metrics are better lower)
PER_LAYER = (
    [("session.get_spark.ms", "ms")]
    + [(f"{n}.{k}", u) for n in SPANNED
       for k, u in (("ms", "ms"), ("self_ms", "ms"), ("calls", "count"), ("jobs", "count"))]
    + [("plans.run.jobs_max", "count")]
    + GAUGES
    + [("cpu.jvm_s", "s"), ("cpu.jit_s", "s"), ("cpu.gc_s", "s"), ("cpu.driver_s", "s")]
)


def e2e(rec: Recorder, setup_s: float, write_amp: list[tuple[int, int]]) -> dict:
    """Every E2E metric; the WALL results, apply count, tail percentile and
    failed share go to ``extra``. Per-operation costs are medians over the
    run's operations of that kind."""
    full, apply = rec.get("full_load"), rec.get("apply")
    scan, lookup = rec.get("scan"), rec.get("lookup")
    wall = [s.wall_s * 1000 for s in apply]
    tail = tail_percentile(wall)
    vals = {
        "setup_s": setup_s,
        "full_load_cpu_us_per_event": median([s.cpu_s / s.events * 1e6 for s in full]),
        "apply_cpu_us_per_event": median([s.cpu_s / s.events * 1e6 for s in apply]),
        "scan_cpu_ms": median([s.cpu_s * 1000 for s in scan]),
        "lookup_cpu_ms": median([s.cpu_s * 1000 for s in lookup]),
        "write_amp": sum(b for b, _ in write_amp) / sum(l for _, l in write_amp),
    }
    extra = {
        "full_load_events_per_s": median([s.events / s.wall_s for s in full]),
        "apply_events_per_s": sum(s.events for s in apply) / sum(s.wall_s for s in apply),
        "apply_p50_ms": median(wall),
        "scan_p50_ms": median([s.wall_s * 1000 for s in scan]),
        "lookup_p50_ms": median([s.wall_s * 1000 for s in lookup]),
        "apply_n": len(wall),
        "apply_tail_ms": None if tail is None else {"percentile": round(tail[0], 1),
                                                    "value": tail[1], "n": len(wall)},
        "failed_op_share": rec.failed / max(rec.attempted, 1),
    }
    return {"metrics": vals, "extra": extra}


def layers(spans: list[Span], applies: int, gauges: dict[str, list[float]],
           get_spark_ms: float, cpu_jvm_s: float, cpu_jit_s: float,
           cpu_gc_s: float, cpu_driver_s: float) -> dict:
    """Every PER_LAYER metric: per traced name the median wall and self ms per
    call, calls per apply and the median Spark jobs per call (its own and its
    children's)."""
    selfs = self_ms(spans)
    jobs = inclusive_jobs(spans)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    out = {"session.get_spark.ms": get_spark_ms}
    for n in SPANNED:
        ss = by_name.get(n, [])
        out[f"{n}.ms"] = median([s.ms for s in ss]) if ss else 0.0
        out[f"{n}.self_ms"] = median([selfs[s.sid] for s in ss]) if ss else 0.0
        out[f"{n}.calls"] = len(ss) / applies
        out[f"{n}.jobs"] = median([jobs[s.sid] for s in ss]) if ss else 0.0
    out["plans.run.jobs_max"] = max((jobs[s.sid] for s in by_name.get("plans.run", [])), default=0)
    for n, _ in GAUGES:
        out[n] = median(gauges[n]) if gauges.get(n) else 0.0
    out["cpu.jvm_s"] = cpu_jvm_s / applies
    out["cpu.jit_s"] = cpu_jit_s / applies
    out["cpu.gc_s"] = cpu_gc_s / applies
    out["cpu.driver_s"] = cpu_driver_s / applies
    return out


def layer_table(values: dict) -> str:
    """Markdown per-layer table, one row per traced name."""
    rows = ["| layer | calls/apply | ms p50 | self ms p50 | jobs p50 |",
            "| --- | ---: | ---: | ---: | ---: |"]
    for n in SPANNED:
        rows.append(
            f"| {n} | {values[f'{n}.calls']:.2f} | {values[f'{n}.ms']:.1f} "
            f"| {values[f'{n}.self_ms']:.1f} | {values[f'{n}.jobs']:g} |"
        )
    rows.append("")
    rows += [f"- {n}: {values[n]:g}" for n, _ in
             [("session.get_spark.ms", "ms"), ("plans.run.jobs_max", "count")] + GAUGES
             + [("cpu.jvm_s", "s"), ("cpu.jit_s", "s"), ("cpu.gc_s", "s"),
                ("cpu.driver_s", "s")]]
    return "\n".join(rows) + "\n"
