"""The closed-loop ingest workloads: one caller, each operation starts after
the previous one completes.

A run repeats whole cycles of identical operations: a poll cycle starts
from an empty work directory and replays the same seeded log slice; a
stream cycle is one compaction cycle of deliveries into the same stream.
So the mix of operations, compactions and reads among them, is the same in
every run, however many cycles fit into ``--seconds``.
"""

from __future__ import annotations

import itertools
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from ingestbench import oracle
from ingestbench.changelog import write_segment
from ingestbench.measure import Recorder, Sample

BUCKETS = 16
HEAD_FILES = 4             # the log head arrives as this many files
POLLS_PER_CYCLE = 2        # poll_mor compacts on a cycle's last poll
SEGS_PER_POLL = 2          # log segments one poll exposes
REDELIVER_EVERY = 3        # every 3rd segment is followed by a redelivery
STREAM_READ_EVERY = 4      # stream: MoR compaction and reads every 4th trigger
STREAM_READS = 2           # scan + lookup pairs at that point, for samples
STREAM_WARM_STEPS = 6      # warm-up deliveries: one compaction, two reads;
                           # each timed cycle then compacts on its 2nd trigger
HOT_KEYS = 4               # lookup batch: the first 4 (hot) conv ids ...
COLD_KEYS = 4              # ... and 4 seeded ones from the cold range
WARM_HEAD_EVENTS = 10_000  # the poll warm-up cycle's smaller head
WARM_CYCLES = 2            # whole poll cycles after it, untimed


@dataclass
class Workload:
    name: str
    why: str
    merge_mode: str
    stream: bool = False


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "poll_cow",
            "RDL's scheduled poll loop on a copy-on-write table: each poll "
            "rewrites every bucket, so the merge does most of the work",
            "cow",
        ),
        Workload(
            "poll_mor",
            "the same polls on merge-on-read: writes cost O(batch), scans "
            "pay the delta fold, and every 2nd poll compacts",
            "mor",
        ),
        Workload(
            "stream_redelivery",
            "availableNow drain into a fresh merge-on-read table, one segment "
            "per trigger, some delivered twice: fixed per-epoch costs dominate",
            "mor",
            stream=True,
        ),
    ]
}


@dataclass
class Context:
    spark: object
    rec: Recorder
    work: str
    keys: list[str]
    tracer: object = None
    gauges: dict[str, list[float]] = field(default_factory=dict)
    write_amp: list[tuple[int, int]] = field(default_factory=list)
    cycles: int = 0
    last_table: object = None   # the last cycle's table, for the oracle
    twin: tuple = ()            # stream workload: (batch twin table, its log)
    stream: object = None       # stream workload: the StreamRun in progress

    def gauge(self, name: str, value: float) -> None:
        if self.tracer is not None and self.tracer.recording:
            self.gauges.setdefault(name, []).append(value)

    def fresh_dir(self) -> str:
        d = os.path.join(self.work, "cycle")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def lookup_keys(seed: int, n_convs: int) -> list[str]:
    """The fixed lookup batch: hot conv ids (changelog puts 30% of events on
    the first 1%) and cold ones drawn from ``seed``."""
    n_hot = max(n_convs // 100, 1)
    cold = np.random.default_rng(seed + 1).choice(
        np.arange(n_hot, n_convs), COLD_KEYS, replace=False)
    return [f"conv_{i:08d}" for i in [*range(HOT_KEYS), *sorted(cold)]]


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _spec(src: str, mode: str, compact_files: int):
    from relational_data_loader_spark.spec import transcripts_spec

    extra = {"merge_mode": "mor", "mor_compact_files": compact_files} if mode == "mor" else {}
    return transcripts_spec(source=f"parquet://{src}", target_buckets=BUCKETS, **extra)


def _expect(result, kind: str):
    if result.skipped or result.decision.kind != kind:
        raise RuntimeError(
            f"expected an applied {kind}, got {result.decision.kind} "
            f"(skipped={result.skipped}, reasons={result.decision.reasons})"
        )
    return result


def _read_ops(ctx: Context, table) -> None:
    """One full scan to the noop sink, then one lookup batch."""
    rec = ctx.rec
    if ctx.tracer is not None and ctx.tracer.recording:
        m = table.current_manifest() or {}
        ctx.gauge("sinks.snapshot.delta_files_pending",
                  sum(len(fs) for fs in (m.get("deltas") or {}).values()))
        ctx.gauge("sinks.snapshot.read.files", table.prune_report("conv_id")["files_read"])
    rec.op("scan", lambda: table.read().write.format("noop").mode("overwrite").save())
    rec.op("lookup", lambda: table.read_keys(ctx.keys).collect())


def _manifest_gauges(ctx: Context, table_dir: str) -> None:
    mdir = os.path.join(table_dir, "_manifests")
    latest = max(n for n in os.listdir(mdir) if n.startswith("v"))
    ctx.gauge("sinks.snapshot.manifest_bytes", os.path.getsize(os.path.join(mdir, latest)))


def poll_cycle(ctx: Context, mode: str, head: pa.Table, segs: list[pa.Table]) -> pa.Table:
    """Full refresh of ``head``, then POLLS_PER_CYCLE polls, each exposing
    SEGS_PER_POLL new segments, with a scan and a lookup batch after each.
    On MoR the cycle's last poll compacts.
    Returns the change log the cycle applied."""
    from relational_data_loader_spark.plans.manager import DataLoadManager

    d = ctx.fresh_dir()
    src, wh = os.path.join(d, "log"), os.path.join(d, "wh")
    step = -(-head.num_rows // HEAD_FILES)
    for i in range(HEAD_FILES):
        write_segment(head.slice(i * step, step), src, f"head-{i:04d}.parquet")
    spec = _spec(src, mode, POLLS_PER_CYCLE)
    mgr = DataLoadManager(ctx.spark, wh)
    rec = ctx.rec
    rec.op("full_load", lambda: _expect(mgr.run(spec), "full_refresh"), head.num_rows)
    table = mgr.table(spec)
    wh_before, _ = dir_usage(wh)
    log_bytes = 0
    applied = [head]
    for p in range(POLLS_PER_CYCLE):
        batch = segs[p * SEGS_PER_POLL:(p + 1) * SEGS_PER_POLL]
        for j, seg in enumerate(batch):
            log_bytes += write_segment(seg, src, f"seg-{p:04d}-{j:02d}.parquet")
        applied += batch
        events = sum(s.num_rows for s in batch)
        traced = ctx.tracer is not None and ctx.tracer.recording
        if traced:
            b0, f0 = dir_usage(wh)
        rec.op("apply", lambda: _expect(mgr.run(spec), "incremental"), events)
        if traced:
            b1, f1 = dir_usage(wh)
            ctx.gauge("epoch.bytes_written", b1 - b0)
            ctx.gauge("epoch.files_written", f1 - f0)
            _manifest_gauges(ctx, table.path)
        _read_ops(ctx, table)
    wh_after, _ = dir_usage(wh)
    ctx.write_amp.append((wh_after - wh_before, log_bytes))
    ctx.gauge("state.files", len(os.listdir(os.path.join(wh, "_rdl_state"))))
    ctx.cycles += 1
    ctx.last_table = table
    return pa.concat_tables(applied)


def deliveries(segs: list[pa.Table]):
    """Segments in delivery order; every REDELIVER_EVERY-th one is followed
    by a second delivery of its predecessor (at-least-once redelivery)."""
    for i, seg in enumerate(segs):
        yield seg
        if i % REDELIVER_EVERY == REDELIVER_EVERY - 1:
            yield segs[i - 1]


class StreamRun:
    """One Structured Streaming ingest into a fresh table, fed one segment
    at a time: each ``deliver()`` moves the next segment (or a redelivery)
    into the source directory and drains it with one availableNow run of one
    trigger. After every STREAM_READ_EVERY-th trigger, counted from the
    second, STREAM_READS scans and lookup batches run on the table (which
    then always holds two pending MoR deltas per bucket); after every second
    trigger the
    first STREAM_READ_EVERY deliveries are full-refreshed by the batch
    manager into a second, fresh table. The warm-up and the timed phase
    deliver into the same stream."""

    def __init__(self, ctx: Context, mode: str, segs: list[pa.Table]) -> None:
        from relational_data_loader_spark.plans.manager import DataLoadManager
        from relational_data_loader_spark.streaming.runner import StreamingIngest

        self.ctx = ctx
        self.d = d = ctx.fresh_dir()
        self.src, self.wh = os.path.join(d, "log"), os.path.join(d, "wh")
        os.makedirs(self.src)
        twin_src = os.path.join(d, "twin-log")
        spec = _spec(self.src, mode, STREAM_READ_EVERY)
        self.twin_spec = _spec(twin_src, mode, STREAM_READ_EVERY)
        self.ingest = StreamingIngest(DataLoadManager(ctx.spark, self.wh), spec,
                                      os.path.join(d, "ckpt"), max_files_per_trigger=1)
        self.table = self.ingest.mgr.table(spec)
        self.queue = deliveries(segs)
        twin_log = list(itertools.islice(deliveries(segs), STREAM_READ_EVERY))
        for i, seg in enumerate(twin_log):
            write_segment(seg, twin_src, f"seg-{i:05d}.parquet")
        self.twin_log = pa.concat_tables(twin_log)
        self.n = 0
        self.log_bytes = 0
        self.distinct: list[pa.Table] = []

    def _drain(self):
        q = self.ingest.start(available_now=True)
        q.awaitTermination()
        return q

    def deliver(self) -> None:
        ctx, rec, i = self.ctx, self.ctx.rec, self.n
        seg = next(self.queue)
        name = f"seg-{i:05d}.parquet"
        self.log_bytes += write_segment(seg, os.path.join(self.d, "stage"), name)
        traced = ctx.tracer is not None and ctx.tracer.recording
        if traced:
            b0, f0 = dir_usage(self.wh)
        # a file appears in the source directory whole, never half-written
        os.rename(os.path.join(self.d, "stage", name), os.path.join(self.src, name))
        rec.attempted += 1
        try:
            q, step = rec.measure("drain", self._drain)
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(progress) != 1 or progress[0]["numInputRows"] != seg.num_rows:
                raise RuntimeError(f"delivery {i}: expected one trigger of {seg.num_rows} "
                                   f"rows, got {[p['numInputRows'] for p in progress]}")
        except Exception:
            rec.failed += 1
            raise
        p = progress[0]
        rec.add("apply", Sample(p["durationMs"]["triggerExecution"] / 1000.0,
                                step.jvm_s, step.driver_s, seg.num_rows))
        if traced:
            for k in ("walCommit", "commitOffsets", "latestOffset", "addBatch"):
                ctx.gauge(f"stream.{k}_ms", p["durationMs"].get(k, 0))
            b1, f1 = dir_usage(self.wh)
            ctx.gauge("epoch.bytes_written", b1 - b0)
            ctx.gauge("epoch.files_written", f1 - f0)
            _manifest_gauges(ctx, self.table.path)
        if not any(seg is s for s in self.distinct):
            self.distinct.append(seg)
        self.n += 1
        if i % STREAM_READ_EVERY == 1:
            for _ in range(STREAM_READS):
                _read_ops(ctx, self.table)
        if i % 2 == 1:
            self._twin_full_load()

    def _twin_full_load(self) -> None:
        from relational_data_loader_spark.plans.manager import DataLoadManager

        twin_dir = os.path.join(self.d, "twin")
        shutil.rmtree(twin_dir, ignore_errors=True)
        twin = DataLoadManager(self.ctx.spark, twin_dir)
        self.ctx.rec.op("full_load", lambda: _expect(twin.run(self.twin_spec), "full_refresh"),
                        self.twin_log.num_rows)
        self.ctx.twin = (twin.table(self.twin_spec), self.twin_log)


def check(ctx: Context, applied: pa.Table) -> dict:
    """The correctness op: the last cycle's visible table (and, on the
    stream workload, the last batch twin) against the DuckDB fold of what
    each was given."""
    pairs = [(applied, ctx.last_table)]
    if ctx.twin:
        twin_table, twin_log = ctx.twin
        pairs.append((twin_log, twin_table))
    results = [oracle.check(log, t.read().toArrow()) for log, t in pairs]
    ctx.rec.attempted += 1
    if not all(r["ok"] for r in results):
        ctx.rec.failed += 1
    return {"ok": all(r["ok"] for r in results), "tables": results}


def run_cycle(ctx: Context, wl: Workload, head: pa.Table, segs: list[pa.Table]) -> pa.Table:
    """One timed cycle of ``wl``; every cycle holds the same operations (on
    the stream: STREAM_READ_EVERY deliveries, so one compaction and one
    read). Returns the change log the checked table was given."""
    if not wl.stream:
        return poll_cycle(ctx, wl.merge_mode, head, segs)
    run = ctx.stream
    b0, n0 = dir_usage(run.wh)[0], run.log_bytes
    for _ in range(STREAM_READ_EVERY):
        run.deliver()
    ctx.write_amp.append((dir_usage(run.wh)[0] - b0, run.log_bytes - n0))
    ctx.gauge("state.files", len(os.listdir(os.path.join(run.wh, "_rdl_state"))))
    ctx.cycles += 1
    ctx.last_table = run.table
    return pa.concat_tables(run.distinct)


def warm_up(ctx: Context, wl: Workload, head: pa.Table, segs: list[pa.Table]) -> None:
    """Untimed: the workload's plan shapes, compaction and reads included.
    A cold JVM runs the first full refresh several times slower than a warm
    one, and each of the next poll cycles still costs about a tenth more CPU
    than the one after it, so the poll warm-up runs a small-head cycle and
    then WARM_CYCLES whole ones; the stream's first deliveries are its
    warm-up."""
    if wl.stream:
        ctx.stream = StreamRun(ctx, wl.merge_mode, segs)
        for _ in range(STREAM_WARM_STEPS):
            ctx.stream.deliver()
    else:
        poll_cycle(ctx, wl.merge_mode, head.slice(0, WARM_HEAD_EVENTS), segs)
        for _ in range(WARM_CYCLES):
            poll_cycle(ctx, wl.merge_mode, head, segs)
