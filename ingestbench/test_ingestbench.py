"""Tests of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest ingestbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ingestbench import oracle, report, workloads  # noqa: E402
from ingestbench.changelog import change_log, split  # noqa: E402
from ingestbench.measure import process_cpu_s, tail_percentile, thread_cpu_s  # noqa: E402
from ingestbench.trace import GROUP_PROPS, Span, Tracer, inclusive_jobs, job_group, self_ms  # noqa: E402


# ---- tail percentile ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, percentile, value",
    [(11, 100 / 11, 1), (20, 50.0, 10), (40, 75.0, 30), (100, 90.0, 90), (1000, 99.0, 990)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, percentile, value):
    xs = list(range(n, 0, -1))  # n..1, unsorted on purpose
    p, v = tail_percentile(xs)
    assert p == pytest.approx(percentile)
    assert v == value
    assert sum(x > v for x in xs) == 10


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile(list(range(10))) is None


# ---- CPU clocks -----------------------------------------------------------------


def test_process_cpu_clock_keeps_the_time_of_exited_threads():
    # the child burns CPU in a thread that has exited by the time it is read
    code = ("import threading, time\n"
            "def burn():\n"
            "    t = time.thread_time()\n"
            "    while time.thread_time() - t < 0.3: pass\n"
            "th = threading.Thread(target=burn); th.start(); th.join()\n"
            "print(th.native_id, flush=True); time.sleep(30)\n")
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        int(child.stdout.readline())
        assert 0.3 <= process_cpu_s(child.pid) < 5
    finally:
        child.kill()
        child.wait()


def test_thread_cpu_reads_one_thread_only():
    tid = threading.get_native_id()
    t0 = thread_cpu_s(os.getpid(), tid)
    other = threading.Thread(target=lambda: sum(range(3_000_000)))
    other.start()
    other.join()
    mine = thread_cpu_s(os.getpid(), tid) - t0
    sum(range(3_000_000))
    assert thread_cpu_s(os.getpid(), tid) - t0 - mine > 5 * mine


# ---- span arithmetic ----------------------------------------------------------


def _span(sid, start, end, parent=None, jobs=0):
    return Span(sid, f"s{sid}", start, end, parent, 1, f"g{sid}", jobs)


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),    # overlaps span 2: counted once
        _span(4, 8.0, 12.0, parent=1),   # runs past its parent: clipped
        _span(5, 2.5, 2.75, parent=3),   # grandchild: only span 3 loses it
    ]
    got = self_ms(spans)
    assert got[1] == pytest.approx((10 - 4 - 2) * 1000)
    assert got[3] == pytest.approx((3 - 0.25) * 1000)
    assert got[5] == pytest.approx(0.25 * 1000)


def test_inclusive_jobs_fold_whole_subtrees():
    spans = [
        _span(1, 0.0, 10.0, jobs=1),
        _span(2, 1.0, 5.0, parent=1, jobs=2),
        _span(3, 2.0, 3.0, parent=2, jobs=3),
        _span(4, 6.0, 7.0, parent=1, jobs=0),
    ]
    assert inclusive_jobs(spans) == {1: 6, 2: 5, 3: 3, 4: 0}


# ---- job groups ----------------------------------------------------------------


class FakeContext:
    """The three local properties SparkContext.setJobGroup sets, kept in a
    dict the way the JVM keeps them per thread (None removes a property)."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description, interruptOnCancel=False):
        self.props.update({
            "spark.jobGroup.id": group,
            "spark.job.description": description,
            "spark.job.interruptOnCancel": str(interruptOnCancel).lower(),
        })


def test_job_group_restores_the_parent_group_on_exit():
    sc = FakeContext()
    sc.setJobGroup("stream-run-id", "a streaming query's own group", True)
    before = dict(sc.props)
    tracer = Tracer(sc)
    with tracer.span("outer") as outer:
        assert sc.props["spark.jobGroup.id"] == outer.group
        with tracer.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
        assert sc.props["spark.job.description"] == "outer"
    assert sc.props == before


def test_job_group_clears_properties_that_were_unset_and_survives_errors():
    sc = FakeContext()
    with pytest.raises(ValueError):
        with job_group(sc, "g", "d"):
            raise ValueError("boom")
    assert all(sc.getLocalProperty(k) is None for k in GROUP_PROPS)


def test_spans_record_parent_and_trace_only_while_recording():
    tracer = Tracer(FakeContext())
    with tracer.span("warm-up"):
        pass
    tracer.recording = True
    with tracer.span("a") as a:
        with tracer.span("b") as b:
            pass
    with tracer.span("c") as c:
        pass
    assert [s.name for s in tracer.spans] == ["b", "a", "c"]
    assert b.parent == a.sid and b.trace == a.trace == a.sid
    assert c.parent is None and c.trace != a.trace


# ---- oracle ---------------------------------------------------------------------


def _python_fold(log: pa.Table) -> pa.Table:
    """A second, plain-Python LWW fold: the highest lsn per key wins."""
    best = {}
    for row in log.to_pylist():
        k = (row["conv_id"], row["turn_idx"])
        if k not in best or row["lsn"] > best[k]["lsn"]:
            best[k] = row
    rows = [r for r in best.values() if r["op"] != "D"]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    return pa.Table.from_pylist([{c: r[c] for c in cols} for r in rows]).cast(
        pa.schema([log.schema.field(c) for c in cols])
    )


@pytest.fixture(scope="module")
def small_log():
    return change_log(seed=3, n_events=3000, n_convs=40)


def test_oracle_accepts_the_lww_fold(small_log):
    assert oracle.check(small_log, _python_fold(small_log))["ok"]


def test_oracle_accepts_rows_in_any_order_and_utc_timestamps(small_log):
    t = _python_fold(small_log)
    t = t.take(pa.array(range(t.num_rows - 1, -1, -1)))
    t = t.set_column(5, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))
    assert oracle.check(small_log, t)["ok"]


def test_oracle_rejects_a_wrong_table(small_log):
    good = _python_fold(small_log)
    text = good["text"].to_pylist()
    text[7] = text[7] + " stale"
    changed = good.set_column(3, "text", pa.array(text))
    assert not oracle.check(small_log, changed)["ok"]
    assert not oracle.check(small_log, good.slice(1))["ok"]
    duplicated = pa.concat_tables([good, good.slice(0, 1)])
    assert not oracle.check(small_log, duplicated)["ok"]


# ---- generator -------------------------------------------------------------------


def test_generator_is_seeded_and_keeps_the_log_shape():
    a = change_log(seed=5, n_events=20_000, n_convs=2_000)
    assert a.equals(change_log(seed=5, n_events=20_000, n_convs=2_000))
    assert not a.equals(change_log(seed=6, n_events=20_000, n_convs=2_000))
    ops = pc.value_counts(a["op"]).to_pylist()
    share = {d["values"]: d["counts"] / a.num_rows for d in ops}
    assert share["D"] == pytest.approx(0.08, abs=0.01)
    assert share["I"] == pytest.approx(0.42, abs=0.015)
    deletes = a.filter(pc.equal(a["op"], "D"))
    for c in ("role", "text", "tool", "ts"):
        assert deletes[c].null_count == deletes.num_rows
    hot = pc.less(a["conv_id"], "conv_00000020")  # the 1% hot conv ids
    assert pc.sum(hot).as_py() / a.num_rows == pytest.approx(0.30, abs=0.02)
    head, segs = split(a, 10_000, 3_000)
    assert head.num_rows == 10_000 and [s.num_rows for s in segs] == [3_000] * 3 + [1_000]


def test_redelivery_repeats_a_share_of_segments():
    segs = [pa.table({"lsn": [i]}) for i in range(6)]
    order = [t["lsn"][0].as_py() for t in workloads.deliveries(segs)]
    assert order == [0, 1, 2, 1, 3, 4, 5, 4]


# ---- BENCHMARK.json ---------------------------------------------------------------


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in report.E2E]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == report.PER_LAYER
    assert {m["better"] for m in bench["per_layer"]} == {"lower"}
    for w in bench["workloads"]:
        assert w["why"] == workloads.WORKLOADS[w["name"]].why
