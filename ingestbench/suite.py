#!/usr/bin/env python3
"""Every workload in BENCHMARK.json, untraced then traced, one seed:

    python3 ingestbench/suite.py --seed 1

prints each end-to-end metric with its unit per workload, the LWW oracle
verdict, the tracing overhead (traced minus untraced) and where the
per-layer tables were written. Runs one workload at a time: concurrent
Spark sessions on one host distort each other's timings.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ingestbench import report  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "ingestbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    if p.returncode:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"{workload} trace={trace} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    out = os.path.join(ROOT, ".ingestbench", "out")
    lines = []
    for w in bench["workloads"]:
        name = w["name"]
        plain = run(name, args.seed, args.seconds, 0)
        run(name, args.seed, args.seconds, 1)
        artifacts = []
        for t in (0, 1):
            with open(os.path.join(out, f"{name}-seed{args.seed}-trace{t}.json")) as f:
                artifacts.append(json.load(f))
        untraced, traced = artifacts
        lines += [f"## {name} (seed {args.seed}) — {w['why']}", "",
                  f"oracle ok: {plain['correct']}, attempted {plain['attempted']}, "
                  f"failed {plain['failed']}", "",
                  "| metric | value | unit | traced − untraced |", "| --- | ---: | --- | ---: |"]
        for m, v in plain["metrics"].items():
            over = traced.get("tracing_overhead", {}).get(m)
            lines.append(f"| {m} | {v['value']:.6g} | {v['unit']} | "
                         f"{'' if over is None else f'{over:+.4g}'} |")
        for m, unit in report.WALL:
            over = traced.get("tracing_overhead", {}).get(m)
            lines.append(f"| {m} (wall, no bound) | {untraced['e2e_extra'][m]:.6g} | {unit} | "
                         f"{'' if over is None else f'{over:+.4g}'} |")
        lines += ["", f"apply tail: {untraced['e2e_extra'].get('apply_tail_ms')} "
                  f"({untraced['e2e_extra'].get('apply_n')} applies)",
                  f"failed_op_share: {untraced['e2e_extra'].get('failed_op_share')}",
                  f"window: {json.dumps(untraced['window'])}",
                  f"per-layer table: .ingestbench/out/layers-{name}-seed{args.seed}-trace1.md", ""]
    text = "\n".join(lines)
    with open(os.path.join(out, f"suite-seed{args.seed}.md"), "w") as f:
        f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
