"""Interleaved A/B of two checkouts on one ingest benchmark workload.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload stream_redelivery \
        --pairs 10 --seed-base 1 [--seconds 8] [--work DIR] [--out FILE]

Copies both checkouts (without .git, caches and benchmark output) to
``<work>/parent`` and ``<work>/change``: paths of equal length, because the
benchmark's warehouse lives under the checkout and every manifest records
the change log's absolute path, so a shorter path alone lowers
``write_amp``. Pair ``i`` runs seed ``seed_base + i`` on both sides, parent
first on even pairs and change first on odd ones, each as one
``python3 ingestbench/run.py --trace 0`` process, one at a time. Prints one
row per end-to-end metric of the change's BENCHMARK.json: the parent's
median and IQR, the change's median and IQR, the change of the medians in
percent and the pairs the change won (better by the metric's direction;
equal values win nothing). ``--out`` keeps every run's result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

SIDES = ("parent", "change")
IGNORE = shutil.ignore_patterns(
    ".git", ".ingestbench", "__pycache__", ".pytest_cache", ".hypothesis"
)


def place(src: str, work: str, side: str) -> str:
    dst = os.path.join(work, side)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, ignore=IGNORE, symlinks=True)
    return dst


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run; its JSON result line, or ``{"error": ...}``."""
    proc = subprocess.run(
        ["python3", "ingestbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-400:]}"}


def quartiles(xs: list[float]) -> tuple[float, float]:
    """(median, inter-quartile range) of ``xs``."""
    if len(xs) < 2:
        return xs[0], 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q3 - q1


def table(runs: list[dict[str, dict]], metrics: list[dict]) -> str:
    rows = ["| metric | parent median | parent IQR | change median | change IQR "
            "| change | change wins |", "|---|---|---|---|---|---|---|"]
    for spec in metrics:
        name = spec["name"]
        pairs = [
            (r["parent"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
            for r in runs
            if all("metrics" in r[s] and r[s]["metrics"].get(name, {}).get("value")
                   is not None for s in SIDES)
        ]
        if not pairs:
            rows.append(f"| {name} | n/a | | | | | |")
            continue
        (pm, piqr), (cm, ciqr) = (quartiles([p[i] for p in pairs]) for i in (0, 1))
        sign = -1 if spec.get("better", "lower") == "lower" else 1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        pct = 100.0 * (cm - pm) / pm if pm else float("nan")
        rows.append(f"| {name} | {pm:.4g} | {piqr:.3g} | {cm:.4g} | {ciqr:.3g} "
                    f"| {pct:+.1f}% | {wins}/{len(pairs)} |")
    return "\n".join(rows)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-base", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--work", help="where the copies go (default: a new temp dir)")
    ap.add_argument("--out", help="write every run's result line here as JSON")
    args = ap.parse_args(argv)

    work = os.path.abspath(args.work or tempfile.mkdtemp(prefix="rdl-ab-"))
    os.makedirs(work, exist_ok=True)
    dirs = {s: place(src, work, s) for s, src in zip(SIDES, (args.parent, args.change))}
    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs: list[dict[str, dict]] = []
    for i in range(args.pairs):
        seed = args.seed_base + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair: dict[str, dict] = {}
        for side in order:
            pair[side] = run_once(dirs[side], args.workload, seed, args.seconds)
            res = pair[side]
            status = res.get("error") or (
                f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: {status}",
                  file=sys.stderr, flush=True)
        runs.append(pair)
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"workload": args.workload, "seed_base": args.seed_base,
                           "runs": runs}, f, indent=1)

    bad = [(i, s) for i, r in enumerate(runs) for s in SIDES
           if "error" in r[s] or not r[s].get("correct") or r[s].get("failed")]
    print(f"{args.workload}: {args.pairs} pairs, seeds {args.seed_base}.."
          f"{args.seed_base + args.pairs - 1}, copies under {work}")
    print(f"failed or incorrect runs: {len(bad)} {bad if bad else ''}".rstrip())
    print(table(runs, metrics))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
