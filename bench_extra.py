#!/usr/bin/env python
"""Per-query isolation bench for optimization work (guide §1.1/§1.4).

NOT the driver's bench — ``bench.py`` is frozen for measurement. This tool
exists so a single query (or subset) can be timed and its plan captured
without paying the full-catalog warm-up:

  python bench_extra.py dedup_keep_best semantic_dedup        # time 2 queries
  python bench_extra.py --all                                  # whole catalog
  python bench_extra.py --explain plans/r06 --suffix before X  # dump plans

Methodology matches bench.py: same session factory (``get_spark``), same
``local[$SPARK_GRAFT_CPUS]`` master, same noop-sink evaluation, one untimed
warm-up pass of the selected queries (JIT/Arrow init), then the median of
``--trials`` timed runs. Prints one JSON line.

Unlike ``bench.py``, the session's cache is cleared (untimed) before every
warm-up and timed call, so no call is timed against a cache an earlier call
of the same plan left behind.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from relational_data_loader_spark.queries import QUERIES  # noqa: E402
from relational_data_loader_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _evaluate(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="*", help="query names (default: --all)")
    p.add_argument("--all", action="store_true")
    p.add_argument("--trials", type=int, default=3)
    p.add_argument("--explain", metavar="DIR", default=None,
                   help="dump .explain('formatted') per query into DIR")
    p.add_argument("--suffix", default="", help="plan filename suffix")
    p.add_argument("--no-warm", action="store_true")
    args = p.parse_args()

    names = list(QUERIES) if (args.all or not args.names) else args.names
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(
        "rdl-bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            fn, _ = QUERIES[name]
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            sfx = f"_{args.suffix}" if args.suffix else ""
            with open(os.path.join(args.explain, f"{name}{sfx}.txt"), "w") as f:
                f.write(plan)

    if not args.no_warm:
        for name in names:
            fn, _ = QUERIES[name]
            spark.sparkContext.setJobDescription(f"warm:{name}")
            spark.catalog.clearCache()
            _evaluate(fn(spark, SF_DIR))

    if args.trials < 1:
        spark.stop()
        return
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.trials):
        for name in names:
            fn, _ = QUERIES[name]
            spark.sparkContext.setJobDescription(f"bench:{name}")
            spark.catalog.clearCache()
            t0 = time.time()
            _evaluate(fn(spark, SF_DIR))
            samples[name].append(time.time() - t0)
    results = {
        n: round(statistics.median(xs), 3) for n, xs in samples.items()
    }
    print(json.dumps({
        "metric": "isolated_query_sec",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "samples": {n: [round(x, 3) for x in xs] for n, xs in samples.items()},
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "trials": args.trials,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
