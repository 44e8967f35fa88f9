"""Extra benchmark harness for optimization work: per-query noop-sink
isolation, optional subsets, optional .explain("formatted") capture.

Runs bench.py's headline query table (``bench.headline``), so its numbers
are comparable with bench.py's, and adds:
  --queries q1,q2   restrict to a subset
  --repeats N       best-of-N per query (default 1)
  --explain DIR     write DIR/<query>.txt explain("formatted") output
The first (cold) run of every query is always reported as "first_run".

Usage: python bench_extra.py [--queries ...] [--repeats N] [--explain DIR]
(inputs and parallelism come from SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS,
as for bench.py)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import force, headline  # noqa: E402
from deepkg_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--explain", default="")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="deepkg-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)

    queries = headline(spark, sf_dir, cpus)
    subset = [q for q in args.queries.split(",") if q]
    if subset:
        queries = {n: queries[n] for n in subset}

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        jvm = spark.sparkContext._jvm
        for name, fn in queries.items():
            plans: list[str] = []
            fn(lambda df: plans.append(jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )))
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write("\n".join(plans))

    timings: dict[str, float] = {}
    firsts: dict[str, float] = {}
    for r in range(args.repeats):
        for name, fn in queries.items():
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            fn(force)
            dt = round(time.monotonic() - t0, 3)
            if r == 0:
                firsts[name] = dt
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    print(json.dumps({
        "metric": "deepkg_extra",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "first_run": firsts,
        "sf": sf,
        "loadavg": round(os.getloadavg()[0], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
