"""Profiling companion to bench.py (guide §1): same session, same
warmup (``bench.warm_up``), but per query records (a) DataFrame
construction+analysis wall time, (b) noop-sink execution wall time (min
of N), and (c) the ``explain('formatted')`` text, written under
plans/<tag>/<name>.txt.

Usage: python scripts/profile_bench.py [--plans-dir plans/r16] \
           [--tag before|after] [--runs 3] [--queries a,b,c]

Prints one JSON line: {"construct": {...}, "exec_min": {...}, "jobs": {...}}.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from realtime_olap_spark import suite  # noqa: E402
from realtime_olap_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default=None,
                    help="directory for explain output (e.g. plans/r16)")
    ap.add_argument("--suffix", default="",
                    help="filename suffix, e.g. _before / _after")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--queries", default=None,
                    help="comma list; default = bench HEADLINE")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark("realtime-olap-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = dict(suite.QUERIES)
    registry.update(bench._extra_queries())
    names = (args.queries.split(",") if args.queries
             else [n for n in bench.HEADLINE if n in registry])
    bench.warm_up(spark, sf_dir, registry, names, cpus)

    sc = spark.sparkContext
    construct: dict[str, float] = {}
    exec_min: dict[str, float] = {}
    jobs: dict[str, int] = {}
    tracker = sc.statusTracker()

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    for name in names:
        sc.setJobGroup(f"profile:{name}", name)
        runs = []
        for i in range(args.runs):
            t0 = time.perf_counter()
            df = registry[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if i == 0:
                construct[name] = round(t1 - t0, 4)
                if args.plans_dir:
                    buf = io.StringIO()
                    with redirect_stdout(buf):
                        df.explain("formatted")
                    with open(os.path.join(
                            args.plans_dir,
                            f"{name}{args.suffix}.txt"), "w") as f:
                        f.write(buf.getvalue())
            runs.append(round(t2 - t1, 4))
        exec_min[name] = min(runs)
        jobs[name] = len(tracker.getJobIdsForGroup(f"profile:{name}"))
        sc.setJobGroup(None, None)

    print(json.dumps({"construct": construct, "exec_min": exec_min,
                      "jobs_per_query_over_runs": jobs,
                      "total_exec_min": round(sum(exec_min.values()), 4),
                      "total_construct": round(sum(construct.values()), 4)}))
    spark.stop()


if __name__ == "__main__":
    main()
