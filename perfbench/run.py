#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload serve_live --seed 1 --seconds 20 --trace 0

Run from the repository root. The run pins its environment, generates
its inputs from ``--seed``, sets the workload up ``SETUP_CYCLES`` times
(``setup_s`` is the median of the set-ups after the first, which starts
the JVM), warms it up, measures for ``--seconds``, checks every
answer, and prints ``{"correct", "attempted", "failed", "metrics"}`` as
the last line of stdout: the end-to-end metrics of ``BENCHMARK.json``
untraced, its per-layer metrics with ``--trace 1``. Exits non-zero
without a result when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SPARK_CORES = 2  # plus 2 client threads stays within a 4-core box
DRIVER_MEM = "2g"
SETUP_CYCLES = 5

#: span name → per-layer self-time metric (ms per operation)
LAYER_SPANS = {
    "server.request": "server.self_ms",
    "pql.parse": "pql.parse_ms",
    "pql.compile": "pql.compile_ms",
    "pql.execute": "pql.execute_ms",
    "pql.stats": "pql.stats_ms",
    "catalog.table": "catalog.table_ms",
    "suite.construct": "suite.construct_ms",
    "suite.exec": "suite.exec_ms",
    "streaming.start": "streaming.start_ms",
    "streaming.trigger": "streaming.trigger_ms",
    "streaming.refresh": "streaming.refresh_ms",
    "trace.read": "trace.read_ms",
}


def pin_env(run_dir: str) -> None:
    """Fix everything the engine reads from the environment, before
    pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SPARK_CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_STAGE_PARTS": str(SPARK_CORES),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {DRIVER_MEM} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "pyspark-shell"),
    })
    time.tzset()


def box() -> str:
    with open("/proc/loadavg") as f:
        load1 = f.read().split()[0]
    return f"nproc={os.cpu_count()} load1={load1}"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    workers), waiting until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def set_up(wl, get_spark, memo) -> tuple[object, dict]:
    """``SETUP_CYCLES`` set-ups, each timed from session start to the
    first answer (session, catalog, server or nothing, one operation); the
    first one starts the JVM, later ones restart the SparkContext inside
    it. Then one untimed warm-up pass over every operation, so the
    measured window runs warm. Returns the last session and the timings
    in seconds."""
    spark, parts = None, {"session": [], "stage": [], "answer": [], "all": []}
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            wl.teardown()
            jvm = spark._jvm
            spark.stop()
            memo.clear()
            # collect the stopped context's garbage outside the timing
            gc.collect()
            jvm.System.gc()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        wl.first()
        t3 = time.perf_counter()
        for k, v in (("session", t1 - t0), ("stage", t2 - t1),
                     ("answer", t3 - t2), ("all", t3 - t0)):
            parts[k].append(v)
    t0 = time.perf_counter()
    wl.warm()
    parts["warm"] = time.perf_counter() - t0
    return spark, parts


def layer_metrics(tracer, names) -> dict[str, float]:
    """Each layer's self time and Spark's numbers, summed over the
    measured window: ``streaming.*`` per drain, every other layer per
    query (a served request or a suite query). Zero for a layer the
    workload never enters."""
    import stats
    import tracing

    tracing.link_remote(tracer, "server.request", "pql.execute")
    selfs = stats.self_times(tracer.spans)
    count = {n: sum(s["name"] == n for s in tracer.spans)
             for n in ("server.request", "suite.construct",
                       "streaming.trigger")}
    queries = max(count["server.request"] + count["suite.construct"], 1)
    drains = max(count["streaming.trigger"], 1)

    def per_op(metric: str, total: float) -> float:
        return total / (drains if metric.startswith("streaming.")
                        else queries)

    out = dict.fromkeys(names, 0.0)
    for span, metric in LAYER_SPANS.items():
        out[metric] = per_op(metric, selfs.get(span, 0.0) * 1000)
    for k, v in tracer.samples.items():
        out[k] = per_op(k, sum(v))
    return out


def request_split(tracer) -> dict[str, float]:
    """Where a served request's client-observed time goes, in mean ms per
    request: the server (HTTP, JSON, threads), PQL construction (parse,
    catalog, DataFrame building outside Catalyst's analysis), Catalyst's
    phases, Spark execution with result shaping, the Pinot stats walk,
    and the tracer's own metric reads."""
    import stats

    own = stats.span_self(tracer.spans)
    by_id = {s["id"]: s for s in tracer.spans}
    per: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        r = s
        while r["parent"] is not None:
            r = by_id[r["parent"]]
        if r["name"] != "server.request":
            continue
        acc = per.setdefault(r["id"], {})
        acc[s["name"]] = acc.get(s["name"], 0.0) + own[s["id"]] * 1000
        for k, v in s.get("spark", {}).items():
            acc[k] = acc.get(k, 0.0) + v
    if not per:
        return {}

    def mean(*names, minus=()):
        return sum(sum(a.get(n, 0.0) for n in names)
                   - sum(a.get(n, 0.0) for n in minus)
                   for a in per.values()) / len(per)

    return {
        "requests": float(len(per)),
        "client_ms": mean(*{s["name"] for s in tracer.spans}),
        "server_ms": mean("server.request"),
        "construct_ms": mean("pql.parse", "catalog.table", "pql.compile",
                             minus=("spark.analysis_ms",)),
        "catalyst_ms": mean("spark.analysis_ms", "spark.optimization_ms",
                            "spark.planning_ms"),
        "execute_ms": mean("pql.execute", minus=("spark.optimization_ms",
                                                 "spark.planning_ms")),
        "stats_ms": mean("pql.stats"),
        "trace_ms": mean("trace.read"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    known = [w["name"] for w in spec["workloads"]]
    if args.workload not in known:
        print(f"unknown workload {args.workload!r}; known: {known}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        from realtime_olap_spark import memo
        from realtime_olap_spark.session import get_spark
    except ImportError as ex:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(WORK):
            os.rmdir(WORK)
        print(f"cannot import the package from {ROOT}: {ex}", file=sys.stderr)
        return 2
    import stats
    import tracing
    import workloads

    print(f"# start {box()}", flush=True)
    wl = workloads.WORKLOADS[args.workload](args.seed, WORK)
    spark = None
    try:
        spark, setup = set_up(wl, get_spark, memo)
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            tracing.install(tracer)
            wl.tracer = tracer
        classes = wl.measure(args.seconds)
        attempted, failed = wl.check()
        wl.teardown()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {"latency_p50_ms": stats.geomean_of_medians(classes),
           "setup_s": statistics.median(setup["all"][1:])}
    if args.trace:
        metrics = layer_metrics(tracer, [m["name"] for m in spec["per_layer"]])
        metrics.update({
            "setup.session_s": statistics.median(setup["session"][1:]),
            "setup.stage_s": statistics.median(setup["stage"][1:]),
            "setup.warm_s": setup["warm"],
            "setup.first_s": setup["all"][0],
            "setup.corpus_s": wl.corpus_s,
            "error_rate": failed / attempted,
        })
        summary = {"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "e2e_traced": e2e,
                   "per_layer": metrics, "extras": wl.extras(),
                   "request_split_ms": request_split(tracer),
                   "class_medians_ms": {c: statistics.median(v)
                                        for c, v in classes.items()}}
        print("# trace " + json.dumps(summary, sort_keys=True))
        wanted = spec["per_layer"]
    else:
        metrics = e2e
        wanted = spec["end_to_end"]
        print("# detail " + json.dumps({
            "extras": wl.extras(), "setup_parts_s": setup,
            "corpus_s": wl.corpus_s,
            "class_medians_ms": {c: statistics.median(v)
                                 for c, v in classes.items()},
            "class_samples": {c: len(v) for c, v in classes.items()}},
            sort_keys=True))
    print(f"# end {box()}", flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
