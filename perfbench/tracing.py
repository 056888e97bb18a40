"""Tracing for the per-layer split, installed from the benchmark's files.

``install`` wraps the package's public entry points in spans; nothing is
wrapped in an untraced run. Spans (name, start, end, parent, request id)
are kept in memory and summarised when the run ends. Spark's own numbers
are read after each query: Catalyst phase times from
``queryExecution().tracker()``, operator metrics from the executed plan,
and job, stage and task counts from the status tracker by job group.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: Spark operator metrics summed over the executed plan: (a substring of
#: the node name, metric) → (reported name, divisor to the reported unit).
#: Only these are fetched, one lookup each, to keep py4j round trips few.
SPARK_METRICS = {
    ("Scan", "numOutputRows"): ("spark.scan_rows", 1),
    ("Scan", "filesSize"): ("spark.scan_bytes", 1),
    ("Scan", "scanTime"): ("spark.scan_time_ms", 1),
    ("Exchange", "shuffleBytesWritten"): ("spark.shuffle_bytes", 1),
    ("Exchange", "shuffleWriteTime"): ("spark.shuffle_write_ms", 1e6),
    ("Exchange", "fetchWaitTime"): ("spark.fetch_wait_ms", 1),
    ("Aggregate", "spillSize"): ("spark.spill_bytes", 1),
    ("Sort", "spillSize"): ("spark.spill_bytes", 1),
    ("Aggregate", "peakMemory"): ("spark.peak_memory_bytes", 1),
    ("Sort", "peakMemory"): ("spark.peak_memory_bytes", 1),
    ("Pandas", "pythonTotalTime"): ("spark.python_ms", 1),
    ("Python", "pythonTotalTime"): ("spark.python_ms", 1),
    ("Arrow", "pythonTotalTime"): ("spark.python_ms", 1),
}
PHASES = {"analysis": "spark.analysis_ms", "optimization":
          "spark.optimization_ms", "planning": "spark.planning_ms"}


class Tracer:
    """In-memory span and counter store. Thread-safe; each thread keeps
    its own open-span stack, so spans nest per thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": stack[-1] if stack else None,
               "req": getattr(self._local, "req", None), **attrs}
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def set_request(self, req) -> None:
        self._local.req = req

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.samples[name].append(value)


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None,
          attrs=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(name, **(attrs(args) if attrs else {})):
            out = orig(*args, **kwargs)
        if after is not None:
            after(args, kwargs, out)
        return out

    setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points in spans, and read Spark's
    metrics for every query that goes through ``plan_scan_stats`` (which
    the engine calls on the executed DataFrame)."""
    from realtime_olap_spark.catalog import Catalog
    from realtime_olap_spark.plans import pql
    from realtime_olap_spark.streaming import realtime

    def after_stats(args, kwargs, out):
        read_spark_metrics(tracer, args[0])

    _wrap(tracer, pql.PQLEngine, "execute", "pql.execute",
          attrs=lambda args: {"pql": args[1]})
    _wrap(tracer, pql, "parse_pql", "pql.parse")
    _wrap(tracer, pql, "compile_pql", "pql.compile")
    _wrap(tracer, pql, "grouped_topn_frame", "pql.compile")
    _wrap(tracer, pql, "plan_scan_stats", "pql.stats", after_stats)
    _wrap(tracer, Catalog, "table", "catalog.table")
    _wrap(tracer, realtime.RealtimeIngest, "start_append", "streaming.start")
    _wrap(tracer, realtime, "refresh_segments", "streaming.refresh")


def plan_metrics(df) -> dict[str, float]:
    """Sums of ``SPARK_METRICS`` over the executed plan of ``df`` (call
    after the action), descending into adaptive plans and query stages."""
    out = {v[0]: 0.0 for v in SPARK_METRICS.values()}
    seen: set[int] = set()

    def walk(node):
        if node.id() in seen:
            return
        seen.add(node.id())
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        wanted = [(m, v) for (part, m), v in SPARK_METRICS.items()
                  if part in name and not name.startswith("Reused")]
        if wanted:
            metrics = node.metrics()
            for m, (key, div) in wanted:
                got = metrics.get(m)
                if got.isDefined():
                    out[key] += got.get().value() / div
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def phase_ms(df) -> dict[str, float]:
    out = {v: 0.0 for v in PHASES.values()}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in PHASES:
            out[PHASES[kv._1()]] = float(kv._2().durationMs())
    return out


def job_counts(sc, group: str) -> dict[str, float]:
    """Jobs, stages and tasks Spark ran for one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stages += 1
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return {"spark.jobs": float(len(jobs)), "spark.stages": float(stages),
            "spark.tasks": float(tasks)}


def read_spark_metrics(tracer: Tracer, df) -> None:
    """Record one executed query's Spark metrics. Its time is a
    ``trace.read`` span, so it counts as tracing overhead, not as a
    layer's self time."""
    with tracer.span("trace.read") as rec:
        vals = {**phase_ms(df), **plan_metrics(df)}
        sc = df.sparkSession.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group:
            vals.update(job_counts(sc, group))
        rec["spark"] = vals
    for k, v in vals.items():
        tracer.add(k, v)


def link_remote(tracer: Tracer, client: str, server: str) -> None:
    """Parent each root ``server`` span (run on a server thread) to the
    ``client`` span of the same request: same PQL text, interval inside
    the client's. Its child spans then count against the request."""
    clients = sorted((s for s in tracer.spans if s["name"] == client),
                     key=lambda s: s["start"])
    taken: set[int] = set()
    for s in sorted(tracer.spans, key=lambda s: s["start"]):
        if s["name"] != server or s["parent"] is not None:
            continue
        for c in clients:
            if (c["id"] not in taken and c.get("pql") == s.get("pql")
                    and c["start"] <= s["start"] and s["end"] <= c["end"]):
                s["parent"], s["req"] = c["id"], c["req"]
                taken.add(c["id"])
                break
