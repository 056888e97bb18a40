"""The benchmark's workloads, driven through the package's public entry
points: ``PQLServer`` over HTTP, ``RealtimeIngest`` with
``refresh_segments``, and the ``suite`` query registry.

A workload is set up (``setup`` + ``first``) once per set-up cycle,
warmed up once (``warm``), then measured once (``measure``) and checked
(``check``). ``measure`` returns
the latencies of each operation class in milliseconds; ``run.py`` turns
them into metrics.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext

import gen
import oracle

#: broker deadline for every served query; no query comes near it
TIMEOUT_MS = 30_000
SERVE_SF = 0.01
#: live ingest: rows per file and files per second. The rate is half the
#: ingest loop's capacity: its single-file cycle (drain, refresh, both
#: reads) beside the served client took a median 1.5-1.7 s on a 4-vCPU
#: box (``streaming.cycle_ms``), so a file is due every 3.2 s and each
#: one finds the loop idle
ROWS_PER_FILE = 100
FILE_RATE = 1 / 3.2
#: the live-table reads issued after every drain
READS = {
    "count": "SELECT count(*) FROM live_events",
    "by_type": ("SELECT event_type, count(*), sum(value) FROM live_events "
                "GROUP BY event_type TOP 10"),
}
LIVE_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING")
#: StreamingQueryProgress.durationMs keys → per-layer metric names
DURATIONS = {"addBatch": "add_batch_ms", "walCommit": "wal_commit_ms",
             "commitOffsets": "commit_offsets_ms",
             "latestOffset": "latest_offset_ms"}


class Workload:
    name = ""
    tracer = None  # set by run.py in a traced run

    def span(self, name: str, **attrs):
        return (self.tracer.span(name, **attrs) if self.tracer
                else nullcontext())

    def job_group(self, sc, group: str) -> None:
        """Tag this thread's next Spark jobs (read back in traced runs)."""
        if self.tracer:
            sc.setJobGroup(group, group)


class ServeLive(Workload):
    """Queries served while data streams in. One ``PQLServer`` at sf0.01
    serves two kinds of load at once:

    - closed loop: one client thread, ``POST /query`` round-robin over a
      querygen mix with one query per shape family;
    - open loop: a generator thread writes a ``ROWS_PER_FILE``-row events
      file every ``1/FILE_RATE`` s; the ingest loop drains new files with
      ``RealtimeIngest.start_append`` (availableNow), calls
      ``refresh_segments`` and reads the live table over ``POST /query``.

    Operation classes: each mix query (keyed by its shape family), each
    live read, and ``ingest`` (a file's due time to the first read that
    counts its rows)."""

    name = "serve_live"
    tables = ("lineitem", "events", "documents")

    def __init__(self, seed: int, work: str):
        self.corpus, self.corpus_s = gen.corpus(work, seed, SERVE_SF)
        self.mix = gen.serve_mix()
        self.pool = gen.ingest_rows(seed)
        self.work = work
        self.cycle = 0

    # -- set-up -----------------------------------------------------------

    def setup(self, spark) -> None:
        from realtime_olap_spark.server import PQLServer
        from realtime_olap_spark.streaming import (RealtimeIngest,
                                                   realtime_segments_table)

        self.spark = spark
        self.server = PQLServer(spark, self.corpus, timeout_ms=TIMEOUT_MS)
        catalog = self.server.engine.catalog
        for t in self.tables:
            catalog.table(t)
        root = os.path.join(self.work, f"live-{os.getpid()}-{self.cycle}")
        self.cycle += 1
        shutil.rmtree(root, ignore_errors=True)
        self.src, self.sink = (os.path.join(root, "src"),
                               os.path.join(root, "sink"))
        os.makedirs(self.src)
        os.makedirs(self.sink)
        self.root = root
        self.ingest = RealtimeIngest(spark, os.path.join(root, "ckpt"),
                                     self.sink)
        spark.sql("DROP TABLE IF EXISTS live_events")
        realtime_segments_table(spark, "live_events", self.sink, LIVE_DDL)
        catalog.register_derived("live_events",
                                 lambda: spark.table("live_events"))
        self.files = self.committed = 0
        self.server.start()

    def first(self) -> None:
        # the same query in every run: the selection, the mix's cheapest
        if self._post(self.mix[0][1])[1] is None:
            raise RuntimeError("the server did not answer its first query")

    def warm(self) -> None:
        for _, pql, _ in self.mix:
            self._post(pql)
        self._write(self.files)
        self.files += 1
        self._drain()
        for pql in READS.values():
            self._post(pql)

    def teardown(self) -> None:
        self.server.stop()
        shutil.rmtree(self.root, ignore_errors=True)

    # -- operations -------------------------------------------------------

    def _post(self, pql: str) -> tuple[float, dict | None]:
        """One request on its own connection; (latency ms, response or
        None when the request failed or the response reports errors)."""
        body = json.dumps({"pql": pql})
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port,
                                          timeout=TIMEOUT_MS / 1000 + 30)
        try:
            conn.request("POST", "/query", body,
                         {"Content-Type": "application/json"})
            r = conn.getresponse()
            resp = json.loads(r.read()) if r.status == 200 else None
        except (OSError, ValueError):
            resp = None
        finally:
            conn.close()
        ms = (time.perf_counter() - t0) * 1000
        if resp is not None and resp.get("exceptions") != []:
            resp = None
        return ms, resp

    def _write(self, idx: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        lo = (idx * ROWS_PER_FILE) % (self.pool.num_rows - ROWS_PER_FILE)
        t = self.pool.slice(lo, ROWS_PER_FILE)
        ids = pa.array(range(idx * ROWS_PER_FILE, (idx + 1) * ROWS_PER_FILE),
                       pa.int64())
        now = pa.array([int(time.time() * 1e6)] * ROWS_PER_FILE,
                       pa.timestamp("us"))
        t = t.set_column(0, "event_id", ids).set_column(1, "ts", now)
        tmp = os.path.join(self.src, f".tmp-{idx}.parquet")
        pq.write_table(t, tmp)
        os.rename(tmp, os.path.join(self.src, f"part-{idx:06d}.parquet"))

    def _drain(self) -> None:
        from realtime_olap_spark.streaming import realtime

        source = self.spark.readStream.schema(LIVE_DDL).parquet(self.src)
        q = self.ingest.start_append(source)
        with self.span("streaming.trigger"):
            q.awaitTermination()
        progress = q.recentProgress
        realtime.refresh_segments(self.spark, "live_events")
        self.committed += sum(p["numInputRows"] for p in progress)
        if self.tracer:
            for p in progress:
                for k, v in p["durationMs"].items():
                    if k in DURATIONS:
                        self.tracer.add(f"streaming.{DURATIONS[k]}", v)

    @staticmethod
    def _rows_seen(resp: dict) -> int:
        aggs = resp["aggregationResults"]
        if "groupByResult" not in aggs[0]:
            return aggs[0]["value"]
        return sum(g["value"] for a in aggs if a["function"] == "count_star"
                   for g in a["groupByResult"])

    # -- measurement ------------------------------------------------------

    def measure(self, seconds: float) -> dict:
        # the client thread and the ingest loop both record
        self.lock = threading.Lock()
        self.lat: dict[str, list[float]] = {
            **{s: [] for s, _, _ in self.mix},
            **{f"live:{r}": [] for r in READS}, "ingest": []}
        self.first_resp: dict[str, dict] = {}
        self.server_ms: list[float] = []
        self.attempted = self.failed = self.wrong = 0
        self.lateness: list[float] = []
        t0 = time.perf_counter()
        end = t0 + seconds
        n_files = int(seconds * FILE_RATE)
        base_files, due = self.files, []

        def record(cls: str, ms: float, resp: dict | None) -> None:
            with self.lock:
                self.attempted += 1
                if resp is None:
                    self.failed += 1
                    return
                self.lat[cls].append(ms)
                self.first_resp.setdefault(cls, resp)
                self.server_ms.append(ms - resp["timeUsedMs"])

        def client() -> None:
            i = 0
            while time.perf_counter() < end:
                shape, pql, _ = self.mix[i % len(self.mix)]
                if self.tracer:
                    self.tracer.set_request(f"client-{i}")
                with self.span("server.request", pql=pql):
                    ms, resp = self._post(pql)
                record(shape, ms, resp)
                i += 1

        def generator() -> None:
            for j in range(n_files):
                d = t0 + j / FILE_RATE
                wait = d - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                self.lateness.append((time.perf_counter() - d) * 1000)
                due.append(d)
                self._write(base_files + j)

        threads = [threading.Thread(target=client),
                   threading.Thread(target=generator)]
        for t in threads:
            t.start()
        self._ingest_loop(t0, seconds, n_files, due, record)
        for t in threads:
            t.join()
        self.files = base_files + n_files
        return {c: v for c, v in self.lat.items() if v}

    def _ingest_loop(self, t0, seconds, n_files, due, record) -> None:
        """Drain, refresh and read until every generated file is visible;
        a file's freshness is its due time to the end of the first
        ``count`` read that includes it."""
        seen = drained_upto = k = 0
        self.cycles: list[float] = []
        self.backlog_max = 0
        base_rows = self.committed
        while seen < n_files:
            if len(due) == drained_upto:  # nothing new since last drain
                if time.perf_counter() - t0 > seconds + 60:
                    break
                time.sleep(0.01)
                continue
            b0 = time.perf_counter()
            drained_upto = len(due)
            self.backlog_max = max(self.backlog_max, drained_upto - seen)
            try:
                self._drain()
            except Exception:  # noqa: BLE001 — counted, not fatal
                with self.lock:
                    self.failed += 1
            for name, pql in READS.items():
                if self.tracer:
                    self.tracer.set_request(f"live-{k}-{name}")
                with self.span("server.request", pql=pql):
                    ms, resp = self._post(pql)
                done = time.perf_counter()
                record(f"live:{name}", ms, resp)
                if resp is None:
                    continue
                rows = self._rows_seen(resp)
                if rows != self.committed:
                    self.wrong += 1  # a read must see exactly the commits
                if name == "count":
                    now = (rows - base_rows) // ROWS_PER_FILE
                    self.lat["ingest"].extend(
                        (done - due[j]) * 1000 for j in range(seen, now))
                    seen = max(seen, now)
            self.cycles.append((time.perf_counter() - b0) * 1000)
            k += 1
        self.busy_frac = sum(self.cycles) / 1000 / (time.perf_counter() - t0)
        self.segments = len([f for f in os.listdir(self.sink)
                             if f.endswith(".parquet")])
        if seen < n_files:  # files that never became visible
            with self.lock:
                self.failed += n_files - seen

    def check(self) -> tuple[int, int]:
        from pyspark.sql import functions as F

        con = oracle.connect(self.corpus)
        wrong = self.wrong
        for shape, pql, sql in self.mix:
            resp = self.first_resp.get(shape)
            if resp is None or not oracle.pql_response_matches(
                    con, pql, sql, resp):
                wrong += 1
        con.close()
        # exactly once: every committed row is stored once, under a
        # distinct event_id
        total, distinct = self.spark.table("live_events").agg(
            F.count(F.lit(1)), F.count_distinct("event_id")).first()
        wrong += total != self.committed or total != distinct
        # ingest operations: one per file generated in the window
        attempted = self.attempted + len(self.lat["ingest"])
        return attempted, self.failed + wrong

    def extras(self) -> dict[str, float]:
        return {"server.overhead_ms": statistics.median(self.server_ms),
                "server.requests": float(self.attempted),
                "freshness_p50_ms": statistics.median(self.lat["ingest"]),
                "gen.lateness_max_ms": max(self.lateness),
                "gen.backlog_max": float(self.backlog_max),
                "streaming.drains": float(len(self.cycles)),
                "streaming.cycle_ms": statistics.median(self.cycles),
                "streaming.segments": float(self.segments),
                "streaming.busy_frac": self.busy_frac}


#: suite queries of the scale workload: oracle-paired registry entries
#: whose answers are unambiguous on the replica and whose DuckDB oracles
#: fit the per-run time budget (see README.md)
SUITE = ("ext_join_star", "ext_window_running", "pql_agg_groupby_top",
         "hybrid_time_boundary", "sel_order_by_offset")
FIRST = "sel_order_by_offset"  # the cheapest: the set-up's first answer
#: a ×2 key-offset replica of sf0.05: sf0.1's row counts (lineitem 600k),
#: with every key range of the fact and customer tables duplicated
SUITE_SF, SUITE_COPIES = 0.05, 2


class SuiteX2(Workload):
    """Serial, one caller: round-robin passes over ``SUITE`` on a ×2
    key-offset replica of sf0.05, each query the registry call plus a
    ``collect`` (results are a few rows; the rows of each query's first
    run are the ones checked)."""

    name = "suite_x2"
    tables = ("lineitem", "orders", "customer", "supplier", "nation",
              "region", "part", "events")

    def __init__(self, seed: int, work: str):
        self.corpus, self.corpus_s = gen.corpus(work, seed, SUITE_SF,
                                                SUITE_COPIES)

    def setup(self, spark) -> None:
        from realtime_olap_spark.catalog import Catalog

        self.spark = spark
        cat = Catalog(spark, self.corpus)
        for t in self.tables:
            cat.table(t)

    def first(self) -> None:
        from realtime_olap_spark.suite import QUERIES

        QUERIES[FIRST](self.spark, self.corpus).collect()

    def warm(self) -> None:
        from realtime_olap_spark.suite import QUERIES

        for name in SUITE:
            QUERIES[name](self.spark, self.corpus).collect()

    def teardown(self) -> None:
        pass

    def measure(self, seconds: float) -> dict:
        from realtime_olap_spark.suite import QUERIES

        sc = self.spark.sparkContext
        self.lat = {q: [] for q in SUITE}
        self.rows: dict[str, tuple] = {}
        self.attempted = self.failed = 0
        end = time.perf_counter() + seconds
        k = 0
        while time.perf_counter() < end:
            name = SUITE[k % len(SUITE)]
            self.job_group(sc, f"suite-{k}")
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                with self.span("suite.construct"):
                    df = QUERIES[name](self.spark, self.corpus)
                with self.span("suite.exec"):
                    rows = df.collect()
                t1 = time.perf_counter()
            except Exception:  # noqa: BLE001 — counted, not fatal
                self.failed += 1
            else:
                self.lat[name].append((t1 - t0) * 1000)
                self.rows.setdefault(name, (df.columns, rows))
                if self.tracer:
                    from tracing import read_spark_metrics
                    read_spark_metrics(self.tracer, df)
            k += 1
        sc.setLocalProperty("spark.jobGroup.id", None)
        return {q: v for q, v in self.lat.items() if v}

    def check(self) -> tuple[int, int]:
        from realtime_olap_spark.suite import ORACLES

        con = oracle.connect(self.corpus)
        wrong = 0
        for name in SUITE:
            if name not in self.rows:
                wrong += 1
                continue
            cols, rows = self.rows[name]
            rel = con.sql(ORACLES[name])
            wrong += not oracle.same_rows(cols, [tuple(r) for r in rows],
                                          rel.columns, rel.fetchall())
        con.close()
        return self.attempted, self.failed + wrong

    def extras(self) -> dict[str, float]:
        return {"suite.passes": self.attempted / len(SUITE)}


WORKLOADS = {w.name: w for w in (ServeLive, SuiteX2)}
