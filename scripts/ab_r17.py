"""r17 adjudication harness (VERDICT r16 item 1): cold fresh-session
isolated min-of-N A/B for the four touched paths the driver's r16 run
flagged (>1.25x) without an adjudication re-run.

One process = one (query, arm) cell: bench-identical session, full
warmup of that query's path (sf0.001 pass + ingest artifacts), then
min-of-5 noop-sink timed runs. The r16 change under test is toggled
OFF by a monkeypatch equivalent to reverting the one-line change —
the engine code itself is not modified, so both arms run the committed
tree. Interleave cells across invocations (on/off/on/off) to
decorrelate slow box drift.

Usage: python scripts/ab_r17.py <query> <arm on|off> [runs]
Queries: bench_mg_topk | bench_pca_shortlist | bench_hh_auto | sim_topk_ivf
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _patch_off(query: str) -> None:
    """Revert the r16 change on the query's path (measurement-only)."""
    from pyspark.sql import functions as F

    if query == "bench_mg_topk":
        # r16 change: lazy localCheckpoint on the bounded MG partials
        # (operators/mg.py:94). OFF = the r15 shape (both consumers
        # re-run the scan+MapInPandas subtree).
        from realtime_olap_spark.operators import mg as MG

        def mg_topk_off(df, key, k, top=None):
            parts = MG.mg_partials(df, key, k)  # no checkpoint
            dec_total = F.sum("dec")
            merged = (parts.groupBy("key")
                      .agg(F.sum("est").alias("est"), dec_total.alias("_d")))
            total = merged.agg(F.sum("_d").alias("_dec"))
            out = (merged.where(F.col("key").isNotNull())
                   .crossJoin(F.broadcast(total))
                   .select("key", "est", (F.col("est") + F.col("_dec"))
                           .alias("upper"))
                   .orderBy(F.col("est").desc(), F.col("key")))
            return out.limit(int(top)) if top is not None else out

        MG.mg_topk = mg_topk_off
    elif query == "bench_pca_shortlist":
        # r16 change: litarray query-vector literal in pca_shortlist_topk
        # (operators/pca.py:374). OFF = per-element F.lit CreateArray.
        from realtime_olap_spark import litarray

        litarray.lit_doubles = (
            lambda vals: F.array(*[F.lit(float(x)) for x in vals]))
    elif query == "sim_topk_ivf":
        # r16 change: similarity._lit_vec single parsed literal
        # (operators/similarity.py:31). OFF = per-element F.lit form.
        from realtime_olap_spark.operators import similarity as S

        S._lit_vec = (
            lambda v: F.array(*[F.lit(float(x)) for x in v])
            .cast("array<double>"))
    elif query == "bench_hh_auto":
        # No r16 code change sits on this path (heavy_hitters_auto routes
        # this corpus to the plain JVM groupBy; neither the mg_topk
        # checkpoint nor the cms literal gate is reached) — both arms
        # run the same plan; the A/B is a pure cold re-measure.
        pass
    else:
        raise SystemExit(f"unknown query {query!r}")


def main() -> None:
    query, arm = sys.argv[1], sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    if arm == "off":
        _patch_off(query)
    elif arm != "on":
        raise SystemExit("arm must be on|off")

    import bench
    from realtime_olap_spark import suite
    from realtime_olap_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark("realtime-olap-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = dict(suite.QUERIES)
    registry.update(bench._extra_queries())
    fn = registry[query]

    # warmup: codegen at sf0.001, ingest artifacts + footer at bench SF
    try:
        fn(spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    from realtime_olap_spark.catalog import TABLES, Catalog
    cat = Catalog(spark, SF_DIR)
    for t in TABLES:
        cat.table(t)
    if query == "sim_topk_ivf":
        from realtime_olap_spark.suite.similarity import _ensure_ivf_index
        _ensure_ivf_index(spark, SF_DIR)
    if query == "bench_pca_shortlist":
        from realtime_olap_spark.suite.similarity import _pca_model
        _pca_model(spark, SF_DIR)
    from pyspark.sql import functions as F
    _wu = F.pandas_udf(lambda s: s, "long")
    (spark.range(0, cpus, 1, cpus).select(_wu("id"))
     .write.format("noop").mode("overwrite").save())

    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 4))
    print(json.dumps({"query": query, "arm": arm, "min": min(times),
                      "runs": times}))
    spark.stop()


if __name__ == "__main__":
    main()
