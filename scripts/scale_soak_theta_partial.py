"""Theta bounded-partial soak + A/B (r16 verdict item 3).

Adversarial shape: ONE scan partition holding 1e7 DISTINCT keys. The
r16 build buffered that partition's entire distinct hash set in a
single unspillable collect_set ImperativeAggregate buffer and shipped
it whole through the exchange; the r17 build folds Arrow batches into a
running (k+1)-smallest numpy array — task state O(k + batch) — and
exchanges ≤ (k+1)·P longs.

Prints one JSON line: adversarial timings for both shapes (old shape
skippable via --skip-old when memory-constrained), equality of the
sketches, and a same-session interleaved A/B (min-of-4 per arm) on the
bench-geometry grouped build (events, group=event_type, k=2048).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def old_theta_build(df, key, k):
    """The r16 collect_set shape, verbatim (for the A/B only)."""
    from realtime_olap_spark.operators.theta import (HASH_DOMAIN,
                                                     _from_sorted,
                                                     theta_hash)
    h = theta_hash(key)
    k1 = k + 1
    partial = (df.select(h.alias("h")).where(F.col("h").isNotNull())
               .groupBy(F.spark_partition_id().alias("__pid"))
               .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k1)
                    .alias("__hs")))
    merged = (partial.select(F.explode("__hs").alias("h"))
              .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k1)
                   .alias("__hs")).toPandas())
    hs = merged["__hs"][0] if len(merged) else []
    hashes = [int(v) for v in hs] if hs is not None else []
    return _from_sorted(hashes, HASH_DOMAIN, k)


def old_theta_build_grouped(df, group_cols, key, k):
    from realtime_olap_spark.operators.theta import (HASH_DOMAIN,
                                                     _from_sorted,
                                                     theta_hash)
    h = theta_hash(key)
    k1 = k + 1
    partial = (df.select(*group_cols, h.alias("h"))
               .where(F.col("h").isNotNull())
               .groupBy(F.spark_partition_id().alias("__pid"), *group_cols)
               .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k1)
                    .alias("__hs")))
    pdf = (partial.select(*group_cols, F.explode("__hs").alias("h"))
           .groupBy(*group_cols)
           .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k1)
                .alias("__hs")).toPandas())
    gs_cols = [pdf[g].tolist() for g in group_cols]
    return {tuple(c[i] for c in gs_cols):
            _from_sorted(sorted(int(v) for v in hs), HASH_DOMAIN, k)
            for i, hs in enumerate(pdf["__hs"].tolist())}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-old", action="store_true")
    ap.add_argument("--n", type=int, default=10_000_000)
    args = ap.parse_args()

    from realtime_olap_spark.operators.theta import (theta_build,
                                                     theta_build_grouped)
    from realtime_olap_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("realtime-olap-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_adversarial": args.n}

    # --- adversarial: 1 partition, n distinct keys --------------------
    adv = (spark.range(0, args.n, 1, 1)
           .select(F.concat(F.lit("k"), F.col("id")).alias("key")))
    t0 = time.perf_counter()
    sk_new = theta_build(adv, "key", k=4096)
    out["adversarial_new_sec"] = round(time.perf_counter() - t0, 2)
    if not args.skip_old:
        t0 = time.perf_counter()
        sk_old = old_theta_build(adv, "key", k=4096)
        out["adversarial_old_sec"] = round(time.perf_counter() - t0, 2)
        out["adversarial_equal"] = (sk_new == sk_old)

    # --- bench-geometry interleaved A/B (grouped, events) -------------
    from realtime_olap_spark.catalog import Catalog
    ev = Catalog(spark, SF_DIR).table("events")
    key = F.concat_ws("@", F.col("user_id").cast("string"),
                      F.col("ts").cast("date").cast("string"))
    # warm both shapes once
    theta_build_grouped(ev, ["event_type"], key, k=2048)
    old_theta_build_grouped(ev, ["event_type"], key, k=2048)
    runs: dict[str, list[float]] = {"new": [], "old": []}
    eq = True
    for _ in range(4):
        t0 = time.perf_counter()
        a = theta_build_grouped(ev, ["event_type"], key, k=2048)
        runs["new"].append(round(time.perf_counter() - t0, 4))
        t0 = time.perf_counter()
        b = old_theta_build_grouped(ev, ["event_type"], key, k=2048)
        runs["old"].append(round(time.perf_counter() - t0, 4))
        eq = eq and (a == b)
    out["grouped_bench_new_min4"] = min(runs["new"])
    out["grouped_bench_old_min4"] = min(runs["old"])
    out["grouped_runs"] = runs
    out["grouped_equal"] = eq
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
