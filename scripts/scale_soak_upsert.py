"""Scale soak for the primary-key upsert state: demonstrate that the
per-batch fold cost is O(batch + touched buckets), not O(state).

Geometry matters for an honest local measurement: per-task dispatch on
this box is ~6-10 ms (COVERAGE.md "partition-count hygiene"), so the
bucket layout only shows its asymptotic win once per-bucket DATA cost
dominates task overhead. State = 10M keys; 64 buckets (~156k keys
each); the small batch touches ≤5 buckets (~8% of the state read +
rewritten) vs the degenerate 1-bucket layout (100% re-read + rewrite
per fold, the O(state) shape the bucketing exists to avoid). Folds are
measured min-of-2 with the two layouts ALTERNATED (JIT order bias —
see the verify-skill notes).

Usage: python scripts/scale_soak_upsert.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

N_KEYS = 10_000_000
STAGE = "/tmp/scale_soak_upsert"


def main() -> None:
    from scripts._argv import parse_int_args
    parse_int_args(__doc__, [])  # --help + reject stray args
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.streaming.upsert import read_upsert, upsert_batch

    base = (spark.range(N_KEYS)
            .select(F.col("id").alias("k"), F.lit(1).alias("v"),
                    F.md5(F.col("id").cast("string")).alias("payload")))

    out = {}
    layouts = ((64, "b64"), (1, "b1"))
    for nb, tag in layouts:
        path = f"{STAGE}/{tag}"
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        upsert_batch(spark, path, base, ["k"], "v", n_buckets=nb)
        out[f"{tag}_initial_publish_s"] = round(time.perf_counter() - t0, 2)

    # alternate layouts per rep; min-of-2 per layout
    for rep in range(2):
        for nb, tag in layouts:
            small = (spark.range(5)
                     .select((F.col("id") * 997).alias("k"),
                             F.lit(2 + rep).alias("v"),
                             F.lit(f"upd{rep}").alias("payload")))
            t0 = time.perf_counter()
            upsert_batch(spark, f"{STAGE}/{tag}", small, ["k"], "v",
                         n_buckets=nb)
            sec = round(time.perf_counter() - t0, 2)
            key = f"{tag}_small_batch_fold_s"
            out[key] = min(out.get(key, 1e9), sec)
    for nb, tag in layouts:
        n = read_upsert(spark, f"{STAGE}/{tag}").count()
        assert n == N_KEYS, n
    print(json.dumps(out))


if __name__ == "__main__":
    main()
