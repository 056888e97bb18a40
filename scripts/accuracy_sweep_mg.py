"""Measured Misra-Gries accuracy on the sf0.1 words corpus: max
underestimate vs the n/(k+1) theory bound across k, plus candidate-set
sizes for the deterministic exact gate (analog of
scripts/accuracy_sweep_theta_fd.py).

Usage: python scripts/accuracy_sweep_mg.py [k...]   (default 16 64 256 1024)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402
from scripts.scale_soak import SF_DIR  # noqa: E402


def main() -> None:
    from scripts._argv import parse_int_list
    ks = parse_int_list(__doc__, "k", [16, 64, 256, 1024])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")

    from realtime_olap_spark.operators import mg as MG

    from realtime_olap_spark import sqlexpr as X

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # trigrams, not words: the synthetic vocabulary is ~31 words (any
    # k >= 31 is trivially exact), but trigram cardinality is real
    words = (docs.select(F.explode(F.expr(X.word_ngrams_sql("text", 3)))
                         .alias("w"))
             .where(F.length("w") > 0).repartition(32))
    exact = {r["w"]: r["n"] for r in
             words.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(exact.values())
    print(f"corpus: {n} words, {len(exact)} distinct", flush=True)

    def sweep(name, stream, truth, total):
        res = {}
        for k in ks:
            parts = MG.mg_partials(stream, "w", k).collect()
            dec = sum(r["dec"] for r in parts if r["key"] is None)
            est = {}
            for r in parts:
                if r["key"] is not None:
                    est[r["key"]] = est.get(r["key"], 0) + r["est"]
            worst = max((truth[w] - e for w, e in est.items()), default=0)
            missing_hot = sum(1 for w, c in truth.items()
                              if c > dec and w not in est)
            res[k] = {"decrement": dec, "bound": total // (k + 1),
                      "worst_underestimate": worst,
                      "keys_kept": len(est),
                      "hot_keys_missed": missing_hot}
            print(f"{name} k={k}: dec={dec} (bound {total // (k + 1)}), "
                  f"worst under={worst}, kept={len(est)}, "
                  f"hot missed={missing_hot}", flush=True)
        return res

    out = {"trigrams_flat": sweep("trigrams", words, exact, n)}

    # skewed stream: Zipf-ish tail p(key=j) ~ 1/j^2 via floor(1/u) —
    # the regime MG exists for (few hot keys over a huge cold tail)
    z = (spark.range(0, 5_000_000, 1, 32)
         .select(F.concat(F.lit("z"),
                          F.floor(1.0 / F.rand(seed=13)).cast("string"))
                 .alias("w")))
    z.cache()
    truth_z = {r["w"]: r["n"] for r in
               z.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()}
    nz = sum(truth_z.values())
    print(f"zipf: {nz} rows, {len(truth_z)} distinct", flush=True)
    out["zipf"] = sweep("zipf", z, truth_z, nz)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
