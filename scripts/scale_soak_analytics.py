"""Scale soak for the r7 fourth-session operators: gapfill, funnel,
Misra-Gries (same 1x/10x/100x shifted-id-union methodology as
scripts/scale_soak.py — growth RATIOS are the signal).

Timed per scale:
- time_bucket + gapfill linear, emit shape (events, hourly per type):
  input grows kx, bucket grid is constant -> expect ~scan growth
- same pipeline through gapfill_join (the extra-shuffle twin, for the
  shape-vs-shape ratio)
- funnel_match 4 steps, no window (users grow kx via shifted user_id,
  per-user history constant -> expect ~scan growth)
- funnel_counts with a 7-day window
- mg_topk k=1024 over corpus words (kx docs, same vocabulary)
- heavy_hitters_mg (threshold scales with k: copies multiply counts)
  vs the plain groupBy heavy-hitter plan it must beat at scale

Usage: python scripts/scale_soak_analytics.py [scales...] (default 1 10 100)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402
from scripts.scale_soak import noop, staged, timed  # noqa: E402

STEPS = ["signup", "view", "click", "purchase"]


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")

    from realtime_olap_spark.operators import funnel as FN
    from realtime_olap_spark.operators import mg as MG
    from realtime_olap_spark.operators.downsample import (ohlc,
                                                          time_weighted_avg)
    from realtime_olap_spark.operators.gapfill import gapfill, gapfill_join, time_bucket

    results: dict[str, dict[int, float]] = {}

    def record(name: str, k: int, sec: float) -> None:
        results.setdefault(name, {})[k] = sec
        print(f"  {name} x{k}: {sec}s", flush=True)

    for k in scales:
        print(f"== scale x{k}", flush=True)
        ev = staged(spark, "events", "user_id", k)
        docs = staged(spark, "documents", "doc_id", k)
        words = (docs.select(F.explode(F.split(F.col("text"), r"\s+"))
                             .alias("w"))
                 .where(F.length("w") > 0))

        def bucketed():
            return time_bucket(ev, "ts", 3600, ["event_type"],
                               [F.avg("value").alias("v"),
                                F.count(F.lit(1)).cast("double").alias("n")])

        record("gapfill_emit_linear", k, timed(lambda: noop(
            gapfill(bucketed(), "bucket", ["event_type"], ["v", "n"],
                    3600, how="linear"))))
        record("gapfill_join_linear", k, timed(lambda: noop(
            gapfill_join(bucketed(), "bucket", ["event_type"], ["v", "n"],
                         3600, how="linear"))))
        record("funnel_match", k, timed(lambda: noop(
            FN.funnel_match(ev, STEPS))))
        record("funnel_counts_windowed", k, timed(lambda: noop(
            FN.funnel_counts(ev, STEPS, window_seconds=7 * 24 * 3600))))
        record("ohlc_hourly", k, timed(lambda: noop(
            ohlc(ev, "ts", 3600, ["event_type"], "value"))))
        record("twa_hourly", k, timed(lambda: noop(
            time_weighted_avg(ev, "ts", 3600, ["event_type"], "value"))))
        from realtime_olap_spark.operators.attribution import \
            last_touch_attribution
        from realtime_olap_spark.operators.downsample import (counter_rate,
                                                              histogram)
        record("counter_rate_hourly", k, timed(lambda: noop(
            counter_rate(ev, "ts", 3600, ["event_type"], "value"))))
        record("histogram_16bins", k, timed(lambda: noop(
            histogram(ev, "value", 0.0, 50.0, 16,
                      group_cols=["event_type"]))))
        record("attribution_last_touch", k, timed(lambda: noop(
            last_touch_attribution(ev, "purchase",
                                   ["view", "click", "signup"],
                                   lookback_seconds=7 * 24 * 3600))))
        from realtime_olap_spark.operators.attribution import \
            multi_touch_attribution
        record("attribution_multi_linear", k, timed(lambda: noop(
            multi_touch_attribution(ev, "purchase",
                                    ["view", "click", "signup"],
                                    "linear",
                                    lookback_seconds=24 * 3600))))
        record("funnel_step_window", k, timed(lambda: noop(
            FN.funnel_match(ev, STEPS, step_window_seconds=12 * 3600))))
        record("mg_topk_words", k, timed(lambda: noop(
            MG.mg_topk(words, "w", k=1024, top=100))))
        thr = 500 * k
        record("mg_gated_heavy", k, timed(lambda: noop(
            MG.heavy_hitters_mg(words, "w", thr, k=4096))))
        record("plain_heavy (reference)", k, timed(lambda: noop(
            words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= thr))))
        # adaptive router: tiny-vocab words must route to the plain JVM
        # groupBy (the 15x-faster plan here); a keys~rows stream (word
        # tagged with its doc) must route to the MG gate. Probe included
        # in the timing.
        tagged = (docs.select(
            F.posexplode(F.split(F.col("text"), r"\s+"))
            .alias("pos", "w"), F.col("doc_id"))
            .where(F.length("w") > 0)
            .select(F.concat_ws("-", "w", "doc_id", "pos").alias("wk")))
        print(f"  route(words)  -> {MG.probe_route(words, 'w')}",
              flush=True)
        print(f"  route(tagged) -> {MG.probe_route(tagged, 'wk')}",
              flush=True)
        record("hh_auto_lowcard", k, timed(lambda: noop(
            MG.heavy_hitters_auto(words, "w", thr, k=4096))))
        record("topk_auto_lowcard", k, timed(lambda: noop(
            MG.top_k_auto(words, "w", 100, k=1024))))
        # unique-ish keys (keys = rows): threshold sits above the MG
        # decrement bound n/(k+1) so the gate certifies the (empty)
        # answer without a full-key shuffle
        record("hh_auto_highcard", k, timed(lambda: noop(
            MG.heavy_hitters_auto(tagged, "wk", 1500 * k, k=4096))))

    print(json.dumps(results))
    lo, hi = min(scales), max(scales)
    if lo != hi:
        print("growth ratios (x{} vs x{}, ideal <= {}):".format(hi, lo,
                                                                hi // lo))
        for name, d in results.items():
            print(f"  {name}: {round(d[hi] / max(d[lo], 1e-9), 1)}x")
    spark.stop()


if __name__ == "__main__":
    main()
