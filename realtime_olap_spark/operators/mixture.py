"""Training-mix construction: temperature-weighted source sampling.

The standard multi-source pre-training recipe (GPT-3 §2.2, Pile, PaLM):
source ``s`` with ``n_s`` tokens gets sampling weight
``w_s = n_s^α / Σ_t n_t^α`` — α = 1 is proportional (natural mix), α = 0 is
uniform (every source equal), 0 < α < 1 up-weights small, high-value
sources. Given a total token ``target``, source ``s`` keeps
``rate_s = min(1, target·w_s / n_s)`` of its tokens.

Outside the reference's surface (a training-data concern, not OLAP); the
sampling decision itself reuses the deterministic content-hash discipline
of ``operators/sampling.py`` so the realized mix is reproducible on any
engine or partitioning.

Scale design: rates derive from ONE per-source aggregate (map-side
combined; #sources rows) plus a 1-row normalizer attached by a 1-row
cross join — both tiny. Applying them is a broadcast join of the rate
table into the corpus scan followed by a scan-side hash filter: the
corpus itself is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark.operators.sampling import _MOD, _bucket


def temperature_mixture_rates(df: DataFrame, group_col: str,
                              token_col: Column | str, alpha: float,
                              target_tokens: float) -> DataFrame:
    """Per-source rate table ``(group, group_tokens, weight, rate)``.

    ``weight`` is the α-temperature mixture weight, ``rate`` the per-row
    acceptance fraction hitting ``target_tokens`` in expectation (capped
    at 1 — a source cannot be sampled above its size; the shortfall stays
    with the caller, which may re-normalize or epoch small sources)."""
    t = F.col(token_col) if isinstance(token_col, str) else token_col
    totals = df.groupBy(group_col).agg(F.sum(t).alias("group_tokens"))
    z = totals.agg(
        F.sum(F.pow(F.col("group_tokens").cast("double"), F.lit(float(alpha))))
        .alias("__z"))
    w = (F.pow(F.col("group_tokens").cast("double"), F.lit(float(alpha)))
         / F.col("__z"))
    rate = F.least(
        F.lit(1.0),
        F.lit(float(target_tokens)) * F.col("weight")
        / F.col("group_tokens").cast("double"))
    return (totals.crossJoin(F.broadcast(z))
            .withColumn("weight", w)
            .withColumn("rate", rate)
            .drop("__z"))


def apply_mixture_rates(df: DataFrame, group_col: str, key: str,
                        rates: DataFrame,
                        decision_col: str | None = None) -> DataFrame:
    """Filter (or, with ``decision_col``, flag) the corpus by its group's
    rate: row kept iff ``hash(key) mod 1e6 < round(rate·1e6)``. The rate
    table broadcasts; the decision is a scan-side content-hash compare, so
    membership is a row property — stable under re-runs and re-layouts.

    Groups absent from the rate table, and groups whose rate is NULL (a
    zero-token group divides 0/0 → NULL), resolve to rate 0 — the row is
    dropped (or flagged false) with a concrete boolean, never silently
    swallowed by an inner join or a NULL comparison (left join +
    coalesce; r5 advisory)."""
    cut = (F.round(F.coalesce(F.col("rate"), F.lit(0.0)) * _MOD)).cast("long")
    joined = df.join(F.broadcast(rates.select(group_col, "rate")),
                     group_col, "left")
    keep = _bucket(key) < cut
    if decision_col is not None:
        return joined.withColumn(decision_col, keep).drop("rate")
    return joined.where(keep).drop("rate")


def temperature_mixture_sample(df: DataFrame, group_col: str,
                               key: str, token_col: Column | str,
                               alpha: float,
                               target_tokens: float) -> DataFrame:
    """One-call mix construction: rates from the corpus itself, then the
    deterministic per-row decision. Two passes over the corpus (one
    aggregate, one filtered scan) — the aggregate is the same scan Spark
    will usually have cached column stats for."""
    rates = temperature_mixture_rates(df, group_col, token_col, alpha,
                                      target_tokens)
    return apply_mixture_rates(df, group_col, key, rates)
