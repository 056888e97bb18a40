"""Deterministic sampling for training-data curation.

Random sampling (``df.sample``/``sampleBy``) is seed × partitioning
dependent — irreproducible across engines and across re-runs on different
cluster layouts, which is unacceptable for dataset curation lineage. These
operators sample by CONTENT HASH instead: the same row is always in or out
of the sample regardless of engine, partitioning, or run — and every
operator is expressible in plain SQL, so the DuckDB differential oracle
covers them (tests/test_sampling.py).

Scale design: hash-fraction sampling is a pure scan-side filter (no
shuffle, pushes column pruning); stratified fixed-count take is one
window over a single shuffle on the strata columns; the split column is a
zero-shuffle projection usable as a write-time partition column so
train/test land in separate segment directories.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X

# hash space for rate decisions: 60-bit hash mod 1e6 → rate granularity 1e-6
_MOD = 1_000_000


def _bucket(key: str) -> Column:
    """Deterministic per-row bucket in [0, 1e6): md5-based 60-bit hash
    (``sqlexpr.word_hash60_sql``) of the string form of the column named
    ``key`` — identical in any engine with md5.

    NULL keys hash a fixed sentinel instead of propagating NULL, so all
    three samplers share one policy: a NULL-key row is an ordinary member
    of the universe (previously hash_sample silently dropped it — NULL <
    cut is never true — while train_test_split routed it to 'train')."""
    k = (f"coalesce(CAST({X.col_sql(key)} AS STRING), "
         f"{X._sql_str(chr(0) + '__null_key__')})")
    return F.expr(f"{X.word_hash60_sql(k)} % {_MOD}")


def sample_flag(key: str, fraction: float) -> Column:
    """Boolean membership column for the hash sample — the decision
    ``hash_sample`` filters on, exposed so curation audits can carry the
    in/out bit alongside the row instead of dropping rows."""
    return _bucket(key) < F.lit(int(round(fraction * _MOD)))


def hash_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, decided by the key's hash — stable under
    re-runs, engine changes, and repartitioning (unlike df.sample)."""
    return df.where(sample_flag(key, fraction))


def stratified_rank(strata: Sequence[str], key: str) -> Column:
    """1-based deterministic rank of a row within its stratum, in hash
    order of the key (string form breaks hash ties): ``rank <= n`` is the
    ``stratified_take`` membership decision."""
    w = Window.partitionBy(*strata).orderBy(_bucket(key).asc(),
                                            F.col(key).cast("string").asc())
    return F.row_number().over(w)


def stratified_rank_probe(universe: DataFrame, probes: DataFrame,
                          strata: Sequence[str], key: str,
                          rank_name: str = "strat_rank") -> DataFrame:
    """``(key, rank)`` for the PROBE rows only, where rank is exactly the
    value :func:`stratified_rank` assigns them over ``universe`` — but
    computed as a broadcast count instead of a full window: rank(p) =
    |{u in p's stratum : (bucket(u), str(u.key)) <= (bucket(p),
    str(p.key))}| (the string tie-break makes the order total, so the
    count equals the row_number; ``<=`` includes the probe itself).

    Shape at scale: the window form shuffles and sorts the ENTIRE
    universe to rank a handful of probes; this form broadcasts the probe
    rows, scans the universe once with a hash join on the strata plus
    the ordering residual, and partially aggregates to |probes| counts —
    no universe shuffle, no sort. Use it when |probes| is small (e.g. a
    trimmed audit set); the window form remains right for ranking the
    whole universe. Probe rows absent from the universe still count
    themselves only if present — pass probes drawn from the universe
    (the audit use case). Equality with the window form is pinned in
    tests."""
    b = _bucket(key)
    u = universe.select(
        *[F.col(s) for s in strata], b.alias("__ub"),
        F.col(key).cast("string").alias("__uk"))
    p = probes.select(
        F.col(key).alias("__pid"),
        *[F.col(s).alias(f"__p_{s}") for s in strata],
        b.alias("__pb"), F.col(key).cast("string").alias("__pk"))
    # null-safe: the window form groups NULL strata together, so the
    # count form must match NULL = NULL too (<=> remains a hashable
    # equi-key for the broadcast join)
    strata_eq = [u[s].eqNullSafe(p[f"__p_{s}"]) for s in strata]
    order_le = (F.col("__ub") < F.col("__pb")) | (
        (F.col("__ub") == F.col("__pb")) & (F.col("__uk") <= F.col("__pk")))
    cond = order_le
    for e in strata_eq:
        cond = e & cond
    return (u.join(F.broadcast(p), cond)
            .groupBy(F.col("__pid").alias(key))
            .agg(F.count(F.lit(1)).cast("int").alias(rank_name)))


def stratified_take(df: DataFrame, strata: Sequence[str], key: str,
                    n: int) -> DataFrame:
    """At most ``n`` rows per stratum, chosen in hash order of the key —
    the deterministic analog of per-group reservoir sampling (balanced
    corpus construction: 'n docs per (lang, source)'). One shuffle on the
    strata; ties broken by the key's string form for total determinism."""
    return (df.withColumn("__rn", stratified_rank(strata, key))
            .where(F.col("__rn") <= n).drop("__rn"))


def mixture_sample(df: DataFrame, strata_col: str, key: str,
                   fractions: dict[str, float],
                   default_fraction: float = 0.0) -> DataFrame:
    """Per-stratum hash-fraction sampling — the training-mix construction
    step ('keep 100% of books, 30% of web, 1% of logs'). Decision is
    content-hash per row (reproducible, partitioning-independent), the
    rate is looked up from the stratum via a literal CASE chain — pure
    scan-side filter, no shuffle, no join, prunes at the parquet scan.
    Strata absent from ``fractions`` keep ``default_fraction``."""
    cut = F.lit(int(round(default_fraction * _MOD)))
    for stratum, frac in sorted(fractions.items()):
        cut = F.when(F.col(strata_col) == stratum,
                     F.lit(int(round(frac * _MOD)))).otherwise(cut)
    return df.where(_bucket(key) < cut)


def train_test_split(df: DataFrame, key: str,
                     test_fraction: float = 0.1,
                     col_name: str = "split") -> DataFrame:
    """Adds a 'train'/'test' column by key hash: membership is a property
    of the ROW, so re-ingesting or re-partitioning the corpus never leaks
    test rows into train. Use ``col_name`` as a write-time partition
    column to store the two sides as separate segments."""
    cut = int(round(test_fraction * _MOD))
    return df.withColumn(
        col_name, F.when(_bucket(key) < F.lit(cut), F.lit("test"))
                   .otherwise(F.lit("train")))


def leakage_safe_split(df: DataFrame, id_col: str, pairs: DataFrame,
                       test_fraction: float = 0.1,
                       col_name: str = "split",
                       id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Train/test split that keeps every NEAR-DUP CLUSTER on one side:
    splitting by row hash lets a test document's near-duplicate land in
    train (memorized-content leakage); here the hash key is the cluster
    representative from connected components over the near-dup ``pairs``
    (``operators/components.py``), falling back to the row's own id for
    docs in no pair. One broadcast-or-shuffle LEFT join of the (id →
    cluster) table; the split decision itself stays a scan-side hash."""
    from realtime_olap_spark.operators.components import duplicate_clusters
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b) \
        .withColumnRenamed("node", "__node")
    joined = df.join(clusters,
                     F.col(id_col).cast("long") == F.col("__node"), "left")
    keyed = joined.withColumn(
        "__key", F.coalesce(F.col("component"), F.col(id_col).cast("long")))
    return train_test_split(keyed, "__key", test_fraction, col_name) \
        .drop("__node", "component", "__key")
