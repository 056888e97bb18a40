"""One shared per-(session, corpus) memo for ingest-time artifacts —
segment stagings, the scored-pair table, span audit, LM freqs, DSIR
LUTs, … all follow the same contract: built once per (applicationId,
sf_dir), materialized if a DataFrame, reused by every consumer.
Centralizing the boilerplate means the session-lifecycle behavior
(eviction, lineage truncation, build locking) lives in exactly one
place. (Lives at package top level so low layers like ``catalog`` can
use it without importing the query suite; ``suite.memo`` re-exports.)

DataFrames are materialized with ``localCheckpoint(eager=True)`` rather
than bare ``persist()``: consumers then plan against a flat scan of the
cached partitions instead of re-analyzing the artifact's deep logical
plan on every query — measured 0.195 s → 0.110 s for the span-audit agg
at sf0.1 (the r6 ``dedup_exact`` bench regression was planning cost, not
execution). On a real cluster the artifact would be a written table
(``operators/dedup.minhash_bands`` materialization); localCheckpoint is
the in-session analog, with the same rebuild-on-loss story as any other
node-local cache. Non-DataFrame artifacts (fitted models, LUTs, staged
paths) are stored verbatim.

Locking: the global lock guards only STORE bookkeeping (dict reads and
writes — microseconds); each build runs under its own per-key gate, so
a cache HIT never blocks behind another artifact's multi-second Spark
build (a PQLServer planner reading a memoized table proceeds while a
sibling thread builds the span audit). Same-key racers serialize on the
gate and the loser finds the winner's entry. Gates are reentrant and
builds may NEST (a suite artifact's build reads catalog tables whose
segment staging is itself memoized); the nesting graph is acyclic
(suite artifacts → catalog stagings), so distinct-key gates cannot
deadlock.

Entries from dead sessions are evicted on access (their RDDs died with
the SparkContext, so there is nothing to unpersist), and ``clear()``
drops every reference for teardown use by the bench / test harnesses.
Dropping the reference IS the release mechanism for checkpointed
blocks: localCheckpoint data lives in the RDD block store, which
Spark's ContextCleaner frees asynchronously once the RDD is
unreferenced (DataFrame.unpersist() would be a no-op on it — it only
touches the CacheManager).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_STORE: dict[tuple[str, str, str], Any] = {}
_GATES: dict[tuple[str, str, str], threading.RLock] = {}
_LOCK = threading.RLock()
_ACTIVE_APP: list[str | None] = [None]  # the app id of the last access


def _evict_dead(active_app_id: str) -> None:
    """Drop entries whose owning SparkContext is gone — their cached
    RDDs are already unreachable, keeping them only leaks driver memory
    in long-lived processes that restart sessions (advice r6). Only a
    change of the active context can leave dead entries, so the sweep
    runs then, not on every access (a served query looks up one entry
    per segment)."""
    if _ACTIVE_APP[0] == active_app_id:
        return
    _ACTIVE_APP[0] = active_app_id
    for key in [k for k in _STORE if k[0] != active_app_id]:
        del _STORE[key]
        _GATES.pop(key, None)


def session_memo(spark: SparkSession, sf_dir: str, name: str,
                 build: Callable[[], Any],
                 materialize: bool = True) -> Any:
    """Return the cached artifact for ``(session, corpus, name)``,
    building (and materializing, for DataFrames) on first use.

    ``materialize=False`` caches the DataFrame OBJECT without
    localCheckpoint — for plan-level reuse where the value must stay a
    FileScan (catalog tables: re-reading the footer and re-resolving the
    DataSource per query is driver-side overhead, but
    checkpointing would replace the scan with an ExistingRDD and lose
    pushdown/pruning)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    with _LOCK:
        _evict_dead(app_id)
        if key in _STORE:
            return _STORE[key]
        gate = _GATES.setdefault(key, threading.RLock())
    with gate:
        with _LOCK:  # a same-key racer may have built while we waited
            if key in _STORE:
                return _STORE[key]
        got = build()
        if isinstance(got, DataFrame) and materialize:
            got = got.localCheckpoint(eager=True)
            # Artifacts inherit their parent scan's partitioning
            # (multi-part when built from staged segments), but they
            # are small (10³-10⁵ rows) and their consumers run cheap
            # aggs — at ~10 ms/task of local-mode overhead, dozens of
            # near-empty partitions tax every downstream query.
            # Coalesce the CHECKPOINTED frame (narrow op over cached
            # blocks, no data movement; build parallelism already
            # happened) to ~8k rows/partition.
            n = got.rdd.getNumPartitions()
            target = max(1, min(n, got.count() // 8192 + 1))
            if target < n:
                got = got.coalesce(target)
        with _LOCK:
            _STORE[key] = got
        return got


def clear() -> None:
    """Drop every memoized reference (bench/test teardown hook).
    Checkpointed block cleanup is asynchronous: ContextCleaner frees an
    RDD's blocks once nothing references it, so dropping the store is
    the whole job. ``unpersist()`` is still attempted for any artifact
    that happens to sit in the CacheManager (persist()-style)."""
    with _LOCK:
        for got in _STORE.values():
            if isinstance(got, DataFrame):
                try:
                    got.unpersist()
                except Exception:  # session already stopped
                    pass
        _STORE.clear()
        _GATES.clear()
