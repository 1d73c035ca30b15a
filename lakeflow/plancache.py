"""Session-scoped DataFrame-builder memo for shared tier plans.

Why this exists (r11 optimization, guide §5 "the driver should do almost
no data work"): building the silver-claims plan costs ~3,100 py4j round
trips (~0.9 s of driver wall, measured with cProfile — 60% of it socket
recv on the py4j channel). Every gold view and every bench repeat paid
that construction again, even though the DATA was already deduped by
Spark's CacheManager via persist(): plan-identical DataFrames hit the
same InMemoryRelation, but the Python-side expression-tree construction
and its py4j traffic re-ran per call. Memoizing the built DataFrame
HANDLE per (SparkSession, key) removes the rebuild; the returned object
is the same lazy plan the builder would have produced, so execution
semantics, oracle results, and physical plans are bit-identical.

This is a plan memo, NOT a result memo: nothing is computed at memo
time, every action still executes the full query against the parquet
inputs (modulo the persisted medallion tiers that were already part of
the design — silver claims, normalized docs, minhash signatures).

Keys are (builder name, *args) per session. Lifetime (ADVICE r11): the
memoized DataFrames strongly reference their SparkSession, so a
garbage-collection hook can never fire while a store exists — instead
each access sweeps stores whose session has been STOPPED
(``sparkContext._jsc is None``), so a dead context's plans are never
served and a recycled ``id()`` can never alias a dead session's store.
A fresh session (e.g. the verification driver's vanilla SparkSession)
starts empty.

Scale note: on a real deployment this is the "prepared statement /
registered view" layer every warehouse front-end keeps — the analyzed
plan for a shared tier is built once per session, not once per query.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: session id -> (session, {key: DataFrame}, {key: build lock}). The
#: session object is held so the per-access sweep can test liveness;
#: this adds no pinning the memoized DataFrames (which reference their
#: session) don't already do.
_STORES: dict[
    int, tuple[Any, dict[Hashable, "DataFrame"], dict[Hashable, threading.Lock]]
] = {}

#: Guards _STORES. Builds run outside it, under their key's own lock:
#: concurrent first callers of one key (pool threads reaching
#: io.read_table) wait for a single build, other keys proceed.
_LOCK = threading.Lock()


def _stopped(spark: Any) -> bool:
    """True if the session's SparkContext has been stopped (PySpark
    nulls the JVM handle in ``SparkContext.stop``)."""
    try:
        return spark.sparkContext._jsc is None
    except Exception:
        return True


def _sweep() -> None:
    """Drop stores owned by stopped sessions so their dead-context
    plans stop being servable and the store memory is reclaimed."""
    for sid in [sid for sid, (s, *_) in _STORES.items() if _stopped(s)]:
        _STORES.pop(sid, None)


def tier(
    spark: "SparkSession", key: Hashable, build: Callable[[], "DataFrame"]
) -> "DataFrame":
    """Return the session's memoized DataFrame for ``key``, building it
    with ``build()`` on first use. Concurrent first uses of one key run
    ``build`` once; the others wait for its result."""
    with _LOCK:
        _sweep()
        entry = _STORES.get(id(spark))
        if entry is None:
            entry = _STORES[id(spark)] = (spark, {}, {})
        _, store, locks = entry
        df = store.get(key)
        if df is not None:
            return df
        key_lock = locks.setdefault(key, threading.Lock())
    with key_lock:
        df = store.get(key)
        if df is None:
            df = store[key] = build()
    return df


def clear(spark: "SparkSession") -> None:
    """Drop the session's memoized plans. Pair with
    ``spark.catalog.clearCache()`` when a test/tool wants a truly cold
    trajectory: clearCache alone un-materializes the persisted tiers,
    but memoized builders would then skip the ``persist()`` call on
    rebuild and the plans would lose their InMemoryRelation
    substitution — clearing both makes the next access re-run the
    builder (including its idempotent persist), exactly like a fresh
    session."""
    with _LOCK:
        _STORES.pop(id(spark), None)
