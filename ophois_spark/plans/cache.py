"""Named cache slots and session memos.

Cache slots serve operators that persist intermediate lineage.

Operators like ``shingle_jaccard_pairs`` / ``near_dup_pairs`` persist a
small intermediate (shingle rows, band buckets) that several branches of
the returned plan read. A returned lazy DataFrame can't self-unpersist,
so without bookkeeping every re-invocation in one session leaks a cache
block (and the only global remedy, ``spark.catalog.clearCache()``, also
evicts unrelated caches such as the session component-label cache).

``swap_cached(slot, df)`` keeps at most ONE live block per named slot:
re-invoking the operator unpersists the previous block before persisting
the new one. Unpersisting is always safe — a previously returned lazy
result that still references the old block simply recomputes its
lineage (Spark semantics), it never breaks. ``release(slot)`` frees a
slot explicitly (e.g. after the last action on the result).

``session_memo`` serves registry builders whose result several queries
share (the derived graph, component labels, trained BPE merges): one
entry per (Spark application, ``sf_dir``), evicted on a new key, with
hit/miss counts and a reset. Every memo joins one registry, so a
harness can reset them all, or just the one a registry row produces.
"""

from __future__ import annotations

import functools
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_SLOTS: dict[str, DataFrame] = {}


def swap_cached(
    slot: str,
    df: DataFrame,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` under ``slot``, unpersisting the slot's previous
    occupant (lazy: no job runs here; the first action materializes)."""
    release(slot)
    out = df.persist(storage_level)
    _SLOTS[slot] = out
    return out


def release(slot: str) -> None:
    """Unpersist and forget the slot's cached block, if any."""
    prev = _SLOTS.pop(slot, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free


def live_slots() -> list[str]:
    return sorted(_SLOTS)


class SessionMemo:
    """A ``(spark, sf_dir)`` builder memoized per (applicationId,
    ``sf_dir``); ``store`` holds at most one entry."""

    def __init__(self, build: Callable[[SparkSession, str], Any], produces: str | None):
        functools.update_wrapper(self, build)
        self.build = build
        self.produces = produces
        self.store: dict[tuple[str, str], Any] = {}
        self.hits = 0
        self.misses = 0

    def __call__(self, spark: SparkSession, sf_dir: str) -> Any:
        key = (spark.sparkContext.applicationId, sf_dir)
        if key in self.store:
            self.hits += 1
        else:
            self.misses += 1
            self.store.clear()
            self.store[key] = self.build(spark, sf_dir)
        return self.store[key]

    def reset(self) -> None:
        self.store.clear()


MEMOS: list[SessionMemo] = []


def session_memo(produces: str | None = None) -> Callable[[Callable], SessionMemo]:
    """Decorate a ``(spark, sf_dir)`` builder as a registered session
    memo; ``produces`` names the registry row whose work the build is."""

    def wrap(build: Callable) -> SessionMemo:
        memo = SessionMemo(build, produces)
        MEMOS.append(memo)
        return memo

    return wrap


def memo_resets() -> dict[str, Callable[[], None]]:
    """Registry row -> the reset of the memo that row produces."""
    return {m.produces: m.reset for m in MEMOS if m.produces}
