"""Persist lifecycle tracking.

Operators that feed ONE frame into both sides of a self-join (minhash
signatures, jaccard shingles) persist it so the expensive build runs
once, not per branch. But ``persist`` without a paired ``unpersist``
leaks cached partitions for the lifetime of a long-lived driver session
(round-2 ADVICE): every repeated query run stacks more MEMORY_AND_DISK
blocks until the executors evict under pressure.

Lazy evaluation makes the operator itself the wrong owner — it returns
an unmaterialized DataFrame, so it can never know when the cache is no
longer needed. This module gives the MATERIALIZING caller that handle:

    from fingerprint_spark.caching import release_tracked
    df = some_query(...)     # internally track_persist()s frames
    df.write...              # materialize
    release_tracked(spark)   # drop every cache the query pinned

bench.py releases after each measured query; tests assert nothing stays
pinned. One-shot spark-submit jobs can skip release (the JVM exits).

The second lifecycle here is the driver-side memo. A Python UDF holds
the SparkContext it was made under (its accumulator and broadcast
wiring), and so does every Column that calls it. A process-wide
``lru_cache`` hands those objects to the NEXT context after
``spark.stop()``, where every UDF task logs a failed accumulator update.
``ContextCache`` (and the ``context_cached`` decorator over it) is a
bounded LRU memo that drops all its entries when the live SparkContext
changes.
"""

from __future__ import annotations

import functools
import threading
import weakref
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

V = TypeVar("V")

_TRACKED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + register for a later release_tracked()."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(df)
    return df


def release_tracked(spark=None) -> int:
    """Unpersist every tracked frame (non-blocking); returns how many."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to release
    _TRACKED.clear()
    return n


class ContextCache:
    """Bounded LRU memo scoped to the live SparkContext.

    ``get(key, build)`` returns the value memoized under ``key`` for the
    current context, building it on a miss. When the active context
    differs from the one the entries were built under, every entry is
    dropped first. With no active context, or an unhashable key, the
    value is built and not kept. At most ``maxsize`` entries are held;
    the least recently used one is evicted first."""

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._entries: OrderedDict = OrderedDict()
        self._context = None  # weakref to the context the entries belong to
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: Hashable, build: Callable[[], V]) -> V:
        sc = SparkContext._active_spark_context
        if sc is None:
            return build()
        try:
            hash(key)
        except TypeError:
            return build()
        with self._lock:
            if self._context is None or self._context() is not sc:
                self._entries.clear()
                self._context = weakref.ref(sc)
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
        value = build()
        with self._lock:
            if self._context() is sc:
                self._entries[key] = value
                while len(self._entries) > self.maxsize:
                    self._entries.popitem(last=False)
        return value


def context_cached(maxsize: int):
    """``functools.lru_cache`` for factories of SparkContext-bound
    objects (Python UDFs): positional arguments are the key and the
    memo is a ``ContextCache``."""

    def decorate(fn):
        cache = ContextCache(maxsize)

        @functools.wraps(fn)
        def wrapper(*args):
            return cache.get(args, lambda: fn(*args))

        return wrapper

    return decorate
