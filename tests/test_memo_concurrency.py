"""Concurrent access to the session-memo caches (ADVICE r12).

Two driver threads that double-miss the same memo key used to race
evict_memo's dict comprehension against the other thread's insert
(RuntimeError: dictionary changed size during iteration) or both pop
the same stale key (KeyError). The fix is the shared _MEMO_LOCK in
tables.py; this smoke test hammers cold lookups from several threads
across alternating corpus dirs (so evict_memo actually runs) and pins:

1. no exception escapes any thread;
2. every thread resolves the SAME plan object for the same key (the
   memo stays coherent under contention).

The same tripwire covers a non-``load`` memo, dedup's _BANDS_CACHE
(_bands_with_bound), whose derive runs a Spark job.

The race was timing-dependent, so this cannot prove absence — it is
the regression tripwire for someone removing the lock.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from dig_aggregator_core_spark import tables
from dig_aggregator_core_spark.operators import dedup


def _other_fixture(sf_dir: str) -> str:
    """A second corpus dir, so lookups alternate between two dirs."""
    for a, b in (("sf0.001", "sf0.01"), ("sf0.01", "sf0.001")):
        other = sf_dir.replace(a, b)
        if other != sf_dir and os.path.isdir(other):
            return other
    return sf_dir


def test_concurrent_cold_loads_stay_coherent(spark, sf_dir):
    other = _other_fixture(sf_dir)
    dirs = [sf_dir, other] * 3
    names = ["orders", "lineitem", "customer", "documents"]

    def hammer(i: int):
        out = []
        for d in dirs:
            for n in names:
                out.append((d, n, id(tables.load(spark, d, n))))
        return out

    for _round in range(3):
        # cold start each round: clear the memo so every thread races
        # the lookup+derive+insert path (and evict_memo's iteration)
        with tables._MEMO_LOCK:
            tables._LOAD_CACHE.clear()
        with ThreadPoolExecutor(max_workers=6) as pool:
            results = list(pool.map(hammer, range(6)))

    # coherence: for each (dir, table), all threads ended up seeing the
    # single memoized DataFrame object of the LAST insert wave — i.e.
    # lookups after the first insert return the cached object
    final = {}
    for r in results:
        for d, n, obj in r:
            final.setdefault((d, n), set()).add(obj)
    # the same thread pool ran against a stable cache at the end of the
    # last round: a second pass now must be pure hits, one object per key
    check = {}
    for d in dirs:
        for n in names:
            check[(d, n)] = id(tables.load(spark, d, n))
    again = {(d, n): id(tables.load(spark, d, n)) for d in dirs for n in names}
    assert check == again
    assert final == {k: {v} for k, v in check.items()}


def test_concurrent_cold_bands_stay_coherent(spark, sf_dir):
    # cold start: every thread misses and races lookup+derive+insert
    with tables._MEMO_LOCK:
        dedup._BANDS_CACHE.clear()
    with ThreadPoolExecutor(max_workers=4) as pool:
        hits = list(
            pool.map(
                lambda _i: dedup._bands_with_bound(spark, sf_dir), range(8)
            )
        )
    # one derive: every thread got the single memoized (bands, bound)
    assert len({id(h) for h in hits}) == 1
    assert hits[0] is dedup._bands_with_bound(spark, sf_dir)
