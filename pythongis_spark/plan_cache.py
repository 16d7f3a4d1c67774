"""Session-lifetime memo of facts derived from source plans.

Plan-time probes (the spatial joins' layer profiles, scan partition
counts) and persisted build sides are facts about one
source plan. Memoizing them means a repeated join against the same
dimension table -- the pattern the reference serves with its cached
r-tree -- plans with zero pre-jobs and reads its build side from
storage.

One LRU of at most ``MAX_PLANS`` source plans, keyed by
``semanticHash``. That hash is 32-bit, so every hit is confirmed with
``sameSemantics`` against the stored plan: a collision, or a plan from
a stopped session, replaces the entry instead of serving another plan's
facts. A fact whose value is a DataFrame is persisted when stored and
unpersisted when its entry leaves the cache. Facts go stale if the
files under a plan change mid-session; call :func:`clear` then (the
same contract as catalog statistics).
"""

from __future__ import annotations

import collections
import threading

from pyspark.sql import DataFrame

MAX_PLANS = 8

# semanticHash -> (source plan, {fact: value}), least recently used first
_ENTRIES: "collections.OrderedDict[int, tuple[DataFrame, dict]]" = collections.OrderedDict()
_LOCK = threading.Lock()


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:
        return False


def _release(facts: dict) -> None:
    """Unpersist the frames of an entry leaving the cache (non-blocking);
    frames of a stopped session raise and are skipped."""
    for val in facts.values():
        if isinstance(val, DataFrame):
            try:
                val.unpersist(blocking=False)
            except Exception:
                pass


def memo(src: DataFrame, fact, make):
    """Return ``make()``, memoized as ``fact`` of the plan ``src``.

    ``fact`` names the fact and carries every parameter it depends on
    besides ``src`` (for example ``("profile", geom_col, cell_cap)``). A
    DataFrame result is persisted and stays cached while its entry
    does. A plan whose ``semanticHash`` raises is computed without
    memoizing it."""
    try:
        key = src.semanticHash()
    except Exception:
        return make()
    with _LOCK:
        entry = _ENTRIES.get(key)
        if entry is None or not _same_plan(src, entry[0]):
            if entry is not None:
                _release(entry[1])
            entry = _ENTRIES[key] = (src, {})
        _ENTRIES.move_to_end(key)
        while len(_ENTRIES) > MAX_PLANS:
            _release(_ENTRIES.popitem(last=False)[1][1])
        if fact in entry[1]:
            return entry[1][fact]
    val = make()
    if isinstance(val, DataFrame):
        val = val.persist()
    with _LOCK:
        kept = entry[1].setdefault(fact, val) if _ENTRIES.get(key) is entry else None
    if kept is not val:
        # another caller stored the fact first, or the entry left the
        # cache while computing: serve this value without keeping it
        _release({fact: val})
    return val


def clear() -> None:
    """Forget every fact and unpersist every memoized frame."""
    with _LOCK:
        for _, facts in _ENTRIES.values():
            _release(facts)
        _ENTRIES.clear()
