"""plan_cache without Spark: duck-typed plans exercise the keying,
collision, bound and locking rules (the Spark-side frame tests live in
test_rasterize_vectorize.py)."""

import collections
import sys
import threading
import time

import pytest

from pythongis_spark import plan_cache


class _Plan:
    """Stands in for a DataFrame; every three plans share one hash. Like
    the py4j round trip it replaces, sameSemantics yields the GIL."""

    def __init__(self, n):
        self.n = n

    def semanticHash(self):
        return self.n % 3

    def sameSemantics(self, other):
        time.sleep(0)
        return self.n == other.n


class _Unhashable:
    def semanticHash(self):
        raise RuntimeError("plan cannot be hashed")


@pytest.fixture
def entries(monkeypatch):
    cache = collections.OrderedDict()
    monkeypatch.setattr(plan_cache, "_ENTRIES", cache)
    return cache


def test_unhashable_plan_is_computed_not_memoized(entries):
    calls = []
    for _ in range(2):
        assert plan_cache.memo(_Unhashable(), "f", lambda: calls.append(1) or 5) == 5
    assert len(calls) == 2 and not entries


def test_concurrent_callers_get_their_own_plans_facts(entries, monkeypatch):
    monkeypatch.setattr(plan_cache, "MAX_PLANS", 2)
    plans = [_Plan(n) for n in range(6)]
    wrong, errors = [], []

    def worker(seed):
        try:
            for i in range(300):
                p, f = plans[(seed * 7 + i) % 6], i % 4
                if plan_cache.memo(p, f, lambda: (p.n, f)) != (p.n, f):
                    wrong.append((p.n, f))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert len(entries) <= 2
    for src, facts in entries.values():
        assert all(v == (src.n, f) for f, v in facts.items())
