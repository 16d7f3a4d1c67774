import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pythongis_spark.session import get_spark

    s = get_spark(app="pythongis_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def pcache(monkeypatch):
    """An empty plan cache for the test; its frames are released after."""
    import collections

    from pythongis_spark import plan_cache

    cache = collections.OrderedDict()
    monkeypatch.setattr(plan_cache, "_ENTRIES", cache)
    yield cache
    for _, facts in cache.values():
        plan_cache._release(facts)
