from __future__ import annotations

import os

import pytest

from fugu_spark.session import get_spark

# The suite shares ONE session JVM across ~50 modules, and most module
# fixtures cache() index frames they never unpersist. Bound the heap
# (the engine default 48g lets RSS balloon over a long suite) and clear
# the block store between modules so storage memory stays flat. The
# JVM deaths once blamed on this cap (test_serve's TestCount killing
# every later test with ConnectionRefused, at 12g and at 24g) were not
# the suite's heap needs: its `search_segments(si, q, k=10**9)` sized
# Spark's top-k buffer (Guava TopKSelector, Object[2k] per task) by k.
# search.cap_top_k caps k at the index's document count; with it the
# whole suite peaked at 7.4 GB resident (4-vCPU, 15 GB host), and 24g
# stays half the engine default.
os.environ.setdefault("FUGU_SPARK_DRIVER_MEM", "24g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fugu_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="module", autouse=True)
def _clear_spark_cache_between_modules(request):
    yield
    # only touch an already-running session — never start one for a
    # module that didn't use Spark
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        try:
            active.catalog.clearCache()
        except Exception:
            pass
