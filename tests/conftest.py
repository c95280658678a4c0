import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reffy_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# Recycle the shared SparkSession every N test modules. A long-lived
# session accumulates broadcast pieces and cached frames until the
# storage pool fills; the next broadcast then EVICTS under the
# memory-manager lock, and the evicting thread can hit the JDK-17
# ClassValue invalidation spin inside Kryo creation (observed: suite
# wedged at 400% CPU with every task thread BLOCKED on the
# UnifiedMemoryManager monitor). Bounding session age keeps the storage
# pool away from eviction territory; a recycle costs ~2-5s (the gateway
# JVM survives stop()). test_oracle_parity additionally overrides this
# fixture with a per-test-counting variant — its 77 tests live in ONE
# module, outliving any per-module bound.
_RECYCLE_EVERY = int(os.environ.get("SPARK_GRAFT_TEST_RECYCLE_MODULES", "6"))
_state = {"spark": None, "modules_served": 0}


def recycle_spark():
    if _state["spark"] is not None:
        try:
            _state["spark"].stop()
        except Exception:
            pass
    _state["spark"] = None
    _state["modules_served"] = 0


def _fresh_spark():
    return get_spark("reffy_spark_tests", cores=4, shuffle_partitions=8)


def shared_spark():
    if _state["spark"] is None:
        _state["spark"] = _fresh_spark()
    return _state["spark"]


@pytest.fixture(scope="module")
def spark():
    if (
        _state["spark"] is not None
        and _state["modules_served"] >= _RECYCLE_EVERY
    ):
        recycle_spark()
    _state["modules_served"] += 1
    yield shared_spark()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
