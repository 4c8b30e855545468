from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pythondataingestionprocess_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The default run must fit the driver's pytest window, so the
# multi-ten-second probes (randomized walks, multi-batch replay and
# idempotency probes, streaming lifecycle runs, large parity sweeps)
# are marked ``@pytest.mark.slow`` and run only in the full gate:
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q
#
# Driver-facing gates (plan-sweep antipattern scan, oracle parity
# rows, bench output contract, the derived registry rotation) are
# never marked slow; they run in the default gate whatever they cost.
RUN_SLOW = os.environ.get("SPARK_GRAFT_FULL_TESTS", "") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute/multi-ten-second probe; skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1 (the builder's full gate)",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow probe; set SPARK_GRAFT_FULL_TESTS=1 for the full gate"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pdip-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
