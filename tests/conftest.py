from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oke_cassandra_spark_locality_demo_spark.session import build_session

# Default to sf0.01 — the driver's correctness scale. sf0.001 misses
# magnitude-dependent float-parity bugs (VERDICT r1 §What's-wrong 3).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # master and shuffle partitions follow $SPARK_GRAFT_CPUS (the host)
    s = build_session(app_name="spark-graft-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
