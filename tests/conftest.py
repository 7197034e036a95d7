from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# The session default heap (16g) lets one long-lived test JVM grow past
# a 15 GB host's RAM before it collects; the suite's data (sf0.001,
# sf0.1 at most) fits a 6 GB heap with room to spare.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from parking_bigdata_spark.session import get_spark
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
