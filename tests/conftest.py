from __future__ import annotations

import os

import pytest

from logdag_spark.session import get_spark

# one task slot and one shuffle partition per CPU this process may run on
HOST_CPUS = len(os.sched_getaffinity(0))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="logdag_spark_tests", cores=HOST_CPUS, shuffle_partitions=HOST_CPUS
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"
