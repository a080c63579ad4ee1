from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_estate_data_pipeline_spark.session import get_session


def _default_driver_memory() -> None:
    """Unless SPARK_DRIVER_MEMORY is set, give the suite's JVM a quarter of
    the host's memory, at most the session's 8g default: at 8g the suite
    outgrew a 15 GB host and was OOM-killed."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except OSError:  # no /proc: keep the session default
        return
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(8 << 10, kb // 4 >> 10)}m"


_default_driver_memory()

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
