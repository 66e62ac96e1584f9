from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from distributed_computing_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: over 2 s in a --durations=0 run of the full suite on a 4-vCPU "
        "VM; `pytest -m 'not slow'` is the fast tier for iteration, and the "
        "full suite stays the gate",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    from distributed_computing_spark.caching import release_tracked

    release_tracked()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
