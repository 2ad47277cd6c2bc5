from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tabsketchfm_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the UI serves the REST records test_probe fingerprints read
    s = get_spark("tests", cpus=8, shuffle_partitions=8, ui=True)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01():
    return "/root/testdata/sf0.01"
