import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fingerprint_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fingerprint_spark_tests", cores=os.environ.get("TEST_CORES", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return default_sf_dir()


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
