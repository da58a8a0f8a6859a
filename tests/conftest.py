import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_standalone_scripts_spark.operators.common import release_persists
from data_pipeline_standalone_scripts_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    """One session for the whole run (~12 s cold start, SURVEY §5.2)."""
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED


@pytest.fixture(autouse=True)
def _release_persists():
    """Unpersist every frame an operator cached during the test, so
    cached blocks do not pile up in the shared session across the
    suite's query runs."""
    yield
    release_persists()
