from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opendata_gov_lt_mysql_import_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
