from __future__ import annotations

import pathlib
import sys

import pytest

# the checkout this conftest belongs to, ahead of any other copy
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from play_bq_gcp_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
