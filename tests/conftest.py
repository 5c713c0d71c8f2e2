from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_trading_data_pipeline_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
# Default sf0.001 keeps unit runs fast; set SPARK_GRAFT_TEST_SF=sf0.01 to
# exercise the same scale factor as the driver's correctness gate.
SF_SMALL = f"{TESTDATA}/{os.environ.get('SPARK_GRAFT_TEST_SF', 'sf0.001')}"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ctdp-spark-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
