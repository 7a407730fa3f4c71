from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ais_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    conf = {"spark.ui.enabled": "false"}
    # SPARK_GRAFT_ANSI=1 runs the suite under ANSI mode, the default of a
    # vanilla Spark 4 session (the engine's own session turns it off)
    if os.environ.get("SPARK_GRAFT_ANSI") == "1":
        conf["spark.sql.ansi.enabled"] = "true"
    s = get_spark(app_name="ais_data_pipeline_spark_tests", extra_conf=conf)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def smoke_dir() -> str:
    return SMOKE_DIR
