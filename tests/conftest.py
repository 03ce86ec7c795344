from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cdr_analysis_tools_hadoop_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# checkout of the reference project (its Sample_Inputs and golden
# Statistics/output_reports); defaults to `reference` beside this repo
REFERENCE_DIR = os.environ.get(
    "SPARK_GRAFT_REFERENCE_DIR", os.path.join(os.path.dirname(REPO), "reference")
)


@pytest.fixture(scope="session")
def spark():
    s = build_session("engine-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def reference_dir():
    """The reference checkout the golden-parity tests read. Absent, every
    test that needs it errors with this one message, not a Spark
    PATH_NOT_FOUND traceback per test."""
    if not os.path.isdir(REFERENCE_DIR):
        pytest.fail(
            f"reference checkout absent: {REFERENCE_DIR} "
            "(set SPARK_GRAFT_REFERENCE_DIR)",
            pytrace=False,
        )
    return REFERENCE_DIR


@pytest.fixture(scope="session")
def goldens(reference_dir):
    """The reference's golden report CSVs."""
    return f"{reference_dir}/Statistics/output_reports"
