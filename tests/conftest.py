"""Shared Spark session for the test suite (local mode, small shuffle)."""

from __future__ import annotations

import os
import tempfile

import pytest

from iot_data_pipeline_spark import harness

# Correctness tests run at the smallest sf by default; overridable so the
# suite keeps working if the testdata root moves (ADVICE r4).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_sessionstart(session):
    # Fail the whole run loudly (with observed arrow types) if the driver
    # regenerated testdata with different physical schemas — see round 2.
    from iot_data_pipeline_spark.sources.schema_guard import check_testdata_schemas

    check_testdata_schemas(SF_DIR)


@pytest.fixture(scope="session")
def spark():
    s = harness.session(
        4, **{"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_warehouse_")}
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
