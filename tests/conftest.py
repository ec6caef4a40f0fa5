from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mqtt_influx_storage_service_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture
def owned(spark):
    """``owned(tag)``: this session's campaign-cache entries under one
    tag, as {key: value}."""
    from mqtt_influx_storage_service_spark import cache

    app = spark.sparkContext.applicationId
    return lambda tag: {
        k[2]: v for k, v in cache._ENTRIES.items() if k[:2] == (app, tag)
    }
