from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from go_tdigest_spark.session import session_config

    session = (
        SparkSession.builder.appName("go_tdigest_spark-tests")
        .config(map=session_config(8))
        .getOrCreate()
    )
    yield session
    session.stop()
