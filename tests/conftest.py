from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]")
        )
        .appName("spookystuff-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        # locally created test frames (createDataFrame from a list) keep
        # the 4 slices they had under local[4]: every slice costs one
        # Python-worker pass each time the frame is evaluated
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()
