from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from ssis_to_pyspark_agent_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def rows(df, *cols):
    """Collect to a sorted list of tuples for order-insensitive asserts."""
    if cols:
        df = df.select(*cols)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def assert_local_scan(df):
    """``df`` runs from driver-held rows: a ``LocalTableScan``, with no
    Python RDD (``Scan ExistingRDD``/``PythonRDD``) behind it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
