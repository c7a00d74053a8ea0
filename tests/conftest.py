import os
import sys
import uuid

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparsity_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("sparsity_spark_tests")
    yield spark
    spark.stop()


def jobs_run_by(spark, fn) -> int:
    """The Spark jobs ``fn()`` runs, counted by job group once the
    listener bus has delivered every job event to the status store."""
    sc = spark.sparkContext
    group = f"job_count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def clickstream():
    """Reference conftest.py:16-22 — 100 daily rows, page_id in A..E, id 1..9."""
    rng = np.random.RandomState(42)
    return pd.DataFrame(
        {
            "ts": pd.date_range("2016-01-01", periods=100, freq="D"),
            "page_id": rng.choice(list("ABCDE"), size=100),
            "id": rng.randint(1, 10, size=100),
        }
    )


def sampledata(n=49):
    """Reference test_sparse_frame.py:21-31 — weekday one-hot golden fixture."""
    dates = pd.date_range("2017-01-01", periods=n, freq="D")
    return pd.DataFrame(
        {
            "date": dates,
            "weekday": dates.day_name(),
            "id": np.tile(np.arange(7), n // 7 + 1)[:n],
        }
    )


WEEKDAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]
