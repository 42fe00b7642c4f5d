import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    # a pandas function pyspark cannot type (TYPE_HINT_SHOULD_BE_SPECIFIED)
    # fails the test instead of warning on every call
    config.addinivalue_line(
        "filterwarnings", "error:Cannot infer the eval type:UserWarning")


@pytest.fixture(scope="session")
def spark():
    from bloom_filters_spark.session import get_spark
    s = get_spark("bfs-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_count(spark):
    """``with job_count(group) as n:`` counts the Spark jobs the block
    runs (→ ``n[0]`` after the block)."""
    sc = spark.sparkContext

    @contextmanager
    def count(group):
        sc.setJobGroup(group, group)
        out = []
        try:
            yield out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            out.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    return count


@pytest.fixture
def final_plan():
    """``final_plan(df)`` → the tree string of the physical plan ``df``
    ran with: the final adaptive plan once an action has executed it."""
    def plan(df):
        ep = df._jdf.queryExecution().executedPlan()
        if ep.nodeName() == "AdaptiveSparkPlan":
            ep = ep.executedPlan()
        return ep.toString()

    return plan
