import os
import sys

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
