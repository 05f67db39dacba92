import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from siddhi_execution_unique_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# data-dependent oracles (pca_project's literal eigenvector matrix) must
# be built for the SAME sf_dir the parity suite compares at
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    # the shipped session factory (RocksDB state store, ICU off)
    # IS part of what the tests must cover
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(
        app_name="siddhi-unique-spark-tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
