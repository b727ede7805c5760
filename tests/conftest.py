import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from v3_polars_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REF_EXAMPLES = "/root/reference/v3/data/examples"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="v3-polars-spark-tests")
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)``: the ids of the Spark jobs ``fn`` runs,
    read back through ``statusTracker`` from a job group of its own."""
    sc = spark.sparkContext

    def count(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def ref_examples():
    return REF_EXAMPLES
