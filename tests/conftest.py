import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wiki_references_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wikirefs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns the number of Spark
    jobs it started, read from a job group of its own."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{next(_groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_compiles(spark):
    """``count_compiles(fn)`` runs ``fn()`` and returns the number of
    classes Spark's code generator compiled meanwhile; a class found in
    the session's codegen cache compiles none."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(fn) -> int:
        before = timer.getCount()
        fn()
        return timer.getCount() - before

    return run
