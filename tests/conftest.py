import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbdiff_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Core count overridable for A/B runs; the default is sized to the
    # suite, not to any assertion — no test depends on the master width
    # (JDBC partition-count tests pin numPartitions in the read options).
    master = os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]")
    s = get_spark(
        app_name="dbdiff_spark_tests",
        master=master,
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def last_job_id(spark):
    """Callable returning the newest Spark job id (-1 before any job);
    equal readings around a call mean the call submitted no job."""
    tracker = spark.sparkContext.statusTracker()
    return lambda: max(tracker.getJobIdsForGroup(), default=-1)


def union_find_labels(pairs):
    """Pure-Python union-find over an undirected pair iterable: node →
    minimum node of its component, for every node in a pair — the
    independent model the connected-components tests compare against."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its component's minimum
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
