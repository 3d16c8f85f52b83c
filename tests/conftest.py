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


def force_multiset_regime(monkeypatch, regime):
    """Pin ``diff_multiset``'s size election through its bound: -1 elects
    ``hash_first`` for any estimate, 2**62 elects ``one_pass`` for any
    known one.  Frames built from local rows carry no estimate (which
    elects ``hash_first`` whatever the bound), so forcing ``one_pass``
    also pins the estimate to 0 bytes."""
    import dbdiff_spark.diff as diff_mod

    if regime == "one_pass":
        monkeypatch.setattr(diff_mod, "MULTISET_ONE_PASS_MAX_BYTES", 2**62)
        monkeypatch.setattr(diff_mod, "_estimated_bytes", lambda df: 0)
    else:
        monkeypatch.setattr(diff_mod, "MULTISET_ONE_PASS_MAX_BYTES", -1)


def force_diff_regime(monkeypatch, regime):
    """Pin the diff size election's one-task gate through its bound:
    ``"exchange"`` (-1) keeps every matcher's exchange plan for any
    estimate; ``"one_task"`` (2**62) plans one task for any known
    estimate, and also pins the estimate to 0 bytes, since frames built
    from local rows carry none (which never elects one task).  Composes
    with :func:`force_multiset_regime`: a forced ``hash_first`` still
    wins, as it does above ``MULTISET_ONE_PASS_MAX_BYTES``."""
    import dbdiff_spark.diff as diff_mod

    if regime == "one_task":
        monkeypatch.setattr(diff_mod, "DIFF_ONE_TASK_MAX_BYTES", 2**62)
        monkeypatch.setattr(diff_mod, "_estimated_bytes", lambda df: 0)
    else:
        monkeypatch.setattr(diff_mod, "DIFF_ONE_TASK_MAX_BYTES", -1)


def elected_regime(out):
    """The regime a ``diff_multiset`` plan shows: only hash_first joins
    (its probe of the changed fingerprints)."""
    plan = out._jdf.queryExecution().executedPlan().toString()
    return "hash_first" if "Join" in plan else "one_pass"


def multiset_model(b_rows, a_rows):
    """``diff_multiset``'s contract over Python tuples: every distinct
    row whose count changed, as (row, n_before, n_after, diff_status,
    n_rows = |delta|), sorted by ``repr`` (rows may hold NULLs)."""
    from collections import Counter

    nb, na = Counter(b_rows), Counter(a_rows)
    changed = [row for row in nb | na if nb[row] != na[row]]
    return sorted(
        [
            (row, nb[row], na[row], "INSERTED" if na[row] > nb[row] else "DELETED",
             abs(na[row] - nb[row]))
            for row in changed
        ],
        key=repr,
    )


def multiset_rows(out, names):
    """A ``diff_multiset`` result in :func:`multiset_model`'s shape."""
    return sorted(
        [
            (tuple(r[c] for c in names), r["n_before"], r["n_after"], r["diff_status"],
             r["n_rows"])
            for r in out.collect()
        ],
        key=repr,
    )
