import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="session")
def spark():
    from document_vector_indexer_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    yield s


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)``: the Spark jobs started while ``fn`` runs
    (statusTracker high-water mark, as bench.py reads it)."""
    tracker = spark.sparkContext.statusTracker()

    def run(fn) -> int:
        before = max(tracker.getJobIdsForGroup(None), default=-1)
        fn()
        return max(tracker.getJobIdsForGroup(None), default=-1) - before

    return run
