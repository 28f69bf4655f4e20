import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from create_proposals_using_vector_db_public_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4, master="local[4]")
    yield s
    s.stop()


@pytest.fixture
def jobs_fired(spark):
    """``jobs_fired(group, fn)`` runs ``fn`` under the Spark job group
    ``group`` and returns its result and the number of jobs it fired."""

    def run(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
