import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_framework_api_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
REFERENCE_INPUTS = "/root/reference/input/mr-wordc"
REFERENCE_GOLDEN = "/root/reference/output_compare/mr-wordc"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


def job_fence(spark) -> int:
    """Run a one-task job in a group of its own and return its job id once
    the status tracker shows it. The tracker takes job starts in order, so
    every job started before the fence is visible by then: the jobs fired
    between two fences are exactly the ids strictly between theirs."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        clear_job_group(spark)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not (ids := tracker.getJobIdsForGroup(group)):
        if time.monotonic() > deadline:
            raise TimeoutError("the status tracker never showed the fence job")
        time.sleep(0.01)
    return ids[0]


def clear_job_group(spark) -> None:
    """Undo ``setJobGroup`` on this thread."""
    for key in ("spark.jobGroup.id", "spark.job.description"):
        spark.sparkContext.setLocalProperty(key, None)
