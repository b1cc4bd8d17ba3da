import numpy as np
import pytest

import random

random.seed(1337)
np.random.seed(1337)  # reference test seed (tests/conftest.py:37-41)


@pytest.fixture(scope="session")
def spark():
    from pyramids_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def build_jobs(spark):
    """``build_jobs(build, group)``: the number of Spark jobs started while
    ``build()`` constructs a DataFrame, read from the status tracker under a
    job group."""

    def count(build, group):
        sc = spark.sparkContext
        sc.setJobGroup(group, "build-time job audit")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
