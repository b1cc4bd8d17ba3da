import random
import re
from collections import Counter

import numpy as np
import pytest

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


# a node name opens its line of the plan tree; Python nodes never codegen,
# so they carry no "*(n)" stage prefix
_PYTHON_NODE = re.compile(r"^[ :|+-]*(\w*(?:EvalPython|InPandas|InArrow)\w*)", re.M)


def python_nodes(df) -> Counter:
    """Python evaluation nodes in ``df``'s executed plan, counted by node
    name: ``ArrowEvalPython``, ``BatchEvalPython``, ``MapInPandas``,
    ``FlatMapGroupsInPandas`` and every other ``*EvalPython`` /
    ``*InPandas`` / ``*InArrow`` node. An empty count means the plan
    starts no Python worker."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return Counter(_PYTHON_NODE.findall(plan))
