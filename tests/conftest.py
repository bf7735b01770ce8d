from __future__ import annotations

import pytest

from maggma_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("maggma_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def jobs_of(spark):
    """jobs_of(fn) -> (fn(), ids of the Spark jobs fn launched), counted
    through a job group of its own and the status tracker."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # jobs reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sorted(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


import os

from hypothesis import HealthCheck, settings

settings.register_profile(
    "default", max_examples=20, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])
settings.register_profile(
    "soak", max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])
settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "default"))
