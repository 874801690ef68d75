from __future__ import annotations

import pytest

from erddap2agol_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def rdd_ids(spark):
    """Callable returning the ids of the session's persistent RDDs.

    Lifecycle asserts compare id sets taken before and after a call,
    never counts: an earlier test's blocks may be reclaimed by the
    ContextCleaner while this test runs, which shifts a count but not
    the set of ids this call created."""

    def ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    return ids
