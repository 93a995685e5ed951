import pytest


@pytest.fixture(scope="session")
def spark():
    from great_expectations_spark.sources.session import get_spark

    s = get_spark(cores=4, app="gxs-tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def new_job_ids(spark):
    """``new_job_ids(fn)`` -> (fn(), ids of the Spark jobs run during it)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def ids() -> set[int]:
        bus.waitUntilEmpty(60_000)  # status updates come via the listener bus
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def run(fn):
        before = ids()
        out = fn()
        return out, ids() - before

    return run
