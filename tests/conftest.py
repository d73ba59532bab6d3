import pytest


@pytest.fixture(scope="session")
def spark():
    from weak_supervision_for_ner_spark.config import get_spark

    spark = get_spark("wsner-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(group, action)``: the ids of the Spark jobs
    ``action`` launches."""

    def run(group: str, action) -> list:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by an asynchronous listener
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run
