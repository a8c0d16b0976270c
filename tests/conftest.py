import uuid

import pytest

from pdf2ontology_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pdf2ontology_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn) -> (fn(), [job ids])``: every Spark job ``fn``
    submits runs under a dedicated job group, read back from the status
    tracker."""
    sc = spark.sparkContext

    def probe(fn):
        group = f"job-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count probe")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, list(sc.statusTracker().getJobIdsForGroup(group))

    return probe
