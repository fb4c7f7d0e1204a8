import pytest


@pytest.fixture(scope="session")
def spark():
    from deepex_spark.session import build_session

    s = build_session(app_name="deepex-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def run_in_job_group(spark):
    """``run(fn)`` -> (fn(), ids of the jobs fn started in a fresh job
    group, ids of the jobs it started outside any group)."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"test-{uuid.uuid4()}"  # a tracker keeps old groups' jobs
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, "jobs started by one call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return (out, list(tracker.getJobIdsForGroup(group)),
                set(tracker.getJobIdsForGroup(None)) - ungrouped)

    return run
