import os
import uuid

import duckdb
import pytest

from pgverify_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("pgverify-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet"):
            name = f[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(SF_DIR, f)}'"
            )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def few_state_partitions(spark):
    """Run the test's streaming queries at four shuffle partitions.

    A stateful streaming query fixes its shuffle-partition count at first
    start and loads and commits one state store per partition in every
    micro-batch.  At the session's 32, that per-batch cost, not the few
    thousand replayed test rows, is what a many-batch replay spends its
    time on: the two late-data replays in test_streaming.py run ~35
    micro-batches each and took 2-3 minutes apiece on four cores.  The
    operators, their plan shapes and their results do not depend on the
    count.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    yield
    spark.conf.set(key, old)


@pytest.fixture
def grouped_jobs(spark):
    """``grouped_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(result, job_ids)``: its result and the sorted ids of the
    Spark jobs the group ran.  The thread's job-group properties are
    restored afterwards."""
    sc = spark.sparkContext
    keys = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )

    def run(fn):
        saved = {k: sc.getLocalProperty(k) for k in keys}
        group = f"grouped-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        return out, sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run
