import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vedb_gaze_spark.session import get_spark
from vedb_gaze_spark.sources.tables import TABLES
from vedb_gaze_spark.tracing import trace

SF_DIR = os.environ.get("VGS_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_SQL_SHUFFLE_PARTITIONS", "8")
    s = get_spark("vgs-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def job_group_run(spark):
    """Run `action()` under its own Spark job group and return
    `(jobs, stages)` from vedb_gaze_spark/tracing.py: the number of jobs
    the action launched, and per completed stage a `(task count,
    operator names)` pair."""

    def run(action):
        t = trace(spark, action)
        return t.jobs, t.stages

    return run


@pytest.fixture(scope="session")
def kernel_stage_tasks(spark):
    """Task count of every completed stage of `action()` that runs a
    pandas UDF operator (MapInPandas for
    functions/grouped.py:apply_per_key, FlatMapGroupsInPandas for a
    grouped map)."""

    def run(action):
        return [
            tasks
            for tasks, names in trace(spark, action).stages
            if any(n.endswith("InPandas") for n in names)
        ]

    return run
