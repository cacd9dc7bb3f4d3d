import itertools
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vedb_gaze_spark.session import get_spark
from vedb_gaze_spark.sources.tables import TABLES

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
    `(jobs, stages)` read from Spark's status store by job group: the
    number of jobs the action launched, and for every completed stage a
    `(task count, operator names)` pair, the names taken from the
    stage's operation graph (e.g. "Window", "MapInPandas")."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    groups = itertools.count()

    def run(action):
        group = f"job-group-run-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        stages = []
        for job in jobs:
            for sid in sc.statusTracker().getJobInfo(job).stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                names, todo = [], [store.operationGraphForStage(sid).rootCluster()]
                while todo:
                    c = todo.pop()
                    names.append(c.name())
                    it = c.childClusters().iterator()
                    while it.hasNext():
                        todo.append(it.next())
                stages.append((sd.numCompleteTasks(), names))
        return len(jobs), stages

    return run


@pytest.fixture(scope="session")
def kernel_stage_tasks(job_group_run):
    """Task count of every completed stage of `action()` that runs a
    pandas UDF operator (MapInPandas for
    functions/grouped.py:apply_per_key, FlatMapGroupsInPandas for a
    grouped map)."""

    def run(action):
        _, stages = job_group_run(action)
        return [
            tasks
            for tasks, names in stages
            if any(n.endswith("InPandas") for n in names)
        ]

    return run
