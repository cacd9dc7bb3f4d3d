"""Load-insensitive cost budgets. Wall time cannot judge a plan change on
a shared host, but task counts are fixed by the plan, the input and the
session's settings, so a change that multiplies them fails here.

The apply_per_key family: its Python-worker cost is paid per task, so
its kernel stage (the MapInPandas) may run at most
spark.sql.shuffle.partitions tasks."""

import pytest

from vedb_gaze_spark.plans.queries import QUERIES


@pytest.mark.parametrize(
    "key", ["calibration_tps", "error_surface_grid", "resample_tps", "calibration_3d_bundle"]
)
def test_apply_per_key_kernel_stage_task_budget(spark, sf_dir, kernel_stage_tasks, key):
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tasks = kernel_stage_tasks(QUERIES[key](spark, sf_dir).collect)
    assert tasks and max(tasks) <= n, (tasks, n)
