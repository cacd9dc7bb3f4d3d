"""Load-insensitive cost budgets. Wall time cannot judge a plan change on
a shared host, but task counts are fixed by the plan, the input and the
session's settings, so a change that multiplies them fails here.

The apply_per_key family: its Python-worker cost is paid per task, so
its kernel stage (the MapInPandas) may run at most
spark.sql.shuffle.partitions tasks.

The iterative graph faces, the trained faces and the stored IVFADC
index's serve and append are job-count-bound: each call must launch the
same jobs as the last (no relation cached by one call feeds the next)
within a pinned budget, so a budget change is an explicit diff."""

import pytest

from vedb_gaze_spark.plans.queries import QUERIES


@pytest.mark.parametrize(
    "key", ["calibration_tps", "error_surface_grid", "resample_tps", "calibration_3d_bundle"]
)
def test_apply_per_key_kernel_stage_task_budget(spark, sf_dir, kernel_stage_tasks, key):
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tasks = kernel_stage_tasks(QUERIES[key](spark, sf_dir).collect)
    assert tasks and max(tasks) <= n, (tasks, n)


# Jobs per call at the test settings (8 shuffle partitions, sf0.01),
# measured with 4 and 8 local cores: trade_pagerank 36, trade_hits 72.
GRAPH_JOB_BUDGET = {"trade_pagerank": 36, "trade_hits": 72}


def _two_calls(spark, sf_dir, job_group_run, key):
    def call():  # building the plan runs jobs too
        QUERIES[key](spark, sf_dir).collect()

    first, _ = job_group_run(call)
    second, _ = job_group_run(call)
    return first, second


@pytest.mark.parametrize("key", sorted(GRAPH_JOB_BUDGET))
def test_graph_faces_repeat_the_same_jobs(spark, sf_dir, job_group_run, key):
    first, second = _two_calls(spark, sf_dir, job_group_run, key)
    assert first == second <= GRAPH_JOB_BUDGET[key], (first, second)


# Jobs per call at the same settings, measured with 4 and 8 local cores
# once every trainer combined its task partials through
# operators/similarity.py:_task_partials (one job per Lloyd's
# iteration; init rows sorted on the driver): ann_ivf_trained 9,
# ann_ivf_kmeanspar 14, ann_pq 12, ann_ivfpq_trained 15, embed_pca 3.
# Before that, the same faces ran 15, 18, 18, 27 and 3.
TRAINER_JOB_BUDGET = {
    "ann_ivf_trained": 9,
    "ann_ivf_kmeanspar": 14,
    "ann_pq": 12,
    "ann_ivfpq_trained": 15,
    "embed_pca": 3,
}


@pytest.mark.parametrize("key", sorted(TRAINER_JOB_BUDGET))
def test_trained_faces_repeat_the_same_jobs(spark, sf_dir, job_group_run, key):
    first, second = _two_calls(spark, sf_dir, job_group_run, key)
    assert first == second <= TRAINER_JOB_BUDGET[key], (first, second)


# Jobs per call of the stored IVFADC index's serve (IVFPQServing.process
# over a 16-query batch, after the first call has loaded the model) and
# append (append_ivfpq_index of 50 new vectors), at the same settings
# and measured with 4 and 8 local cores: serve 6, append 8. Before the
# serve pruned through the kernel's own probe and every stored-index
# read declared its schema, they ran 10 and 11.
IVFPQ_SERVE_JOB_BUDGET = 6
IVFPQ_APPEND_JOB_BUDGET = 8


def test_ivfpq_serve_and_append_repeat_the_same_jobs(
    spark, sf_dir, job_group_run, tmp_path
):
    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.streaming.serving import (
        IVFPQServing,
        append_ivfpq_index,
        write_ivfpq_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    vec_id = F.col("vec_id")
    idx = str(tmp_path / "index")
    books = write_ivfpq_index(emb.where(vec_id < 250), idx, iters=1)
    job = IVFPQServing(idx, str(tmp_path / "out"), books)
    batch = emb.where(vec_id.isin(list(range(0, 480, 30))))
    job.process(batch, 0)
    serves = [job_group_run(lambda i=i: job.process(batch, i))[0] for i in (1, 2)]
    appends = [
        job_group_run(
            lambda lo=lo: append_ivfpq_index(
                emb.where((vec_id >= lo) & (vec_id < lo + 50)), idx
            )
        )[0]
        for lo in (250, 300)
    ]
    assert serves[0] == serves[1] <= IVFPQ_SERVE_JOB_BUDGET, serves
    assert appends[0] == appends[1] <= IVFPQ_APPEND_JOB_BUDGET, appends
