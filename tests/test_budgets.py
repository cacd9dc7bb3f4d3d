"""Load-insensitive cost budgets. Wall time cannot judge a plan change on
a shared host, but task counts are fixed by the plan, the input and the
session's settings, so a change that multiplies them fails here.

The apply_per_key family: its Python-worker cost is paid per task, so
its kernel stage (the MapInPandas) may run at most
spark.sql.shuffle.partitions tasks.

The iterative graph faces, the trained faces, the corpus faces and the
stored IVFADC index's serve and append are job-count-bound: each call
must launch the same jobs as the last (no relation cached by one call
feeds the next) within a pinned budget, so a budget change is an
explicit diff.

Every count here comes from vedb_gaze_spark/tracing.py, the one reader
of Spark's status store outside perfbench/ (the guard at the end)."""

import re
from pathlib import Path

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


# Jobs per call at the same settings, measured with 4 and 8 local cores
# (the plan build, then the final collect): bpe_stats 59 + 4, semdedup
# 18 + 3, dedup_clusters 12 + 2, quality_classifier_trained 28 + 1.
CORPUS_JOB_BUDGET = {
    "bpe_stats": 63,
    "semdedup": 21,
    "dedup_clusters": 14,
    "quality_classifier_trained": 29,
}


@pytest.mark.parametrize("key", sorted(CORPUS_JOB_BUDGET))
def test_corpus_faces_repeat_the_same_jobs(spark, sf_dir, job_group_run, key):
    first, second = _two_calls(spark, sf_dir, job_group_run, key)
    assert first == second <= CORPUS_JOB_BUDGET[key], (first, second)


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


def test_status_store_is_read_only_by_the_tracer():
    """No Python file outside vedb_gaze_spark/tracing.py and perfbench/
    walks Spark's status store: a second walk would be a second
    definition of what a call cost."""
    repo = Path(__file__).resolve().parents[1]
    tracer = repo / "vedb_gaze_spark" / "tracing.py"
    walk = re.compile(r"statusStore\(\)|getJobIds[F]orGroup")
    hits = [
        f"{path.relative_to(repo)}:{n}: {line.strip()}"
        for path in sorted(repo.rglob("*.py"))
        if path != tracer and "perfbench" not in path.relative_to(repo).parts
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if walk.search(line)
    ]
    assert hits == [], "\n".join(hits)


def test_qprobe_reports_counters_plans_and_errors(
    spark, sf_dir, job_group_run, tmp_path, capsys
):
    """scripts/qprobe.py's entry point, in this session: one JSON line
    per key, with the build and the final collect traced apart, the
    plan-dump mode, and a broken key reported instead of ending the
    pass."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "qprobe", Path(__file__).resolve().parents[1] / "scripts" / "qprobe.py"
    )
    qprobe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qprobe)
    small = os.path.join(os.path.dirname(sf_dir), "sf0.001")

    def lines(*argv):
        capsys.readouterr()
        qprobe.main([*argv, "--sf", small], spark=spark)
        return [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]

    [probe, bad] = lines("calibration_tps", "no_such_key", "--n", "1")
    assert probe["key"] == "calibration_tps" and "error" not in probe, probe
    assert probe["collect"]["jobs"] >= 1 and probe["collect"]["tasks"] >= 1
    jobs, _ = job_group_run(lambda: QUERIES["calibration_tps"](spark, small).collect())
    assert probe["build"]["jobs"] + probe["collect"]["jobs"] == jobs
    assert probe["best_s"] == min(probe["walls"]) and len(probe["walls"]) == 1
    assert bad["key"] == "no_such_key" and bad["error"].startswith("KeyError")

    [plan] = lines("calibration_tps", "--plan", str(tmp_path))
    assert set(plan) == {"key", "sf", "build", "plan"}, plan
    with open(plan["plan"]) as fh:
        assert "== Physical Plan ==" in fh.read()
