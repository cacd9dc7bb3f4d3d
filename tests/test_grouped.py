"""functions/grouped.py:apply_per_key — one mapInPandas pass per shuffle
partition over key-sorted rows, cutting Arrow batches at key boundaries.
Checked against a driver-side pandas groupby loop, and for partition-count
invariance over every registry key that runs through it."""

import os

import pandas as pd
import pytest

from vedb_gaze_spark.functions.grouped import apply_per_key

# Registry keys whose plan runs through apply_per_key.
APPLY_PER_KEY_KEYS = (
    "calibration_tps", "calibration_poly", "calibration_rbf",
    "calibration_3d", "calibration_hmd", "calibration_3d_bundle",
    "error_surface_tps", "error_surface_tps_cv", "error_surface_grid",
    "error_grid_qc", "resample_tps", "cluster_dbscan",
)


def _with_conf(spark, conf, action):
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, str(v))
        return action()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_apply_per_key_carries_keys_across_batches_and_skips_empty(spark):
    """Three-row Arrow batches make most keys straddle a batch end; 16
    partitions for 9 keys leave some partitions empty; keys divisible by
    3 return an empty frame; a null-key row is dropped, as pandas
    groupby drops it. Output equals a driver-side groupby loop."""

    # nested so the Python workers get it by value: they cannot import
    # the test module
    def summary(g: pd.DataFrame) -> pd.DataFrame:
        uid = int(g["user_id"].iat[0])
        if uid % 3 == 0:
            return pd.DataFrame(columns=["user_id", "n", "s", "fresh_index"])
        return pd.DataFrame({
            "user_id": [uid],
            "n": [len(g)],
            "s": [float(g["v"].sort_values().sum())],
            "fresh_index": [list(g.index) == list(range(len(g)))],
        })

    rows = [(u, i, float(u * 100 + i)) for u in range(1, 10) for i in range(u % 5 * 2 + 1)]
    rows.append((None, 0, 1.0))
    df = spark.createDataFrame(rows, "user_id bigint, i bigint, v double")
    schema = "user_id bigint, n bigint, s double, fresh_index boolean"
    got = _with_conf(
        spark,
        {"spark.sql.execution.arrow.maxRecordsPerBatch": 3,
         "spark.sql.shuffle.partitions": 16},
        lambda: apply_per_key(df, "user_id", summary, schema).collect(),
    )
    want = [
        (int(u), int(n), float(s), bool(f))
        for _, g in df.toPandas().groupby("user_id")
        for u, n, s, f in summary(g.reset_index(drop=True)).itertuples(index=False)
    ]
    assert sorted(tuple(r) for r in got) == sorted(want)
    assert len(got) == 6 and all(r.fresh_index for r in got)


@pytest.mark.parametrize("key", APPLY_PER_KEY_KEYS)
def test_apply_per_key_rows_do_not_depend_on_partition_count(spark, sf_dir, key):
    """Every key, hashed into 3 or 8 shuffle partitions, returns the
    same rows (sf0.001)."""
    from vedb_gaze_spark.plans.queries import QUERIES

    small = os.path.join(os.path.dirname(sf_dir), "sf0.001")

    def rows(n):
        return _with_conf(
            spark, {"spark.sql.shuffle.partitions": n},
            lambda: sorted(map(repr, QUERIES[key](spark, small).collect())),
        )

    assert rows(3) == rows(8)
