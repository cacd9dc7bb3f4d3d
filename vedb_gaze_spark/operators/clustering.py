"""Epoch splitting & clustering operators.

Re-expresses marker_parsing.py:187 ``split_timecourse`` (gap
sessionization), :299 ``cluster_marker_points`` (DBSCAN over
time×position + per-cluster quality filters) and :261
``marker_cluster_stat`` (per-cluster reductions).

Two clustering paths, as SURVEY §2.C plans:
- ``cluster_grid``: density clustering on fixed grid cells — the 100 TB
  path. One groupBy on (user, cell); no pairwise distances, no iteration,
  uniform shuffle keys.
- ``cluster_dbscan``: exact DBSCAN semantics per user via apply_per_key
  (pure numpy — this container has no sklearn). Groups are single-session
  marker epochs: bounded rows by construction, so the O(n²) inside the
  Arrow batch is constant-time per group and embarrassingly parallel
  across groups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.grouped import apply_per_key
from vedb_gaze_spark.operators.temporal import with_tsec
from vedb_gaze_spark.plans import params as P


def sessionize(
    events: DataFrame,
    gap_s: float = P.SESSION_GAP_S,
    min_s: float = P.SESSION_MIN_S,
    max_s: float = P.SESSION_MAX_S,
) -> DataFrame:
    """split_timecourse (marker_parsing.py:187): break each user's stream
    where consecutive timestamps are more than gap_s apart; keep epochs
    with duration in (min_s, max_s). Returns one row per epoch."""
    e = with_tsec(events).select("user_id", "event_id", "t")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    lag_t = F.lag("t").over(w)
    e = e.withColumn(
        "new_epoch", F.when(lag_t.isNull() | (F.col("t") - lag_t > gap_s), 1).otherwise(0)
    ).withColumn("epoch", F.sum("new_epoch").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        e.groupBy("user_id", "epoch")
        .agg(
            F.min("t").alias("t_start"),
            F.max("t").alias("t_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("t") - F.min("t")).alias("duration_s"),
        )
        .where((F.col("duration_s") > min_s) & (F.col("duration_s") < max_s))
    )


def _grid_cells(events: DataFrame) -> DataFrame:
    e = with_tsec(events).select("user_id", "event_id", "t", "value")
    return e.withColumn("cell_t", F.floor(F.col("t") / P.GRID_T_EPS_S)).withColumn(
        "cell_v", F.floor(F.col("value") / P.GRID_V_EPS)
    )


def cluster_grid(events: DataFrame, min_pts: int = P.GRID_MIN_PTS) -> DataFrame:
    """Grid-density clustering — the scalable stand-in for
    cluster_marker_points' DBSCAN (marker_parsing.py:299). A cell of the
    (time, value) grid is a cluster core iff it holds >= min_pts points;
    points in non-core cells are noise (dropped), mirroring DBSCAN's
    cut_cluster_outliers=True behavior for label -1."""
    w = Window.partitionBy("user_id", "cell_t", "cell_v")
    return (
        _grid_cells(events)
        .withColumn("n_in_cell", F.count(F.lit(1)).over(w))
        .where(F.col("n_in_cell") >= min_pts)
        .select("user_id", "event_id", "cell_t", "cell_v")
    )


def cluster_stats(events: DataFrame) -> DataFrame:
    """marker_cluster_stat (marker_parsing.py:261) + the cluster quality
    gates of cluster_marker_points (:417-457): per-cluster median, spread
    (np.ptp), std and count, keeping clusters whose time span and value
    std pass the thresholds. One aggregation over the cluster_grid keys.
    """
    w = Window.partitionBy("user_id", "cell_t", "cell_v")
    cells = (
        _grid_cells(events)
        .withColumn("n_in_cell", F.count(F.lit(1)).over(w))
        .where(F.col("n_in_cell") >= P.GRID_MIN_PTS)
    )
    return (
        cells.groupBy("user_id", "cell_t", "cell_v")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.median("value"), 6).alias("med_value"),
            F.round(F.stddev_pop("value"), 6).alias("std_value"),
            F.round(F.max("t") - F.min("t"), 6).alias("duration_s"),
        )
        .where(
            (F.col("duration_s") > P.CLUSTER_MIN_T_S)
            & (F.col("duration_s") < P.CLUSTER_MAX_T_S)
            & (F.col("std_value") < P.CLUSTER_MAX_STD)
        )
    )


_DBSCAN_SCHEMA = "user_id bigint, event_id bigint, cluster_id bigint"


def _dbscan_numpy(
    X: np.ndarray, ids: np.ndarray, eps: float, min_samples: int
) -> np.ndarray:
    """Deterministic DBSCAN on a small point set (pure numpy). Replaces
    sklearn.cluster.DBSCAN used at marker_parsing.py:399 — this container
    has no sklearn.

    Labeling rule: clusters are the connected components of the core-core
    eps-graph, labeled by the component's minimal point id; a border
    point takes the minimal label among its core neighbors; noise is -1.
    Classic DBSCAN hands contested border points to whichever cluster's
    scan reaches them first — visit-order-dependent, so not reproducible
    across row orderings. This rule is order-INDEPENDENT: the same
    partition and labels fall out of any permutation of the input, which
    makes the operator distributable (shuffle order can't change results)
    and SQL-oracle-checkable (components are a recursive CTE)."""
    n = len(X)
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    neigh = d2 <= eps * eps
    core = neigh.sum(1) >= min_samples

    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return int(i)

    core_idx = np.flatnonzero(core)
    for i in core_idx:
        for j in np.flatnonzero(neigh[i] & core):
            if j > i:
                ri, rj = find(int(i)), find(int(j))
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)

    labels = np.full(n, -1, dtype=np.int64)
    comp_min: dict[int, int] = {}
    for i in core_idx:
        r = find(int(i))
        comp_min[r] = min(comp_min.get(r, int(ids[i])), int(ids[i]))
    for i in core_idx:
        labels[i] = comp_min[find(int(i))]
    for i in np.flatnonzero(~core):
        cn = np.flatnonzero(neigh[i] & core)
        if len(cn):
            labels[i] = min(labels[j] for j in cn)
    return labels


def cluster_dbscan(
    events: DataFrame, eps: float = 0.5, min_samples: int = 4
) -> DataFrame:
    """Exact DBSCAN per user over normalized (time, value) — the faithful
    port of cluster_marker_points (marker_parsing.py:299), including the
    reference's time normalization trick (marker_parsing.py:366-378:
    rescale + offset so time and space share a comparable range).

    apply_per_key per user (functions/grouped.py): each group is one
    session's detections — bounded size regardless of fleet scale,
    Arrow-batched, parallel across the cluster. Points labeled -1 (noise) are dropped
    (cut_cluster_outliers=True). cluster_id is the cluster's minimal
    event_id (see _dbscan_numpy) — stable under any row ordering, so the
    full assignment is value-hash oracle-checkable.
    """

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf["t"].to_numpy()
        v = pdf["value"].to_numpy()
        tn = (t - t.min()) / 86400.0 + 2.0  # reference: /assumed_epoch + 2
        vn = v / 100.0
        X = np.column_stack([tn, vn])
        labels = _dbscan_numpy(X, pdf["event_id"].to_numpy(), eps, min_samples)
        out = pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "cluster_id": labels}
        )
        return out[out.cluster_id >= 0]

    e = with_tsec(events).select("user_id", "event_id", "t", "value")
    return apply_per_key(e, "user_id", run, _DBSCAN_SCHEMA)
