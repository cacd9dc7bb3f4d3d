"""Calibration fitting & gaze mapping (SURVEY §2.D).

Re-expresses vedb_gaze/calibration.py three ways, in ascending fidelity:

- ``calibration_linear``: closed-form per-group OLS — the distributed
  skeleton of Calibration.fit/.map (calibration.py:468). Pure aggregate
  algebra (regr_slope/regr_intercept per user), fully SQL-oracled.
- ``calibration_poly``: calibrate_2d_polynomial (calibration.py:102) with
  the reference's 7-term basis (externals/calibrate_2d.py fit_poly_surface:
  1, x, y, xy, x², y², x²y²) and its two-pass outlier cut — numpy lstsq
  per user through functions/grouped.py:apply_per_key.
- ``calibration_tps``: _fit_tps_gaze_cv (calibration.py:350) — thin-plate
  spline with leave-one-out lambda selection, on CLUSTER-MEDIAN-reduced
  points (the reference's cluster_reduce_fn=np.median path,
  calibration.py:472) so each group is a handful of points no matter the
  raw data volume.

Scale: groups are (user) == (session); apply_per_key hashes them into
the session's shuffle partitions, one mapInPandas task per partition. The mapping step is broadcast-able: fitted coefficients are a
tiny table joined back on the partition key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.grouped import apply_per_key
from vedb_gaze_spark.functions.tps import tps_cv_multi
from vedb_gaze_spark.plans import params as P
from vedb_gaze_spark.sources.signals import with_gaze

LAMBDA_GRID = tuple(float(10.0**e) for e in range(-6, 2))  # 1e-6 .. 10


def calibration_linear(events: DataFrame) -> DataFrame:
    """Per-user OLS pupil→gaze mapping + in-sample RMSE. Confidence
    filtering per parse_plab_data (calibration.py:58,
    min_calibration_confidence)."""
    return calibration_linear_points(
        with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE)
    )


def calibration_linear_points(g: DataFrame) -> DataFrame:
    """POINT-TABLE face of calibration_linear (r11): ``g`` carries
    (user_id, px, py, gx, gy) — the canonical calibration input,
    whether derived from the events signal view (the oracled face
    above) or paired out of real pixel detections
    (plans/profiles.py:run_profile_chain). Caller gates confidence."""
    fit = g.groupBy("user_id").agg(
        F.regr_slope("gx", "px").alias("bx"),
        F.regr_intercept("gx", "px").alias("ax"),
        F.regr_slope("gy", "py").alias("by"),
        F.regr_intercept("gy", "py").alias("ay"),
        F.count(F.lit(1)).alias("n_points"),
    )
    mapped = g.join(fit, "user_id")
    ex = F.col("ax") + F.col("bx") * F.col("px") - F.col("gx")
    ey = F.col("ay") + F.col("by") * F.col("py") - F.col("gy")
    return (
        mapped.groupBy("user_id")
        .agg(
            F.round(F.first("bx"), 6).alias("slope_x"),
            F.round(F.first("ax"), 6).alias("intercept_x"),
            F.round(F.first("by"), 6).alias("slope_y"),
            F.round(F.first("ay"), 6).alias("intercept_y"),
            F.first("n_points").alias("n_points"),
            F.round(F.sqrt(F.avg(ex * ex + ey * ey)), 6).alias("rmse"),
        )
    )


_POLY_SCHEMA = (
    "user_id bigint, n_points int, n_inliers int, rmse_pass1 double, rmse_pass2 double"
)


def _poly_features(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """model_n=7 basis of externals/calibrate_2d.py fit_poly_surface."""
    return np.column_stack(
        [np.ones_like(x), x, y, x * y, x * x, y * y, x * x * y * y]
    )


def calibration_poly(
    events: DataFrame, max_stds: float = 2.0
) -> DataFrame:
    """calibrate_2d_polynomial (calibration.py:102): fit on all points,
    cut outliers at median + k*std of the error distance, refit on
    inliers. Per-user groups via apply_per_key."""
    return calibration_poly_points(
        with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE),
        max_stds=max_stds,
    )


def calibration_poly_points(
    g: DataFrame, max_stds: float = 2.0
) -> DataFrame:
    """POINT-TABLE face of calibration_poly (r11, the
    calibration_linear_points convention): (user_id, px, py, gx, gy)
    in, per-user two-pass polynomial QC out."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        px, py = pdf["px"].to_numpy(), pdf["py"].to_numpy()
        gx, gy = pdf["gx"].to_numpy(), pdf["gy"].to_numpy()
        X = _poly_features(px, py)
        cx, *_ = np.linalg.lstsq(X, gx, rcond=None)
        cy, *_ = np.linalg.lstsq(X, gy, rcond=None)
        err = np.sqrt((X @ cx - gx) ** 2 + (X @ cy - gy) ** 2)
        rmse1 = float(np.sqrt(np.mean(err**2)))
        inliers = err < np.median(err) + max_stds * np.std(err)
        if inliers.sum() >= 7:
            Xi = X[inliers]
            cx2, *_ = np.linalg.lstsq(Xi, gx[inliers], rcond=None)
            cy2, *_ = np.linalg.lstsq(Xi, gy[inliers], rcond=None)
            err2 = np.sqrt((Xi @ cx2 - gx[inliers]) ** 2 + (Xi @ cy2 - gy[inliers]) ** 2)
            rmse2 = float(np.sqrt(np.mean(err2**2)))
        else:
            rmse2 = rmse1
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_points": [len(pdf)],
                "n_inliers": [int(inliers.sum())],
                "rmse_pass1": [round(rmse1, 6)],
                "rmse_pass2": [round(rmse2, 6)],
            }
        )

    return apply_per_key(g, "user_id", run, _POLY_SCHEMA)


def _fit3(g: DataFrame) -> DataFrame:
    """Closed-form 2-regressor OLS per user — the exact least-squares
    solution of the reference's model_n=3 basis (externals/calibrate_2d.py
    make_model n==3: [X, Y, 1]) via population-moment normal equations.
    Pure aggregate algebra: map-side partials, one tiny shuffle, no
    Python."""
    a = g.groupBy("user_id").agg(
        F.var_pop("px").alias("sxx"),
        F.var_pop("py").alias("syy"),
        F.covar_pop("px", "py").alias("sxy"),
        F.covar_pop("px", "gx").alias("sxgx"),
        F.covar_pop("py", "gx").alias("sygx"),
        F.covar_pop("px", "gy").alias("sxgy"),
        F.covar_pop("py", "gy").alias("sygy"),
        F.avg("px").alias("mpx"),
        F.avg("py").alias("mpy"),
        F.avg("gx").alias("mgx"),
        F.avg("gy").alias("mgy"),
        F.count(F.lit(1)).alias("n"),
    )
    det = F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy")
    bx1 = (F.col("syy") * F.col("sxgx") - F.col("sxy") * F.col("sygx")) / det
    bx2 = (F.col("sxx") * F.col("sygx") - F.col("sxy") * F.col("sxgx")) / det
    by1 = (F.col("syy") * F.col("sxgy") - F.col("sxy") * F.col("sygy")) / det
    by2 = (F.col("sxx") * F.col("sygy") - F.col("sxy") * F.col("sxgy")) / det
    return a.select(
        "user_id",
        bx1.alias("bx1"),
        bx2.alias("bx2"),
        (F.col("mgx") - bx1 * F.col("mpx") - bx2 * F.col("mpy")).alias("ax"),
        by1.alias("by1"),
        by2.alias("by2"),
        (F.col("mgy") - by1 * F.col("mpx") - by2 * F.col("mpy")).alias("ay"),
        "n",
    )


def _err3():
    ex = F.col("ax") + F.col("bx1") * F.col("px") + F.col("bx2") * F.col("py") - F.col("gx")
    ey = F.col("ay") + F.col("by1") * F.col("px") + F.col("by2") * F.col("py") - F.col("gy")
    return F.sqrt(ex * ex + ey * ey)


def calibration_poly3(events: DataFrame, max_stds: float = 2.0) -> DataFrame:
    """calibrate_2d_polynomial with the reference's LINEAR basis
    (model_n=3, externals/calibrate_2d.py make_model) and the same
    two-pass outlier cut (calibrate_2d.py:36-41: cut err_dist above
    median + k·std, refit on inliers) — entirely in closed-form aggregate
    algebra, so unlike the 7-term variant it is fully SQL-oracle-checked.
    Complements calibration_poly (numpy lstsq, rows-only) rather than
    replacing it."""
    g = with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE)
    f1 = _fit3(g)
    m1 = g.join(F.broadcast(f1), "user_id").withColumn("err", _err3())
    thr = m1.groupBy("user_id").agg(
        (F.median("err") + max_stds * F.stddev_pop("err")).alias("thr"),
        F.round(F.sqrt(F.avg(F.col("err") * F.col("err"))), 6).alias("rmse_pass1"),
    )
    inl = m1.join(F.broadcast(thr), "user_id").where(F.col("err") < F.col("thr"))
    f2 = _fit3(inl.select("user_id", "px", "py", "gx", "gy"))
    out2 = (
        inl.select("user_id", "px", "py", "gx", "gy")
        .join(F.broadcast(f2), "user_id")
        .withColumn("err2", _err3())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_inliers"),
            F.round(F.sqrt(F.avg(F.col("err2") * F.col("err2"))), 6).alias("rmse_pass2"),
        )
    )
    return (
        f1.select("user_id", F.col("n").alias("n_points"))
        .join(thr.select("user_id", "rmse_pass1"), "user_id")
        .join(out2, "user_id")
        .select("user_id", "n_points", "n_inliers", "rmse_pass1", "rmse_pass2")
    )


_TPS_SCHEMA = (
    "user_id bigint, n_clusters int, best_lambda double, cv_rmse double, train_rmse double"
)


def _cluster_medians(events: DataFrame) -> DataFrame:
    """Cluster-median reduction before spline fitting — the reference's
    cluster_reduce_fn=np.median step (calibration.py:472 via
    marker_cluster_stat). Clusters are the time-grid cells; medians are
    exact order statistics, one aggregation."""
    return _cluster_medians_points(
        with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE)
    )


def _cluster_medians_points(g: DataFrame) -> DataFrame:
    """Point-table half of _cluster_medians: (user_id, t, px, py, gx,
    gy) in, per-(user, time-grid-cell) medians out. Caller gates
    confidence."""
    g = g.withColumn("cluster", F.floor(F.col("t") / P.GRID_T_EPS_S))
    return g.groupBy("user_id", "cluster").agg(
        F.median("px").alias("px"),
        F.median("py").alias("py"),
        F.median("gx").alias("gx"),
        F.median("gy").alias("gy"),
    )


_RBF_SCHEMA = (
    "user_id bigint, n_clusters int, best_method string, "
    "best_smoothness double, cv_rmse double, train_rmse double"
)


def calibration_rbf(events: DataFrame) -> DataFrame:
    """_fit_rbf_cv (calibration.py:239): RBF gaze interpolators
    cross-validated over KERNEL FAMILIES (thin-plate/multiquadric/linear/
    cubic) × the reference's 100-point smoothness grid, via the
    closed-form LOO of functions/rbf.py — where the TPS operator
    cross-validates one kernel's λ, this one picks the kernel itself,
    exactly as the reference's grid does. Per-user bounded groups on
    cluster medians; rows-only oracle (LAPACK solves are not SQL)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from vedb_gaze_spark.functions.rbf import rbf_cv

        xy = pdf[["px", "py"]].to_numpy()
        if len(xy) < 5:
            return pd.DataFrame(
                columns=[
                    "user_id", "n_clusters", "best_method",
                    "best_smoothness", "cv_rmse", "train_rmse",
                ]
            ).astype(
                {
                    "user_id": "int64",
                    "n_clusters": "int32",
                    "best_method": "object",
                    "best_smoothness": "float64",
                    "cv_rmse": "float64",
                    "train_rmse": "float64",
                }
            )
        V = pdf[["gx", "gy"]].to_numpy()
        method, smooth, cv_rmse, train_rmse = rbf_cv(xy, V)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_clusters": [len(xy)],
                "best_method": [method],
                "best_smoothness": [round(smooth, 6)],
                "cv_rmse": [round(cv_rmse, 6)],
                "train_rmse": [round(train_rmse, 6)],
            }
        )

    return apply_per_key(_cluster_medians(events), "user_id", run, _RBF_SCHEMA)


def calibration_tps(events: DataFrame) -> DataFrame:
    """_fit_tps_gaze_cv (calibration.py:350): TPS gx,gy ← (px,py) with
    leave-one-out lambda selection on cluster-median points."""
    return calibration_tps_points(
        with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE)
    )


def calibration_tps_points(g: DataFrame) -> DataFrame:
    """POINT-TABLE face of calibration_tps (r11): (user_id, t, px, py,
    gx, gy) in; the cluster-median reduction happens here so raw pixel
    pairings get the same bounded per-group size as the events face."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        xy = pdf[["px", "py"]].to_numpy()
        n = len(xy)
        if n < 5:
            return pd.DataFrame(
                columns=["user_id", "n_clusters", "best_lambda", "cv_rmse", "train_rmse"]
            ).astype(
                {
                    "user_id": "int64",
                    "n_clusters": "int32",
                    "best_lambda": "float64",
                    "cv_rmse": "float64",
                    "train_rmse": "float64",
                }
            )
        lams = np.array(LAMBDA_GRID)
        V = pdf[["gx", "gy"]].to_numpy()
        best_lam, cv_rmse, _, train_pred = tps_cv_multi(xy, V, lams)
        lam_x, lam_y = best_lam
        cv_x, cv_y = cv_rmse
        resid = train_pred - V
        train = float(np.sqrt(np.mean(resid[:, 0] ** 2 + resid[:, 1] ** 2)))
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_clusters": [n],
                "best_lambda": [float(min(lam_x, lam_y))],
                "cv_rmse": [round(float(np.sqrt((cv_x**2 + cv_y**2) / 2)), 6)],
                "train_rmse": [round(train, 6)],
            }
        )

    return apply_per_key(
        _cluster_medians_points(g), "user_id", run, _TPS_SCHEMA
    )


def point_grid(
    n_points: int = 60,
    n_horizontal_lines: int = 7,
    n_vertical_lines: int = 10,
    st_horizontal: float = 0.0,
    fin_horizontal: float = 1.0,
    st_vertical: float = 0.0,
    fin_vertical: float = 1.0,
):
    """The reference's rectangular validation grid
    (calibration.py:416 ``get_point_grid``): horizontal lines sampled
    densely along x, then vertical lines sampled densely along y
    (n_points_vertical = ceil(n_points / (n_vertical/n_horizontal))),
    concatenated — the (x, y) target layout calibration-validation
    sweeps evaluate against. Returns (xg_pts, yg_pts) numpy arrays,
    same as the reference."""
    import numpy as np

    aspect_ratio = n_vertical_lines / n_horizontal_lines
    n_points_vertical = int(np.ceil(n_points / aspect_ratio))
    tt_sparse_h = np.linspace(st_vertical, fin_vertical, n_horizontal_lines)
    tt_dense_h = np.linspace(st_horizontal, fin_horizontal, n_points)
    xga, yga = np.meshgrid(tt_dense_h, tt_sparse_h)
    tt_sparse_v = np.linspace(st_horizontal, fin_horizontal, n_vertical_lines)
    tt_dense_v = np.linspace(st_vertical, fin_vertical, n_points_vertical)
    xgb, ygb = np.meshgrid(tt_sparse_v, tt_dense_v)
    xg_pts = np.hstack([xga.flatten(), xgb.flatten()])
    yg_pts = np.hstack([yga.flatten(), ygb.flatten()])
    return xg_pts, yg_pts


def point_grid_df(spark, **kwargs):
    """DataFrame face of point_grid: (point_id, x, y) — the broadcastable
    target table a distributed validation sweep joins against."""
    xg, yg = point_grid(**kwargs)
    return spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(xg, yg))],
        "point_id int, x double, y double",
    )
