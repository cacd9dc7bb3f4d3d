"""Gaze-error computation (SURVEY §2.E).

Re-expresses error_computation.py:18 ``compute_error``:

- ``gaze_error``: the pointwise core — match gaze to markers, filter by
  confidence (min_pupil_confidence, :107), pixel-space error magnitude in
  degrees via the pixels-per-degree constant (:88-91), angle (:150), and
  the median±k·std outlier cut (:133-143). Window aggregates per user; one
  shuffle.
- ``gaze_error_weighted``: the histogram2d weighting step (:204-213) —
  gaze-density-weighted mean error per spatial bin.
- ``error_surface_tps``: the TPS error surface on a coarse grid
  (:173-198, method='tps'), numpy per user via apply_per_key on
  cluster-reduced points.
- ``error_surface_grid``: the ``method='griddata'`` surface (:165-166)
  — hull-bounded scattered interpolation of the error field onto the
  same grid (scipy-free Delaunay + barycentric linear,
  functions/delaunay.py), NULL outside the convex hull (the
  reference's fill_value=nan / extrapolate=False contract).
- ``error_grid_qc``: the interpolated-gaze QC rollup (:204-213) —
  gaze-histogram-weighted mean of the grid surface plus the
  fraction of gaze falling outside the interpolated region
  (``gaze_fraction_excluded``).

PPD is inlined as a Python literal so both engines parse the identical
double (no cross-engine division-order drift).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.grouped import apply_per_key
from vedb_gaze_spark.functions.tps import tps_fit, tps_eval
from vedb_gaze_spark.plans import params as P
from vedb_gaze_spark.sources.signals import with_gaze

# mean of horizontal/vertical pixels-per-degree (error_computation.py:88)
PPD = (P.IMAGE_W / P.DEG_HORIZ + P.IMAGE_H / P.DEG_VERT) / 2.0


def _pointwise_error(events: DataFrame) -> DataFrame:
    g = with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE)
    dx = (F.col("gx") - F.col("mx")) * P.IMAGE_W
    dy = (F.col("gy") - F.col("my")) * P.IMAGE_H
    err = F.sqrt(dx * dx + dy * dy) / F.lit(PPD)
    return g.withColumn("err", err)


def gaze_error(events: DataFrame, outlier_stds: float = P.ERROR_OUTLIER_STDS) -> DataFrame:
    """Pointwise gaze error in degrees with the reference's outlier cut:
    keep |err − median(err)| <= k·std(err), stats per user."""
    e = _pointwise_error(events)
    w = Window.partitionBy("user_id")
    e = e.withColumn("med_err", F.median("err").over(w)).withColumn(
        "std_err", F.stddev_pop("err").over(w)
    )
    return (
        e.where(F.abs(F.col("err") - F.col("med_err")) <= outlier_stds * F.col("std_err"))
        .select(
            "user_id",
            "event_id",
            F.round("err", 6).alias("err_deg"),
            # atan2 over PIXEL-scaled deltas, matching the reference's
            # arctan2 on the pixel error vector (error_computation.py) —
            # with IMAGE_W != IMAGE_H the normalized-coordinate angle
            # would be aspect-distorted
            F.round(
                F.atan2(
                    (F.col("gx") - F.col("mx")) * P.IMAGE_W,
                    (F.col("gy") - F.col("my")) * P.IMAGE_H,
                ),
                6,
            ).alias("err_angle"),
        )
    )


def gaze_error_weighted(events: DataFrame, bins: int = P.HIST_BINS) -> DataFrame:
    """histogram2d weighting (error_computation.py:204): bin gaze
    positions on a bins×bins grid, mean error + gaze density per bin.
    The bin key is bounded (user × bins²) — uniform shuffle."""
    e = _pointwise_error(events)
    bx = F.least(F.floor(F.col("gx") * bins), F.lit(bins - 1)).cast("int")
    by = F.least(F.floor(F.col("gy") * bins), F.lit(bins - 1)).cast("int")
    e = e.withColumn("bin_x", F.greatest(bx, F.lit(0))).withColumn(
        "bin_y", F.greatest(by, F.lit(0))
    )
    wu = Window.partitionBy("user_id")
    return (
        e.withColumn("n_user", F.count(F.lit(1)).over(wu))
        .groupBy("user_id", "bin_x", "bin_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("err"), 6).alias("mean_err"),
            F.round(F.count(F.lit(1)) / F.first("n_user"), 6).alias("density"),
        )
    )


_SURFACE_SCHEMA = "user_id bigint, grid_x double, grid_y double, err_est double"

_GRID_X = np.linspace(0.1, 0.9, 8)
_GRID_Y = np.linspace(0.1, 0.9, 6)

# The reference's full-image surface grid:
# vertical_horizontal_smooth_error_resolution=(300, 400) unpacks as
# (vres, hres) — image ROWS then COLS — and the node positions are
# hpix = linspace(0, 1, hres), vpix = linspace(0, 1, vres)
# (error_computation.py:20, :152-162). The registered bench faces keep
# the compact 8×6 grid spanning (0.1, 0.9) so their outputs stay
# user×48; pass resolution/span to any surface face (or resolve an
# error-smooth_* profile, which carries the reference default) to
# reproduce the reference's surface shape.
REFERENCE_RESOLUTION = (300, 400)
REFERENCE_SPAN = (0.0, 1.0)


def grid_nodes(
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Surface grid nodes (grid_x, grid_y) for the error faces.

    ``resolution=None, span=None`` → the engine's 8×6 bench grid.
    ``resolution=(vres, hres)`` mirrors the reference kwarg order
    (rows, cols); a SCALAR resolution is the reference's
    fraction-of-image_resolution path (error_computation.py:152-155:
    ``(image_resolution * res).astype(int)`` with image_resolution =
    (W, H), so hres scales the width). ``span`` defaults to the
    reference's linspace(0, 1) when any knob is set."""
    if resolution is None and span is None:
        return _GRID_X, _GRID_Y
    if resolution is None:
        resolution = REFERENCE_RESOLUTION
    if isinstance(resolution, (tuple, list)):
        vres, hres = resolution
    else:
        hres = int(P.IMAGE_W * resolution)
        vres = int(P.IMAGE_H * resolution)
    lo, hi = REFERENCE_SPAN if span is None else span
    return (
        np.linspace(float(lo), float(hi), int(hres)),
        np.linspace(float(lo), float(hi), int(vres)),
    )


def _reduced_error(events: DataFrame) -> DataFrame:
    """The reference's surface-input spine in its exact ORDER
    (error_computation.py:106-132, r13): confidence filter →
    cluster-median of the POSITIONS (marker_pos and gaze_pos
    separately, :111-127) → pixel-space error magnitude of the REDUCED
    positions (:130-132). r12 reduced the per-point error magnitudes
    instead (median of norms); the reference takes the norm of the
    coordinate medians — different whenever positions vary within a
    cluster. Emits the (user_id, t, mx, my, err) point-table contract
    with one row per cluster at t = cluster·eps + eps/2, so the
    kernels' internal cluster reduce is an identity pass-through."""
    g = with_gaze(events).where(F.col("conf") > P.MIN_CONFIDENCE)
    g = g.withColumn("cluster", F.floor(F.col("t") / P.GRID_T_EPS_S))
    red = g.groupBy("user_id", "cluster").agg(
        F.median("mx").alias("mx"),
        F.median("my").alias("my"),
        F.median("gx").alias("gx"),
        F.median("gy").alias("gy"),
    )
    dx = (F.col("gx") - F.col("mx")) * P.IMAGE_W
    dy = (F.col("gy") - F.col("my")) * P.IMAGE_H
    return red.select(
        "user_id",
        (F.col("cluster") * P.GRID_T_EPS_S + P.GRID_T_EPS_S / 2.0).alias("t"),
        "mx",
        "my",
        (F.sqrt(dx * dx + dy * dy) / F.lit(PPD)).alias("err"),
    )


def _outlier_cut(reduced: DataFrame, outlier_stds: float | None) -> DataFrame:
    """The reference's ``outlier_stds`` cut on the CLUSTER-REDUCED
    errors (error_computation.py:133-143, default 4): keep
    |err − median(err)| <= k·std(err), stats per user over the reduced
    points (np.std is the population std → stddev_pop). None disables,
    like the reference kwarg. One window over the cluster-reduced
    table — tens of rows per user at any scale."""
    if outlier_stds is None:
        return reduced
    w = Window.partitionBy("user_id")
    with_stats = reduced.withColumn(
        "__med", F.median("err").over(w)
    ).withColumn("__std", F.stddev_pop("err").over(w))
    return with_stats.where(
        F.abs(F.col("err") - F.col("__med"))
        <= outlier_stds * F.col("__std")
    ).drop("__med", "__std")


def _hull_mask(xy: np.ndarray, pts: np.ndarray, est: np.ndarray) -> np.ndarray:
    """NaN ``est`` at grid points outside the convex hull of the fit
    points ``xy`` — the reference's extrapolate=False contract: it
    masks the tps/tps_cv surfaces wherever the griddata surface is
    NaN (error_computation.py:178/:197), and griddata's NaN set IS the
    complement of the points' convex hull. The test reuses the shared
    Delaunay machinery on position-deduped points (interp_linear over
    a zero field: finite inside the hull, NaN outside — hull identity
    between the linear and cubic variants is pytest-pinned)."""
    from vedb_gaze_spark.functions.delaunay import interp_linear

    uxy = np.unique(xy, axis=0)
    probe = interp_linear(uxy, np.zeros(len(uxy)), pts)
    return np.where(np.isnan(probe), np.nan, est)


def error_surface_tps(
    events: DataFrame,
    lambd: float = 0.01,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    extrapolate: bool = False,
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """TPS error surface evaluated on a grid (error_computation.py:173,
    method='tps'), per user on cluster-median points. Default is the
    compact 8×6 bench grid (user × 48 values); resolution/span reach
    the reference's full-image (300, 400) / linspace(0, 1) grid — see
    grid_nodes. ``extrapolate`` mirrors compute_error's kwarg (default
    FALSE, the reference default): when False the TPS estimate is
    NULLed outside the fit points' convex hull — the reference masks
    its tps/tps_cv surfaces by the griddata surface's NaN pattern
    (error_computation.py:178/:197 ``gaze_err_image[np.isnan(tmp)] =
    np.nan``), and the cubic/linear griddata hull is exactly the
    convex hull of the points (r13; r12 shipped the extrapolating
    variant only). The surface input follows the reference's exact
    order (r13): cluster-median of POSITIONS, then the error of the
    reduced positions, then the ``outlier_stds`` median±k·std cut
    (:106-143) — see _reduced_error/_outlier_cut."""
    return error_surface_tps_points(
        _reduced_error(events), lambd=lambd,
        resolution=resolution, span=span, extrapolate=extrapolate,
        outlier_stds=outlier_stds,
    )


def error_surface_tps_points(
    e: DataFrame,
    lambd: float = 0.01,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    extrapolate: bool = False,
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """POINT-TABLE face of error_surface_tps (r11, the
    calibration_*_points convention): ``e`` carries (user_id, t, mx,
    my, err) — pointwise gaze error in degrees at marker positions,
    whether from the reference-order event spine (_reduced_error) or
    mapped out of real pixel detections
    (plans/profiles.py:run_profile_chain). The cluster-median
    reduction happens here so every caller gets the same bounded
    per-group size (an identity pass-through for pre-reduced input),
    followed by the reference's ``outlier_stds`` cut (:133-143) on the
    reduced errors."""
    grid_x, grid_y = grid_nodes(resolution, span)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 5:
            return pd.DataFrame(
                {"user_id": [], "grid_x": [], "grid_y": [], "err_est": []}
            ).astype({"user_id": "int64", "grid_x": "float64", "grid_y": "float64", "err_est": "float64"})
        xy = pdf[["mx", "my"]].to_numpy()
        v = pdf["err"].to_numpy()
        theta = tps_fit(xy, v, lambd)
        gx, gy = np.meshgrid(grid_x, grid_y)
        pts = np.column_stack([gx.ravel(), gy.ravel()])
        est = tps_eval(pts, xy, theta)
        if not extrapolate:
            est = _hull_mask(xy, pts, est)
        # reference floors the surface at the minimum observed error
        # (:200); NaN (outside hull) propagates through np.maximum
        est = np.maximum(est, v.min())
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "grid_x": pts[:, 0],
                "grid_y": pts[:, 1],
                "err_est": np.round(est, 6),
            }
        )

    reduced = _outlier_cut(_cluster_reduce(e), outlier_stds)
    return apply_per_key(reduced, "user_id", run, _SURFACE_SCHEMA)


# the reference's default LOO grid: compute_error(lambd=...)'s literal
# 16-value default list (error_computation.py:20-36) IS
# np.logspace(-6, 1, 16) — step 7/15 in the exponent (its second value
# 2.9286445646e-06 = 10^(-6+7/15)). r12 shipped a 15-point grid that
# shared only the endpoints; LOO could select a different lambda
# (ADVICE r12 #1, pinned in tests/test_numerics.py).
_TPS_CV_LAMBDAS = tuple(10.0 ** (-6.0 + 7.0 * i / 15.0) for i in range(16))


def error_surface_tps_cv(
    events: DataFrame,
    lambdas: tuple = _TPS_CV_LAMBDAS,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    extrapolate: bool = False,
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """``compute_error(method='tps_cv')`` — the reference's DEFAULT
    error-surface method (error_computation.py:20,:183-198): per user,
    leave-one-out cross-validation selects the TPS smoothing lambda
    from the reference's 16-point logspace(-6, 1, 16) default list
    (reproduced bit-exactly by _TPS_CV_LAMBDAS), then the winning
    lambda's surface evaluates on the coarse grid. The LOO sweep uses
    the closed-form stacked-inverse kernel (functions/tps.py:
    tps_fit_cv — pinned ≡ the reference's explicit refit loop in
    tests/test_numerics.py), so the per-user cost is one O(n³) solve
    per lambda over CLUSTER-REDUCED points, not n refits.
    ``extrapolate`` (default False, the reference default) NULLs the
    surface outside the fit points' convex hull, mirroring
    error_computation.py:197's mask of the tps_cv surface by the
    griddata NaN pattern — see error_surface_tps. Surface input
    follows the reference's exact order (r13): position medians →
    reduced-position error → the outlier_stds cut (:106-143)."""
    return error_surface_tps_cv_points(
        _reduced_error(events), lambdas=lambdas,
        resolution=resolution, span=span, extrapolate=extrapolate,
        outlier_stds=outlier_stds,
    )


def error_surface_tps_cv_points(
    e: DataFrame,
    lambdas: tuple = _TPS_CV_LAMBDAS,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    extrapolate: bool = False,
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """POINT-TABLE face of error_surface_tps_cv (the
    calibration_*_points convention)."""
    from vedb_gaze_spark.functions.tps import tps_fit_cv

    lam_grid = np.asarray(lambdas, dtype=float)
    grid_x, grid_y = grid_nodes(resolution, span)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 5:
            return pd.DataFrame(
                {"user_id": [], "grid_x": [], "grid_y": [], "err_est": []}
            ).astype(
                {
                    "user_id": "int64",
                    "grid_x": "float64",
                    "grid_y": "float64",
                    "err_est": "float64",
                }
            )
        xy = pdf[["mx", "my"]].to_numpy()
        v = pdf["err"].to_numpy()
        lam, _ = tps_fit_cv(xy, v, lam_grid)
        theta = tps_fit(xy, v, lam)
        gx, gy = np.meshgrid(grid_x, grid_y)
        pts = np.column_stack([gx.ravel(), gy.ravel()])
        est = tps_eval(pts, xy, theta)
        if not extrapolate:
            est = _hull_mask(xy, pts, est)
        est = np.maximum(est, v.min())  # the :200 floor (NaN passes)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "grid_x": pts[:, 0],
                "grid_y": pts[:, 1],
                "err_est": np.round(est, 6),
            }
        )

    return apply_per_key(
        _outlier_cut(_cluster_reduce(e), outlier_stds),
        "user_id", run, _SURFACE_SCHEMA,
    )


_GRID_SCHEMA = (
    "user_id bigint, ix int, iy int, grid_x double, grid_y double, "
    "err_est double"
)


def _cluster_reduce(e: DataFrame) -> DataFrame:
    """The shared cluster-median reduction both surface faces run
    (bounded per-group size regardless of session length)."""
    e = e.withColumn("cluster", F.floor(F.col("t") / P.GRID_T_EPS_S))
    return e.groupBy("user_id", "cluster").agg(
        F.median("mx").alias("mx"),
        F.median("my").alias("my"),
        F.median("err").alias("err"),
    )


def _box_blur(img: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """cv2.blur twin for the error image (error_computation.py:170):
    kh×kw uniform mean with the REFLECT_101 border cv2 defaults to
    (np.pad mode='reflect' is the same convention). Pure numpy — the
    grid is user×48, so this is microseconds."""
    ph, pw = kh // 2, kw // 2
    pad = np.pad(img, ((ph, kh - 1 - ph), (pw, kw - 1 - pw)), "reflect")
    # separable mean via 2-D cumulative sums on the tiny padded grid
    c = pad.cumsum(axis=0).cumsum(axis=1)
    c = np.pad(c, ((1, 0), (1, 0)))
    H, W = img.shape
    out = (
        c[kh : kh + H, kw : kw + W]
        - c[:H, kw : kw + W]
        - c[kh : kh + H, :W]
        + c[:H, :W]
    ) / float(kh * kw)
    return out


def _surface_grid_indexed(
    e: DataFrame,
    smoothing: tuple[int, int] | None = None,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    interp: str = "cubic",
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """Internal grid face carrying node indices (ix, iy) so the QC
    rollup can key gaze-histogram bins to surface nodes without
    re-deriving positions from float grid coordinates. ``interp`` is
    'cubic' (the reference's griddata method — C¹ Clough-Tocher,
    functions/delaunay.py interp_cubic, the r13 default) or 'linear'
    (the r12 barycentric variant; same hull/NaN semantics)."""
    if interp not in ("cubic", "linear"):
        raise ValueError(f"interp must be 'cubic' or 'linear': {interp!r}")
    grid_x, grid_y = grid_nodes(resolution, span)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "ix": pd.Series([], dtype="int32"),
                "iy": pd.Series([], dtype="int32"),
                "grid_x": pd.Series([], dtype="float64"),
                "grid_y": pd.Series([], dtype="float64"),
                "err_est": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 4:
            # reference raises below 4 points (:146); a distributed
            # sweep degrades to no-surface-for-this-user instead
            return empty
        from vedb_gaze_spark.functions.delaunay import (
            interp_cubic,
            interp_linear,
        )

        interp_fn = interp_cubic if interp == "cubic" else interp_linear

        # dedup coincident cluster medians (Delaunay precondition):
        # mean err per exact position, deterministic (lexsorted) order.
        # numpy unique instead of a pandas groupby: the groupby cost
        # ~1.1 ms per 10-row group — the dominant kernel cost at 1500
        # users (PERF_NOTES r12)
        arr = pdf[["mx", "my", "err"]].to_numpy(dtype="float64")
        xy, inv = np.unique(arr[:, :2], axis=0, return_inverse=True)
        if len(xy) < 4:
            return empty
        v = np.bincount(inv, weights=arr[:, 2]) / np.bincount(inv)
        gx, gy = np.meshgrid(grid_x, grid_y)
        ixg, iyg = np.meshgrid(
            np.arange(len(grid_x)), np.arange(len(grid_y))
        )
        pts = np.column_stack([gx.ravel(), gy.ravel()])
        est = interp_fn(xy, v, pts)
        if smoothing is not None:
            # error_smoothing_kernels (:168-172): NaNs filled with the
            # max OBSERVED pointwise error — np.nanmax(gaze_err), i.e.
            # v.max() on the reduced points, NOT the interpolated
            # surface max (ADVICE r12 #3: a linear surface's max is
            # <= the data max, so the r12 fill biased blurred values
            # near the hull boundary low) — box-blurred, then the hull
            # mask restored: the blur smooths INSIDE the hull only
            img = est.reshape(len(grid_y), len(grid_x))
            nanmask = np.isnan(img)
            if not nanmask.all():
                filled = np.where(nanmask, v.max(), img)
                blurred = _box_blur(filled, smoothing[0], smoothing[1])
                img = np.where(nanmask, np.nan, blurred)
                est = img.ravel()
        # reference floors the surface at the minimum observed error
        # (:200) — NaN (outside hull) passes through untouched
        est = np.where(np.isnan(est), est, np.maximum(est, v.min()))
        return pd.DataFrame(
            {
                "user_id": np.int64(pdf["user_id"].iloc[0])
                if "user_id" in pdf
                else 0,
                "ix": ixg.ravel().astype("int32"),
                "iy": iyg.ravel().astype("int32"),
                "grid_x": pts[:, 0],
                "grid_y": pts[:, 1],
                "err_est": np.round(est, 6),
            }
        )

    # keep user_id through the position-dedup groupby above
    def run_keyed(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = pdf["user_id"].iloc[0] if len(pdf) else 0
        out = run(pdf)
        if len(out):
            out["user_id"] = np.int64(uid)
        return out

    return apply_per_key(
        _outlier_cut(_cluster_reduce(e), outlier_stds),
        "user_id", run_keyed, _GRID_SCHEMA,
    )


def error_surface_grid(
    events: DataFrame,
    smoothing: tuple[int, int] | None = None,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    interp: str = "cubic",
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """``compute_error(method='griddata')`` (error_computation.py:165):
    hull-bounded scattered interpolation of the pointwise error field
    onto the evaluation grid — scipy-free Delaunay + the C¹
    Clough-Tocher CUBIC blend the reference's griddata call names
    (method='cubic'; functions/delaunay.py interp_cubic, with
    minimum-norm-network gradient estimation — interp='linear' keeps
    the r12 barycentric variant), per user on cluster-median points,
    NULL outside the convex hull (the fill_value=nan /
    extrapolate=False contract), floored at the minimum observed
    error (:200). Output user × 48 grid rows — tiny
    at any scale; the heavy lifting (matching, confidence gate,
    pixel-space error) is the same distributed _pointwise_error spine
    every §2.E face shares. ``smoothing`` is the reference's optional
    error_smoothing_kernels box blur (:168-172), applied inside the
    hull only (NaNs filled with the max OBSERVED pointwise error for
    the blur, then restored — the reference's np.nanmax(gaze_err)
    fill). ``resolution``/``span`` reach the reference's full-image
    (300, 400) / linspace(0, 1) grid (grid_nodes); default stays the
    8×6 bench grid so the registered key's output is user × 48. The
    surface input follows the reference's exact order (r13): position
    medians → reduced-position error → the outlier_stds cut
    (:106-143)."""
    return error_surface_grid_points(
        _reduced_error(events), smoothing=smoothing,
        resolution=resolution, span=span, interp=interp,
        outlier_stds=outlier_stds,
    )


def error_surface_grid_points(
    e: DataFrame,
    smoothing: tuple[int, int] | None = None,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    interp: str = "cubic",
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """POINT-TABLE face of error_surface_grid (the calibration_*_points
    convention): ``e`` carries (user_id, t, mx, my, err)."""
    return _surface_grid_indexed(
        e, smoothing=smoothing, resolution=resolution, span=span,
        interp=interp, outlier_stds=outlier_stds,
    ).select("user_id", "grid_x", "grid_y", "err_est")


def error_grid_qc(
    events: DataFrame,
    gaze: DataFrame | None = None,
    resolution: tuple[int, int] | float | None = None,
    span: tuple[float, float] | None = None,
    outlier_stds: float | None = P.ERROR_OUTLIER_STDS,
) -> DataFrame:
    """The interpolated-gaze QC rollup of the griddata path
    (error_computation.py:204-213): histogram the session's gaze
    positions onto the surface's node bins, then per user report
    gaze_err_weighted — nansum(hst_pct · err_image) normalized by the
    interpolated fraction, which reduces to the gaze-count-weighted
    mean of the surface over interpolated nodes — and
    fraction_excluded, the share of gaze falling where the surface is
    NULL (outside the marker hull). The reference returns these two
    scalars with every compute_error dict; they are THE session-level
    QC numbers a sweep reads.

    Shape: one groupBy over gaze (user × 48 bins), one broadcast join
    against the user × 48 surface, one rollup — the surface side is
    model-sized, so the plan stays scan + two tiny exchanges.

    ``gaze`` (optional, default the events signal view) overrides the
    gaze-position table: (user_id, gx, gy) — the reference reads
    gaze['norm_pos'], which CAN leave [0,1]^2 for poorly calibrated
    sessions; out-of-range rows are dropped per np.histogram2d.
    ``resolution``/``span`` select the surface grid (grid_nodes); the
    gaze histogram always bins on [0,1] edges with one bin per node,
    exactly the reference's linspace(0, 1, n+1) edges."""
    grid_x, grid_y = grid_nodes(resolution, span)
    nx, ny = len(grid_x), len(grid_y)
    g = with_gaze(events) if gaze is None else gaze
    # np.histogram2d with edges linspace(0, 1, n+1) DROPS gaze outside
    # [0,1]^2 from both the total and the weighting (ADVICE r12 #2 —
    # r12 clamped them into edge bins); only the ==1 right edge folds
    # into the last bin (numpy's closed final interval).
    g = g.where(
        (F.col("gx") >= 0) & (F.col("gx") <= 1)
        & (F.col("gy") >= 0) & (F.col("gy") <= 1)
    )
    bx = F.least(F.floor(F.col("gx") * nx), F.lit(nx - 1)).cast("int")
    by = F.least(F.floor(F.col("gy") * ny), F.lit(ny - 1)).cast("int")
    counts = (
        g.withColumn("ix", bx)
        .withColumn("iy", by)
        .groupBy("user_id", "ix", "iy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    surface = _surface_grid_indexed(
        _reduced_error(events), resolution=resolution, span=span,
        outlier_stds=outlier_stds,
    ).select("user_id", "ix", "iy", "err_est")
    # The surface side is model-sized ONLY on bench-style grids
    # (user × 48). At the reference's full-image (300, 400) grid it is
    # user × 120,000 rows — broadcasting that is a driver-memory bet
    # that loses at fleet user counts (r13 verdict #7). Merely
    # omitting the broadcast() hint is NOT enough: the surface comes
    # out of apply_per_key's mapInPandas, whose optimizer size estimate is
    # child-derived and tiny, so the static planner still picks a
    # broadcast hash join and ships the real 1.3 GiB to the driver
    # (measured: maxResultSize abort at 1,500 users × 120k nodes,
    # slope_r14). Past the node budget the surface side carries an
    # explicit sort-merge hint — big-big safe at any user count.
    small = nx * ny <= 4096
    joined = counts.join(
        F.broadcast(surface) if small else surface.hint("merge"),
        ["user_id", "ix", "iy"], "left",
    )
    n_interp = F.sum(
        F.when(F.col("err_est").isNotNull(), F.col("n")).otherwise(F.lit(0))
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.sum("n").alias("n_gaze"),
            n_interp.alias("n_interp"),
            F.sum(
                F.when(
                    F.col("err_est").isNotNull(),
                    F.col("n") * F.col("err_est"),
                ).otherwise(F.lit(0.0))
            ).alias("werr"),
        )
        .select(
            "user_id",
            F.col("n_gaze").cast("long").alias("n_gaze"),
            F.expr(
                "CASE WHEN n_interp > 0 THEN "
                "floor(werr / cast(n_interp as double) * 1e6 + 0.5) / 1e6 "
                "END"
            ).alias("gaze_err_weighted"),
            F.expr(
                "floor((n_gaze - n_interp) / cast(n_gaze as double) "
                "* 1e6 + 0.5) / 1e6"
            ).alias("fraction_excluded"),
        )
    )
