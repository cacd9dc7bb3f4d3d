"""3-D calibration (SURVEY §2.D extension).

Re-expresses ``calibrate_monocular`` / ``calibrate_binocular``
(externals/calibrate_3d.py:103/:40): solve for the eye camera's
ORIENTATION so its pupil normals line up with the unprojected reference
directions, and report the residual alignment error.

The reference delegates the refinement to an external bundle-adjustment
package (`bundle_adjustment.BundleAdjustment`, a scipy least-squares
dependency not vendored in the repo and absent from this container); its
own initialization step (`utils.get_initial_eye_camera_rotation`,
calibrate_3d.py:59) is the closed-form orthogonal-Procrustes/Kabsch
alignment between the two direction bundles. Kabsch is globally optimal
for the squared CHORD distance ‖R·p − r‖²; the bundle adjustment's loss
is the squared ANGLE arccos(R·p · r) — a different functional whose
optimum differs slightly under anisotropic jitter. We therefore follow
the reference's two-stage shape inside one apply_per_key group: Kabsch
initializer (one SVD), then a Levenberg–Marquardt polish on the angular
residuals over the 3 axis-angle parameters (pure numpy — scipy is not
in this container; the group-local LM on 3 parameters is ~30 lines and
numerically identical in role to least_squares(method="lm")). Both
residuals are reported so the refinement gain is observable.

The test tables carry no 3-D normals, so reference directions derive
deterministically from event_id (azimuth/elevation integer math) and
pupil normals are those directions pushed through a fixed ground-truth
rotation plus deterministic jitter — the operator must recover the
rotation. Per-user bounded groups via apply_per_key; rows-only oracle
(SVD is not SQL).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.grouped import apply_per_key
from vedb_gaze_spark.operators.temporal import with_tsec

# fixed ground-truth eye rotation: 15° about a fixed axis (literal)
_ANGLE = np.deg2rad(15.0)
_AXIS = np.array([0.267261, 0.534522, 0.801784])  # normalized (1,2,3)


def _rot(axis: np.ndarray, angle: float) -> np.ndarray:
    c, s = np.cos(angle), np.sin(angle)
    x, y, z = axis
    K = np.array([[0, -z, y], [z, 0, -x], [-y, x, 0]])
    return np.eye(3) + s * K + (1 - c) * (K @ K)


_R_TRUE = _rot(_AXIS, _ANGLE)

_C3D_SCHEMA = (
    "user_id bigint, n_points int, residual_deg double, "
    "residual_kabsch_deg double, "
    "roll double, pitch double, yaw double, success boolean"
)
_RESIDUAL_THRESHOLD_DEG = 3.0


def _angles(Rm: np.ndarray, Pn: np.ndarray, Rf: np.ndarray) -> np.ndarray:
    """Angular residuals (radians) between rotated pupil normals and
    reference directions."""
    cosang = np.clip((Pn @ Rm.T * Rf).sum(1), -1.0, 1.0)
    return np.arccos(cosang)


def _lm_refine(
    R0: np.ndarray, Pn: np.ndarray, Rf: np.ndarray, iters: int = 20
) -> np.ndarray:
    """Levenberg–Marquardt over the 3 axis-angle parameters of a left
    perturbation exp([ω]×)·R0, minimizing Σ θ_i² (the bundle-adjustment
    loss). Numeric central-difference Jacobian — the 6 perturbed
    evaluations run as ONE stacked (6,n,3) matmul per step (same
    per-slice BLAS as six scalar calls — bit-identical, r14); 3×3
    normal equations solve. Returns the refined rotation (falls back
    to R0 if no step improves)."""
    w = np.zeros(3)
    lam = 1e-3
    cost = float((_angles(R0, Pn, Rf) ** 2).sum())
    R_best = R0
    eps = 1e-6
    for _ in range(iters):
        f0 = _angles(R_best, Pn, Rf)
        Rst = np.empty((6, 3, 3))
        for j in range(3):
            d = np.zeros(3)
            d[j] = eps
            Rst[j] = _rot_vec(d) @ R_best
            Rst[3 + j] = _rot_vec(-d) @ R_best
        rot = np.matmul(Pn[None, :, :], Rst.transpose(0, 2, 1))
        ang = np.arccos(np.clip((rot * Rf[None, :, :]).sum(2), -1.0, 1.0))
        J = np.empty((len(f0), 3))
        for j in range(3):
            J[:, j] = (ang[j] - ang[3 + j]) / (2 * eps)
        g = J.T @ f0
        H = J.T @ J
        stepped = False
        for _try in range(8):
            try:
                delta = np.linalg.solve(H + lam * np.eye(3), -g)
            except np.linalg.LinAlgError:
                lam *= 10
                continue
            R_new = _rot_vec(delta) @ R_best
            c_new = float((_angles(R_new, Pn, Rf) ** 2).sum())
            if c_new < cost:
                R_best, cost = R_new, c_new
                lam = max(lam * 0.3, 1e-12)
                stepped = True
                break
            lam *= 10
        if not stepped or float(np.linalg.norm(delta)) < 1e-12:
            break
    return R_best


def _rot_vec(w: np.ndarray) -> np.ndarray:
    """Rotation matrix exp([w]×) from an axis-angle vector."""
    ang = float(np.linalg.norm(w))
    if ang < 1e-15:
        return np.eye(3)
    return _rot(w / ang, ang)


def _ref_dirs(events: DataFrame) -> DataFrame:
    """Unit reference directions from integer event_id math (both
    engines would derive identical values; only numpy consumes them)."""
    k = F.col("event_id")
    az = ((k * 104723) % 360).cast("double") * float(np.pi / 180.0)
    el = (((k * 15493) % 120) - 60).cast("double") * float(np.pi / 180.0)
    jx = (((k * 7321) % 21) - 10).cast("double") / 2000.0
    jy = (((k * 9973) % 21) - 10).cast("double") / 2000.0
    jz = (((k * 3947) % 21) - 10).cast("double") / 2000.0
    return with_tsec(events).select(
        "user_id",
        "event_id",
        (F.cos(el) * F.cos(az)).alias("rx"),
        (F.cos(el) * F.sin(az)).alias("ry"),
        F.sin(el).alias("rz"),
        jx.alias("jx"),
        jy.alias("jy"),
        jz.alias("jz"),
    )


def calibration_3d(events: DataFrame) -> DataFrame:
    """Per-user 3-D eye-orientation calibration: Kabsch-align jittered
    pupil normals to reference directions, report the rotation (euler)
    and mean angular residual, success-gated like the reference
    (calibrate_3d.py:100 residual < threshold)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        R = pdf[["rx", "ry", "rz"]].to_numpy()
        J = pdf[["jx", "jy", "jz"]].to_numpy()
        # pupil normals: ground-truth rotation of the ref dirs + jitter
        P = R @ _R_TRUE.T + J
        P = P / np.linalg.norm(P, axis=1, keepdims=True)
        H = P.T @ R
        U, _, Vt = np.linalg.svd(H)
        d = np.sign(np.linalg.det(Vt.T @ U.T))
        D = np.diag([1.0, 1.0, d])
        R_kab = Vt.T @ D @ U.T  # maps pupil normals -> ref dirs
        res_kab = float(np.rad2deg(_angles(R_kab, P, R)).mean())
        # LM polish on the ANGULAR loss (the reference's bundle-adjustment
        # functional) from the Kabsch initializer
        R_est = _lm_refine(R_kab, P, R)
        residual = float(np.rad2deg(_angles(R_est, P, R)).mean())
        # ZYX euler of R_est
        pitch = float(np.arcsin(np.clip(-R_est[2, 0], -1.0, 1.0)))
        roll = float(np.arctan2(R_est[2, 1], R_est[2, 2]))
        yaw = float(np.arctan2(R_est[1, 0], R_est[0, 0]))
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_points": [len(pdf)],
                "residual_deg": [round(residual, 6)],
                "residual_kabsch_deg": [round(res_kab, 6)],
                "roll": [round(roll, 6)],
                "pitch": [round(pitch, 6)],
                "yaw": [round(yaw, 6)],
                "success": [residual < _RESIDUAL_THRESHOLD_DEG],
            }
        )

    return apply_per_key(_ref_dirs(events), "user_id", run, _C3D_SCHEMA)


# --- HMD calibration (calibrate_3d.py:172 calibrate_hmd) ----------------

# the reference's fixed eyeball positions in world coordinates
# (calibrate_3d.py:18-19) — millimetres, eye0 right / eye1 left
_EYE_T = {
    0: np.array([20.0, 15.0, -20.0]),
    1: np.array([-40.0, 15.0, -20.0]),
}
# second-eye ground truth: 10° about normalized (3,2,1)
_R_TRUE1 = _rot(np.array([0.801784, 0.534522, 0.267261]), np.deg2rad(10.0))
_S_TRUE = 4.0  # planted z-scale, inside the reference's sweep grid

_HMD_SCHEMA = (
    "user_id bigint, n_points int, scale double, residual_deg double, "
    "residual_kabsch_deg double, roll0 double, pitch0 double, yaw0 double, "
    "roll1 double, pitch1 double, yaw1 double, success boolean"
)


def _hmd_scales() -> np.ndarray:
    """The reference's sweep grid (calibrate_3d.py:196): 50 z-scales
    linearly spaced over [0.7, 10]."""
    return np.linspace(0.7, 10.0, 50)


def calibration_hmd(events: DataFrame) -> DataFrame:
    """HMD binocular calibration (calibrate_3d.py:172 calibrate_hmd):
    reference points are HMD-anchored 3-D targets whose y-axis is
    flipped and whose depth scale is UNKNOWN — the reference sweeps 50
    z-scales, and per scale solves each eye's ORIENTATION against the
    directions from that eye's fixed position to the scaled targets
    (translations and targets fixed; only the two rotations move).

    Spark-first shape: one bounded per-user group (apply_per_key in
    functions/grouped.py); inside the group the scale sweep is 50
    closed-form Kabsch alignments per eye (3×3 SVDs over (n,3)
    bundles), then ONE LM polish per eye on the angular loss at the
    winning scale — the reference re-runs its full bundle adjustment
    per scale and keeps the best via its odd `scales[-1] = s`
    last-slot overwrite (calibrate_3d.py:225); selecting on the Kabsch
    residual and polishing once is the same optimum cheaper, since
    the polish never changes which scale wins on this loss.

    Test-table semantics: 3-D ref points derive from event_id integer
    math (direction × deterministic depth); pupil normals are the
    true per-eye-rotated directions from each eye position to the
    (1,-1,s_true)-scaled targets plus jitter. The operator must
    recover both rotations AND the planted scale. Rows-only oracle
    (SVD + iterative polish are not SQL)."""
    k = F.col("event_id")
    depth = (F.lit(120.0) + (k * 31 % 80).cast("double")).alias("depth")
    base = _ref_dirs(events).withColumn("depth", depth)

    scales = _hmd_scales()

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        D = pdf[["rx", "ry", "rz"]].to_numpy()
        J = pdf[["jx", "jy", "jz"]].to_numpy()
        depth_v = pdf["depth"].to_numpy()[:, None]
        P3 = D * depth_v  # stored ref points (world, unflipped y, unit z)
        # planted truth: flipped y, z scaled
        T_true = P3 * np.array([1.0, -1.0, _S_TRUE])
        normals = {}
        for eye, R_t in ((0, _R_TRUE), (1, _R_TRUE1)):
            d = T_true - _EYE_T[eye]
            d = d / np.linalg.norm(d, axis=1, keepdims=True)
            n = d @ R_t + J  # R_t.T applied row-wise: (R_t.T @ d_i)
            normals[eye] = n / np.linalg.norm(n, axis=1, keepdims=True)

        # The 50-scale sweep as STACKED numpy (r14): one batched
        # (50,3,n)@(50,n,3) Kabsch-H build, one batched 3×3 SVD, one
        # batched residual — numpy dispatches the same BLAS/LAPACK
        # routine per slice as the former per-scale Python loop, so
        # results are bit-identical while the ~100 small-call Python
        # loop per user collapses to ~6 vectorized calls per eye.
        n_s = len(scales)
        # (50, n, 3): targets at every z-scale
        tgt_all = P3[None, :, :] * np.stack(
            [np.full(n_s, 1.0), np.full(n_s, -1.0), scales], axis=1
        )[:, None, :]
        tot_all = np.zeros(n_s)
        R_all = {}
        d_all = {}
        for eye in (0, 1):
            d = tgt_all - _EYE_T[eye]
            d = d / np.linalg.norm(d, axis=2, keepdims=True)
            H = np.matmul(normals[eye].T[None, :, :], d)  # (50, 3, 3)
            U, _, Vt = np.linalg.svd(H)
            UT = U.transpose(0, 2, 1)
            VtT = Vt.transpose(0, 2, 1)
            det = np.sign(np.linalg.det(np.matmul(VtT, UT)))
            D = np.tile(np.eye(3), (n_s, 1, 1))
            D[:, 2, 2] = det
            Rk = np.matmul(VtT, np.matmul(D, UT))  # (50, 3, 3)
            rot = np.matmul(
                normals[eye][None, :, :], Rk.transpose(0, 2, 1)
            )  # (50, n, 3)
            ang = np.arccos(np.clip((rot * d).sum(2), -1.0, 1.0))
            tot_all += (ang**2).sum(1)
            R_all[eye] = Rk
            d_all[eye] = d
        i_best = int(np.argmin(tot_all))
        s_best = float(scales[i_best])
        Rs = {eye: R_all[eye][i_best] for eye in (0, 1)}
        dirs = {eye: d_all[eye][i_best] for eye in (0, 1)}
        res_kab = float(
            np.rad2deg(
                np.concatenate(
                    [_angles(Rs[e], normals[e], dirs[e]) for e in (0, 1)]
                )
            ).mean()
        )
        eul = {}
        res_ref = []
        for eye in (0, 1):
            R_est = _lm_refine(Rs[eye], normals[eye], dirs[eye])
            res_ref.append(np.rad2deg(_angles(R_est, normals[eye], dirs[eye])))
            eul[eye] = (
                float(np.arctan2(R_est[2, 1], R_est[2, 2])),
                float(np.arcsin(np.clip(-R_est[2, 0], -1.0, 1.0))),
                float(np.arctan2(R_est[1, 0], R_est[0, 0])),
            )
        residual = float(np.concatenate(res_ref).mean())
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_points": [len(pdf)],
                "scale": [round(s_best, 6)],
                "residual_deg": [round(residual, 6)],
                "residual_kabsch_deg": [round(res_kab, 6)],
                "roll0": [round(eul[0][0], 6)],
                "pitch0": [round(eul[0][1], 6)],
                "yaw0": [round(eul[0][2], 6)],
                "roll1": [round(eul[1][0], 6)],
                "pitch1": [round(eul[1][1], 6)],
                "yaw1": [round(eul[1][2], 6)],
                "success": [residual < _RESIDUAL_THRESHOLD_DEG],
            }
        )

    return apply_per_key(base, "user_id", run, _HMD_SCHEMA)


# --- full 6-DoF bundle refinement (calibrate_3d.py:103 monocular) -------

# planted world-camera translation for the bundle's synthetic geometry
_T_TRUE = np.array([5.0, -3.0, 8.0])

_C3DB_SCHEMA = (
    "user_id bigint, n_points int, residual_deg double, "
    "residual_kabsch_deg double, roll double, pitch double, yaw double, "
    "tx double, ty double, tz double, success boolean"
)


def _angles_pose(
    Rm: np.ndarray, T: np.ndarray, X: np.ndarray, O: np.ndarray
) -> np.ndarray:
    """Angular residuals (radians) of a SphericalCamera observation
    model (calibrate_3d.py's bundle): predicted direction of target X
    from pose (R, T) is normalize(R·X + T), compared against the
    observed unit direction O."""
    pred = X @ Rm.T + T
    nrm = np.linalg.norm(pred, axis=1, keepdims=True)
    pred = pred / np.maximum(nrm, 1e-15)
    return np.arccos(np.clip((pred * O).sum(1), -1.0, 1.0))


def _lm_refine_pose(
    R0: np.ndarray,
    T0: np.ndarray,
    X: np.ndarray,
    O: np.ndarray,
    iters: int = 40,
) -> tuple[np.ndarray, np.ndarray]:
    """Levenberg–Marquardt over the FULL 6-DoF pose — the reference's
    monocular bundle (calibrate_3d.py:103: world camera free in
    rotation AND translation, gaze targets fixed). The optimized
    residual is the CHORD vector normalize(R·X+T) − O (3n smooth
    residuals — the vector form a scipy least_squares bundle consumes;
    the non-negative arccos angle is |·|-shaped at the optimum and
    stalls a numeric-Jacobian LM exactly on clean data). Angle and
    chord agree to second order near zero, and the angular residual is
    what gets REPORTED. Left axis-angle perturbation exp([ω]×)·R for
    rotation, additive for translation; central-difference Jacobian —
    the 6 rotation-perturbed evaluations run as ONE stacked (6,n,3)
    matmul and the 6 translation-perturbed ones reuse a single X·Rᵀ
    product with batched offsets (same per-slice BLAS, bit-identical,
    r14) — on a bounded per-user group; 6×6 normal equations. Falls
    back to the best-so-far pose when no damped step improves."""

    def chord(Rm: np.ndarray, T: np.ndarray) -> np.ndarray:
        pred = X @ Rm.T + T
        nrm = np.linalg.norm(pred, axis=1, keepdims=True)
        return (pred / np.maximum(nrm, 1e-15) - O).ravel()

    def chord_stack(pred: np.ndarray) -> np.ndarray:
        """chord() over a stacked (k,n,3) prediction bundle."""
        nrm = np.linalg.norm(pred, axis=2, keepdims=True)
        return (pred / np.maximum(nrm, 1e-15) - O[None, :, :]).reshape(
            pred.shape[0], -1
        )

    lam = 1e-3
    R_best, T_best = R0, T0.astype(np.float64).copy()
    cost = float((chord(R_best, T_best) ** 2).sum())
    eps_w = 1e-6
    eps_t = max(1e-6, 1e-5 * float(np.abs(X).mean()))
    delta = np.zeros(6)
    for _ in range(iters):
        f0 = chord(R_best, T_best)
        Jm = np.empty((len(f0), 6))
        Rst = np.empty((6, 3, 3))
        for j in range(3):
            d = np.zeros(3)
            d[j] = eps_w
            Rst[j] = _rot_vec(d) @ R_best
            Rst[3 + j] = _rot_vec(-d) @ R_best
        fw = chord_stack(
            np.matmul(X[None, :, :], Rst.transpose(0, 2, 1))
            + T_best[None, None, :]
        )
        for j in range(3):
            Jm[:, j] = (fw[j] - fw[3 + j]) / (2 * eps_w)
        XR = X @ R_best.T
        Toff = np.concatenate([np.eye(3) * eps_t, -np.eye(3) * eps_t])
        ft = chord_stack(XR[None, :, :] + (T_best + Toff)[:, None, :])
        for j in range(3):
            Jm[:, 3 + j] = (ft[j] - ft[3 + j]) / (2 * eps_t)
        g = Jm.T @ f0
        H = Jm.T @ Jm
        stepped = False
        for _try in range(10):
            try:
                delta = np.linalg.solve(H + lam * np.eye(6), -g)
            except np.linalg.LinAlgError:
                lam *= 10
                continue
            R_new = _rot_vec(delta[:3]) @ R_best
            T_new = T_best + delta[3:]
            c_new = float((chord(R_new, T_new) ** 2).sum())
            if c_new < cost:
                R_best, T_best, cost = R_new, T_new, c_new
                lam = max(lam * 0.3, 1e-12)
                stepped = True
                break
            lam *= 10
        if not stepped or float(np.linalg.norm(delta)) < 1e-12:
            break
    return R_best, T_best


def calibration_3d_bundle(events: DataFrame) -> DataFrame:
    """Per-user FULL bundle calibration — the reference's
    calibrate_monocular shape (calibrate_3d.py:103): the world camera
    is free in rotation AND translation while the 3-D gaze targets
    stay fixed (``fix_gaze_targets=True``); the loss is the angular
    reprojection residual of the spherical-camera model. This extends
    `calibration_3d` (rotation-only, targets at infinity) with the
    translation the reference's scipy bundle also solves for —
    closed-form Kabsch on the direction bundles initializes, one
    6-parameter LM polish refines (pure numpy; scipy absent here).

    Test-table semantics: targets are the deterministic event_id
    directions pushed to a VARYING integer depth (300..699 — depth
    variation is what makes translation observable), observations are
    the targets seen from the planted pose (_R_TRUE, _T_TRUE) plus
    jitter. The operator must recover rotation AND translation.
    Rows-only oracle (SVD + LM are not SQL); planted-pose recovery is
    pytest-pinned."""
    k = F.col("event_id")
    depth = (F.lit(300.0) + (k * 31 % 400).cast("double")).alias("depth")
    base = _ref_dirs(events).withColumn("depth", depth)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        D = pdf[["rx", "ry", "rz"]].to_numpy()
        J = pdf[["jx", "jy", "jz"]].to_numpy()
        X = D * pdf["depth"].to_numpy()[:, None]  # fixed gaze targets
        # observed directions from the planted pose, jittered
        O = X @ _R_TRUE.T + _T_TRUE
        O = O / np.linalg.norm(O, axis=1, keepdims=True) + J
        O = O / np.linalg.norm(O, axis=1, keepdims=True)
        # Kabsch init on the direction bundles (translation ignored —
        # the reference's get_initial_eye_camera_rotation role)
        Dn = X / np.linalg.norm(X, axis=1, keepdims=True)
        H = Dn.T @ O
        U, _, Vt = np.linalg.svd(H)
        d_ = np.sign(np.linalg.det(Vt.T @ U.T))
        R_kab = Vt.T @ np.diag([1.0, 1.0, d_]) @ U.T
        res_kab = float(
            np.rad2deg(_angles_pose(R_kab, np.zeros(3), X, O)).mean()
        )
        R_est, T_est = _lm_refine_pose(R_kab, np.zeros(3), X, O)
        residual = float(np.rad2deg(_angles_pose(R_est, T_est, X, O)).mean())
        pitch = float(np.arcsin(np.clip(-R_est[2, 0], -1.0, 1.0)))
        roll = float(np.arctan2(R_est[2, 1], R_est[2, 2]))
        yaw = float(np.arctan2(R_est[1, 0], R_est[0, 0]))
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_points": [len(pdf)],
                "residual_deg": [round(residual, 6)],
                "residual_kabsch_deg": [round(res_kab, 6)],
                "roll": [round(roll, 6)],
                "pitch": [round(pitch, 6)],
                "yaw": [round(yaw, 6)],
                "tx": [round(float(T_est[0]), 6)],
                "ty": [round(float(T_est[1]), 6)],
                "tz": [round(float(T_est[2]), 6)],
                "success": [residual < _RESIDUAL_THRESHOLD_DEG],
            }
        )

    return apply_per_key(base, "user_id", run, _C3DB_SCHEMA)
