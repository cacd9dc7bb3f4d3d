"""Temporal alignment & resampling operators.

Spark-first re-expression of vedb_gaze/utils.py's time machinery:
``match_time_points`` (utils.py:67), ``onoff_from_binary`` (utils.py:135),
``get_frame_indices`` (utils.py:298), ``resample_data`` (utils.py:581).

The reference loops over reference timestamps in Python (O(n·m) per
session). Here every alignment is a single shuffle on the session key
(user_id) + window functions inside the partition, so the same plan holds
on 1000 executors: no driver loops, no cross joins, no global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import tsec
from vedb_gaze_spark.plans import params as P


def with_tsec(events: DataFrame) -> DataFrame:
    """events + ``t`` = epoch seconds (double, exact integer-micros base)."""
    return events.withColumn("t", tsec("ts"))


def match_nearest(events: DataFrame, ref_type: str = "click", sig_type: str = "view") -> DataFrame:
    """Nearest-in-time alignment — match_time_points with window=None
    (utils.py:101 'Nearest frame selection', np.argmin(|t - frame_time|)).

    One shuffle on user_id; prev/next signal rows come from two frames of
    the same sorted window, so the sort is reused. Ties (equidistant
    prev/next) resolve to the earlier signal, exactly like np.argmin takes
    the first minimum.
    """
    e = (
        with_tsec(events)
        .where(F.col("event_type").isin(ref_type, sig_type))
        .select("user_id", "event_id", "event_type", "t")
    )
    is_sig = F.col("event_type") == sig_type
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    nxt = w.rowsBetween(1, Window.unboundedFollowing)
    sig_t = F.when(is_sig, F.col("t"))
    sig_id = F.when(is_sig, F.col("event_id"))
    matched = (
        e.withColumn("prev_t", F.last(sig_t, ignorenulls=True).over(prev))
        .withColumn("prev_id", F.last(sig_id, ignorenulls=True).over(prev))
        .withColumn("next_t", F.first(sig_t, ignorenulls=True).over(nxt))
        .withColumn("next_id", F.first(sig_id, ignorenulls=True).over(nxt))
        .where(~is_sig)
    )
    d_prev = F.col("t") - F.col("prev_t")
    d_next = F.col("next_t") - F.col("t")
    use_prev = F.col("next_t").isNull() | (F.col("prev_t").isNotNull() & (d_prev <= d_next))
    return (
        matched.where(F.col("prev_t").isNotNull() | F.col("next_t").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.when(use_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias("matched_event_id"),
            F.round(F.when(use_prev, d_prev).otherwise(d_next), 6).alias("dist_sec"),
        )
    )


def match_asof(
    events: DataFrame,
    ref_type: str = "click",
    sig_type: str = "view",
    tolerance: float | None = None,
) -> DataFrame:
    """Backward as-of join: each ref event takes the LATEST signal event
    with sig_t <= ref_t (optionally within ``tolerance`` seconds) — the
    one-sided, causality-respecting variant of match_nearest
    (utils.py:67 match_time_points), and the semantics a stream can
    compute incrementally (streaming/stateful.py:streaming_match_asof is
    the twin; match_nearest needs the FUTURE signal, so it has none).

    Signals sort before refs at equal t, so a same-instant signal
    qualifies; among equal-t signals the max event_id wins. One shuffle
    on user_id, one sorted window — the standard distributed as-of plan
    (no range join, no per-ref probe).
    """
    e = (
        with_tsec(events)
        .where(F.col("event_type").isin(ref_type, sig_type))
        .select("user_id", "event_id", "event_type", "t")
    )
    is_sig = F.col("event_type") == sig_type
    kind = F.when(is_sig, 0).otherwise(1)
    prev = Window.partitionBy("user_id").orderBy("t", kind, "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    matched = (
        e.withColumn("sig_t", F.last(F.when(is_sig, F.col("t")), ignorenulls=True).over(prev))
        .withColumn("sig_id", F.last(F.when(is_sig, F.col("event_id")), ignorenulls=True).over(prev))
        .where(~is_sig & F.col("sig_t").isNotNull())
    )
    dist = F.col("t") - F.col("sig_t")
    if tolerance is not None:
        matched = matched.where(dist <= tolerance)
    return matched.select(
        "user_id",
        "event_id",
        F.col("sig_id").alias("matched_event_id"),
        F.round(dist, 6).alias("dist_sec"),
    )


def match_asof_forward(
    events: DataFrame,
    ref_type: str = "click",
    sig_type: str = "view",
    tolerance: float | None = None,
) -> DataFrame:
    """Forward as-of join: each ref event takes the EARLIEST signal event
    with sig_t >= ref_t (optionally within ``tolerance`` seconds) — the
    mirror of match_asof for pipelines aligning to the NEXT observation
    (e.g. label-at-next-fixation). Refs sort before signals at equal t,
    so a same-instant signal qualifies; among equal-t signals the min
    event_id wins. Same plan as the backward form: one shuffle on
    user_id, one sorted window."""
    e = (
        with_tsec(events)
        .where(F.col("event_type").isin(ref_type, sig_type))
        .select("user_id", "event_id", "event_type", "t")
    )
    is_sig = F.col("event_type") == sig_type
    kind = F.when(is_sig, 1).otherwise(0)
    nxt = Window.partitionBy("user_id").orderBy("t", kind, "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    matched = (
        e.withColumn(
            "sig_t", F.first(F.when(is_sig, F.col("t")), ignorenulls=True).over(nxt)
        )
        .withColumn(
            "sig_id",
            F.first(F.when(is_sig, F.col("event_id")), ignorenulls=True).over(nxt),
        )
        .where(~is_sig & F.col("sig_t").isNotNull())
    )
    dist = F.col("sig_t") - F.col("t")
    if tolerance is not None:
        matched = matched.where(dist <= tolerance)
    return matched.select(
        "user_id",
        "event_id",
        F.col("sig_id").alias("matched_event_id"),
        F.round(dist, 6).alias("dist_sec"),
    )


def match_window_median(
    events: DataFrame,
    ref_type: str = "click",
    sig_type: str = "view",
    window_s: float = P.MATCH_WINDOW_S,
) -> DataFrame:
    """Windowed median alignment — match_time_points with window=w
    (utils.py:106-114: all frames within `window`, reduced by fn=median).

    Scale path: the band join is bucketized — each signal lands in bucket
    floor(t/w); each reference probes buckets {b-1, b, b+1}. That turns an
    O(n·m)-per-user range join into an equi shuffle join whose candidate
    set per row is bounded by 3 buckets, independent of total data size.
    """
    e = with_tsec(events)
    sig = e.where(F.col("event_type") == sig_type).select(
        "user_id",
        F.col("t").alias("sig_t"),
        F.col("value").alias("sig_value"),
        F.floor(F.col("t") / window_s).alias("bucket"),
    )
    ref = (
        e.where(F.col("event_type") == ref_type)
        .select("user_id", "event_id", "t")
        .withColumn("bucket", F.explode(F.array(
            F.floor(F.col("t") / window_s) - 1,
            F.floor(F.col("t") / window_s),
            F.floor(F.col("t") / window_s) + 1,
        )))
    )
    joined = ref.join(sig, ["user_id", "bucket"]).where(
        F.abs(F.col("sig_t") - F.col("t")) <= window_s
    )
    return (
        joined.groupBy("user_id", "event_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.median("sig_value"), 6).alias("med_value"),
        )
    )


def run_length(events: DataFrame, flag_type: str = "error") -> DataFrame:
    """Run-length encoding of a binary signal — onoff_from_binary
    (utils.py:135): maximal runs of consecutive `flag_type` rows per user,
    with onset/offset/duration. Gaps-and-islands with one shuffle."""
    e = with_tsec(events).select(
        "user_id", "event_id", "t", F.unix_micros("ts").alias("t_us"),
        (F.col("event_type") == flag_type).cast("int").alias("flag"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    runs = (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("flag") == 1)
        .withColumn("grp", F.col("rn") - F.row_number().over(w))
    )
    return (
        runs.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("start_event_id"),
            F.max("event_id").alias("end_event_id"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("t_us").alias("onset_us"),
            F.max("t_us").alias("offset_us"),
            (F.max("t_us") - F.min("t_us")).alias("duration_us"),
        )
        .drop("grp")
    )


def resample_tps(
    events: DataFrame,
    sig_type: str = "view",
    step_s: float = P.RESAMPLE_STEP_S,
    neighbors: int = 7,
) -> DataFrame:
    """Uniform-grid thin-plate-spline resampling — resample_data with
    method='thin-plate_spline' (utils.py:618-621, the RBFInterpolator
    branch, with the neighbors=7 locality its docstring hints at).

    Per grid point: take the k nearest samples (contiguous in 1-D),
    solve the local TPS system φ(r) = r²·log r with a degree-1
    polynomial tail, evaluate. The neighborhoods are shifted to the
    query point before solving — the TPS interpolant is shift-invariant,
    so this is pure conditioning, not a semantics change. All solves for
    a user batch into ONE stacked (G, k+2, k+2) LAPACK call inside
    applyInPandas; groups are per-user and embarrassingly parallel, the
    same distribution shape as the calibration fits. Grid bounds match
    resample_linear's (ceil(min/step) … floor(max/step)).

    LAPACK-bound — rows-only oracle, like calibration_tps. Users run
    through functions/grouped.py:apply_per_key, one Python task per
    shuffle partition, since the Python-worker cost is per task, not
    per user.
    """
    from vedb_gaze_spark.functions.grouped import apply_per_key

    sig = (
        with_tsec(events)
        .where(F.col("event_type") == sig_type)
        .select("user_id", "event_id", "t", "value")
    )

    def fit(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["t", "event_id"]).drop_duplicates("t", keep="first")
        t = pdf["t"].to_numpy(dtype=np.float64)
        v = pdf["value"].to_numpy(dtype=np.float64)
        n = len(t)
        if n < 2:
            return pd.DataFrame(columns=["user_id", "t", "value_interp"])
        h0 = int(np.ceil(t[0] / step_s))
        h1 = int(np.floor(t[-1] / step_s))
        if h1 < h0:
            return pd.DataFrame(columns=["user_id", "t", "value_interp"])
        g = np.arange(h0, h1 + 1, dtype=np.float64) * step_s
        k = min(neighbors, n)
        # k nearest in 1-D: pick from the 2k samples bracketing the
        # insertion point (argpartition over a (G, 2k) candidate strip)
        idx = np.searchsorted(t, g)
        lo = np.clip(idx - k, 0, n)
        cand = np.clip(lo[:, None] + np.arange(2 * k)[None, :], 0, n - 1)
        d = np.abs(t[cand] - g[:, None])
        # duplicate clipped indices must not win twice: push them out
        dup = np.zeros_like(d, dtype=bool)
        dup[:, 1:] = cand[:, 1:] == cand[:, :-1]
        d[dup] = np.inf
        take = np.argpartition(d, k - 1, axis=1)[:, :k]
        nb = np.take_along_axis(cand, take, axis=1)  # (G, k)
        tn = t[nb] - g[:, None]  # shift to the query point
        vn = v[nb]
        r = np.abs(tn[:, :, None] - tn[:, None, :])  # (G, k, k)
        with np.errstate(divide="ignore", invalid="ignore"):
            K = np.where(r > 0, r * r * np.log(r, where=r > 0), 0.0)
        G_, kk = tn.shape
        A = np.zeros((G_, kk + 2, kk + 2))
        A[:, :kk, :kk] = K
        A[:, :kk, kk] = 1.0
        A[:, :kk, kk + 1] = tn
        A[:, kk, :kk] = 1.0
        A[:, kk + 1, :kk] = tn
        b = np.zeros((G_, kk + 2))
        b[:, :kk] = vn
        try:
            sol = np.linalg.solve(A, b)
        except np.linalg.LinAlgError:
            sol = np.stack(
                [np.linalg.lstsq(A[i], b[i], rcond=None)[0] for i in range(G_)]
            )
        rg = np.abs(tn)  # query sits at 0 after the shift
        with np.errstate(divide="ignore", invalid="ignore"):
            phi = np.where(rg > 0, rg * rg * np.log(rg, where=rg > 0), 0.0)
        out = (sol[:, :kk] * phi).sum(axis=1) + sol[:, kk]  # + c1·0
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "t": g,
                "value_interp": np.round(out, 6),
            }
        )

    return apply_per_key(
        sig, "user_id", fit, "user_id bigint, t double, value_interp double"
    )


def onoff_expand(
    events: DataFrame,
    flag_type: str = "error",
    step_s: float = P.RESAMPLE_STEP_S,
) -> DataFrame:
    """onoff_to_binary (utils.py:195): expand (onset, offset) event spans
    back onto a uniform timeline as a binary mask — the inverse of
    run_length, used by the reference's labeling to rebuild masks from
    event lists.

    Scale shape: a span maps DIRECTLY to the grid indices it covers
    (sequence over ceil(onset/step)..floor(offset/step)) — no range join
    at all; the grid left-joins those hits on the (user_id, grid index)
    equi key. Work is O(covered grid points), the mask's own size."""
    step_us = int(step_s * 1_000_000)
    spans = run_length(events, flag_type).select("user_id", "onset_us", "offset_us")
    e = with_tsec(events).select("user_id", F.unix_micros("ts").alias("t_us"))
    bounds = e.groupBy("user_id").agg(
        F.ceil(F.min("t_us") / float(step_us)).alias("h0"),
        F.floor(F.max("t_us") / float(step_us)).alias("h1"),
    )
    grid = (
        bounds.where(F.col("h1") >= F.col("h0"))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("h"))
    )
    s0 = F.ceil(F.col("onset_us") / float(step_us))
    s1 = F.floor(F.col("offset_us") / float(step_us))
    hits = (
        spans.withColumn("h0", s0)
        .withColumn("h1", s1)
        .where(F.col("h1") >= F.col("h0"))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return grid.join(hits, ["user_id", "h"], "left").select(
        "user_id",
        (F.col("h") * step_us).alias("g_us"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("flag"),
    )


def time_slice(
    events: DataFrame,
    t_from: str = "2024-01-10",
    t_to: str = "2024-01-20",
    event_type: str = "purchase",
) -> DataFrame:
    """Time-range selection — get_frame_indices (utils.py:298) /
    time_to_index (utils.py:216). A pure scan predicate: both bounds and
    the type filter reach parquet as PushedFilters, so at 100 TB this
    reads only the matching row groups / partitions."""
    return events.where(
        (F.col("ts") > F.lit(t_from).cast("timestamp"))
        & (F.col("ts") < F.lit(t_to).cast("timestamp"))
        & (F.col("event_type") == event_type)
    ).select("event_id", "user_id", "ts", "value")


def resample_linear(
    events: DataFrame,
    sig_type: str = "view",
    step_s: float = P.RESAMPLE_STEP_S,
) -> DataFrame:
    """Uniform-grid linear interpolation — resample_data with
    method='linear_interpolation' (utils.py:581-625).

    The grid is generated per user with sequence() (no driver work), then
    union-merged with the signal and swept with two frames of ONE sorted
    window — prev/next non-null neighbors — which is the distributed
    equivalent of scipy.interpolate.interp1d's bracketing. Single shuffle
    on user_id for grid+signal together.
    """
    sig = (
        with_tsec(events)
        .where(F.col("event_type") == sig_type)
        .select("user_id", "event_id", "t", "value")
    )
    step = F.lit(step_s)
    bounds = sig.groupBy("user_id").agg(
        F.ceil(F.min("t") / step).alias("h0"), F.floor(F.max("t") / step).alias("h1")
    )
    grid = (
        bounds.where(F.col("h1") >= F.col("h0"))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("h"))
        .select(
            "user_id",
            (F.col("h") * step).alias("t"),
            F.lit(1).alias("tag"),
            F.lit(None).cast("double").alias("value"),
            F.lit(-1).cast("long").alias("event_id"),
        )
    )
    pts = sig.select("user_id", "t", F.lit(0).alias("tag"), "value", "event_id")
    merged = pts.unionByName(grid)
    w = Window.partitionBy("user_id").orderBy("t", "tag", "event_id")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    nxt = w.rowsBetween(1, Window.unboundedFollowing)
    sig_v = F.when(F.col("tag") == 0, F.col("value"))
    sig_t = F.when(F.col("tag") == 0, F.col("t"))
    out = (
        merged.withColumn("v0", F.last(sig_v, ignorenulls=True).over(prev))
        .withColumn("t0", F.last(sig_t, ignorenulls=True).over(prev))
        .withColumn("v1", F.first(sig_v, ignorenulls=True).over(nxt))
        .withColumn("t1", F.first(sig_t, ignorenulls=True).over(nxt))
        .where((F.col("tag") == 1) & F.col("t0").isNotNull() & F.col("t1").isNotNull())
    )
    interp = F.col("v0") + (F.col("v1") - F.col("v0")) * (F.col("t") - F.col("t0")) / (
        F.col("t1") - F.col("t0")
    )
    return out.select("user_id", "t", F.round(interp, 6).alias("value_interp"))


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    w_s: float = P.INTERVAL_W_S,
) -> DataFrame:
    """Generic point-in-interval range join — the operator Spark's
    DataFrame API lacks natively (reference capability: window-overlap
    selection in utils.py:298's index math generalized to arbitrary
    interval sets).

    ``points`` needs (event_id, ts, ...); ``intervals`` needs
    (incident_id, t0_us) where the window is [t0, t0 + w_s) half-open.
    Returns one row per (incident, point) containment pair with the
    exact integer lag in microseconds.

    Scale shape: a naive theta-join (ts BETWEEN s AND e) plans as a
    BroadcastNestedLoopJoin — O(points × intervals). Instead both sides
    are keyed by a time bucket of width = the window length, so every
    interval spans at most TWO buckets (exploded to ≤2 rows) while each
    point lives in exactly one — the join becomes an equi-join on the
    bucket that Catalyst executes as a hash/sort-merge join, shuffling
    each side once on a time-uniform key. The containment predicate
    refines the bucket matches; no pair is produced twice because the
    point's bucket is unique. Hot windows (bucket skew) fall to AQE's
    skew-join splitting.
    """
    b_us = int(w_s * 1_000_000)
    iv = intervals.select(
        "incident_id",
        "t0_us",
        (F.col("t0_us") + F.lit(b_us)).alias("t1_us"),
        F.explode(
            F.sequence(
                F.floor(F.col("t0_us") / F.lit(b_us)),
                F.floor((F.col("t0_us") + F.lit(b_us) - 1) / F.lit(b_us)),
            )
        ).alias("bucket"),
    )
    pt = points.withColumn("ts_us", F.unix_micros("ts")).withColumn(
        "bucket", F.floor(F.col("ts_us") / F.lit(b_us))
    )
    return (
        pt.join(iv, "bucket")
        .where((F.col("ts_us") >= F.col("t0_us")) & (F.col("ts_us") < F.col("t1_us")))
        .select(
            "incident_id",
            "event_id",
            "user_id",
            "event_type",
            (F.col("ts_us") - F.col("t0_us")).alias("lag_us"),
        )
    )


def incident_window_stats(
    events: DataFrame, w_s: float = P.INTERVAL_W_S
) -> DataFrame:
    """Per-incident activity profile: every ``error`` event opens a
    [t, t+w) window; aggregate what the whole event stream did inside
    it. The registry face of :func:`interval_join` — pair volume stays
    internal, output is one row per incident (exact integer stats).
    """
    intervals = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("incident_id"),
            F.unix_micros("ts").alias("t0_us"),
        )
    )
    pairs = interval_join(events, intervals, w_s)
    return pairs.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.max("lag_us").alias("max_lag_us"),
    )
