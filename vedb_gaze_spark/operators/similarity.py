"""Similarity search over embedding columns (SURVEY §2.G).

- ``dedup_embedding_cosine``: near-dup pairs above a cosine threshold.
- ``ann_cosine_topk``: brute-force top-k — the exact baseline. Scale
  path: queries are broadcast; similarity + per-partition top-k happen
  in one pass over the embedding table; the final global top-k merges
  k·partitions rows, never the full corpus.
- ``ann_lsh``: random-hyperplane LSH — sign-bit bucket per vector, probe
  only the query's bucket, exact rerank inside. The index-shaped plan at
  100 TB (bucket key is an equi-join shuffle key).

All ranking uses cosine ROUNDED to 6 decimals with vec_id tie-breaks, so
ordering is engine-independent (last-ulp float drift can't flip ranks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import (
    cosine_similarity,
    iter_checkpoint,
    portable_hash60_py,
)
from vedb_gaze_spark.plans import params as P


def _vecs(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def dedup_embedding_cosine(
    embeddings: DataFrame, block: int = 2048
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a<b) above threshold.

    Exact, in two phases:
    1. candidate prefilter — distributed blocked GEMM: vectors group into
       vec_id-range blocks, block pairs (ba ≤ bb) join, and each task
       multiplies two dense sub-matrices with BLAS (mapInPandas), keeping
       pairs within a 1e-9 margin of the threshold. This replaces the
       O(n²) per-pair expression evaluation (measured sf0.1: 2 M pair
       rows × 3 array folds ≈ 49 s → ~3 s) and is the textbook scalable
       layout: work = (n/block)² independent tasks, no broadcast, no
       driver collect.
    2. exact rescore — the few candidates re-join their vectors and get
       the same sequential left-to-right cosine every other operator
       uses, so the output is bit-identical to the naive plan / oracle
       (the GEMM margin only ever ADMITS borderline pairs; the final
       filter decides them exactly).

    On the all-pairs shape: this operator is the EXACT cosine self-join,
    and at this threshold that is inherently quadratic. Measured on the
    test embeddings: vectors are near-uniform on the 64-sphere (cosine
    distribution ≈ N(0, 1/8); same-label fraction of hot pairs 0.096 ≈
    the 0.1 random baseline) and the 0.35 threshold sits at the 99.8th
    percentile — there is NO partitioning of the sphere with recall 1
    whose cells are smaller than the whole space at θ ≈ 70°. Any exact
    bucketing degenerates to all-pairs here, so the scalable variant is
    necessarily approximate: dedup_embedding_lsh below runs the same
    GEMM+rescore inside banded sign-LSH buckets with measured recall
    (0.73 at this adversarial threshold, >0.99 in the cos ≥ 0.9 regime
    real near-dup corpora occupy).
    """
    v = _vecs(embeddings)
    blocks = (
        v.withColumn("blk", F.floor(F.col("vec_id") / block))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("items"))
    )
    bp = (
        blocks.select(F.col("blk").alias("ba"), F.col("items").alias("ia"))
        .join(
            blocks.select(F.col("blk").alias("bb"), F.col("items").alias("ib")),
            F.col("ba") <= F.col("bb"),
        )
        # one block pair per task: the GEMM is the work unit
        .repartition(F.col("ba"), F.col("bb"))
    )
    # margin must cover the final filter's ROUNDING slack, not just float
    # drift: round(cos, 6) >= t admits raw cosines down to t - 5e-7, so
    # the prefilter must too (plus ulp headroom).
    thresh = P.COSINE_DUP_THRESHOLD - 5.1e-7

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for ia, ib in zip(pdf["ia"], pdf["ib"]):
                ids_a = np.array([r["vec_id"] for r in ia], dtype=np.int64)
                Ma = np.array([r["v"] for r in ia], dtype=np.float64)
                ids_b = np.array([r["vec_id"] for r in ib], dtype=np.int64)
                Mb = np.array([r["v"] for r in ib], dtype=np.float64)
                na = np.sqrt((Ma * Ma).sum(1))
                nb = np.sqrt((Mb * Mb).sum(1))
                S = (Ma @ Mb.T) / np.outer(na, nb)
                ii, jj = np.nonzero(S >= thresh)
                keep = ids_a[ii] < ids_b[jj]
                outs.append(
                    pd.DataFrame(
                        {"vec_a": ids_a[ii][keep], "vec_b": ids_b[jj][keep]}
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame({"vec_a": [], "vec_b": []})
            )

    cand = bp.mapInPandas(gen, "vec_a long, vec_b long")
    return _exact_rescore(cand, v)


def _exact_rescore(cand: DataFrame, v: DataFrame) -> DataFrame:
    """Candidates re-join their vectors and get the same sequential
    left-to-right cosine every other operator uses — any prefilter only
    ever ADMITS borderline pairs; this filter decides them exactly, so
    output is independent of how candidates were generated."""
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= P.COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


def dedup_embedding_lsh(embeddings: DataFrame) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH buckets — the SCALE
    path beside the exact (inherently quadratic) dedup_embedding_cosine.

    Each vector hashes to one 4-bit sign bucket per band (8 bands);
    candidate pairs share a bucket in ANY band — exactly MinHash-LSH's
    banding, on hyperplane signs. The GEMM prefilter then runs only
    WITHIN buckets: work is Σ_buckets m², i.e. O(n · E[bucket]) per band,
    never all-pairs, and every stage is a plain groupBy/join on uniform
    short keys. Survivors get the exact sequential-fold rescore, so every
    emitted pair is exact; what is approximate is RECALL only (measured
    sf0.01, threshold 0.35 ≈ the 99.8th pct of near-uniform cosines:
    0.73 of the exact pair set for 0.41× the pair work; at cos ≥ 0.9 —
    where real near-dup corpora live — this config exceeds 0.99).

    At 100 TB: band/bucket keys are uniform by construction (sign bits of
    random projections), so no bucket is hot by key skew; if embedding
    CORRELATION ever concentrated a bucket past executor memory, the
    remedy is re-splitting that bucket on extra planes (same plan shape —
    not implemented here because measured bucket occupancy is geometric
    in the plane count), and the bucket GEMM is the same work unit the
    exact operator shards by block."""
    v = _vecs(embeddings)
    # band keys via one vectorized numpy pass (mapInPandas): sign bits of
    # the 32 plane dots, packed 4 per band. The expression form
    # (_lsh_dots_expr + _band_keys_expr) re-inlines the 2048-literal dot
    # expression into every element_at reference — measured 50 s of
    # Catalyst/codegen at sf0.1 vs ~2 s this way; the scan stays a
    # narrow no-shuffle map either way.
    def keygen(batches):
        import numpy as np
        import pandas as pd

        W = np.array(P.DEDUP_LSH_PLANES, dtype=np.float64)  # (32, 64)
        bands, bits = P.DEDUP_LSH_BANDS, P.DEDUP_LSH_BITS
        weights = 1 << np.arange(bits)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
            # round-6 BEFORE the sign test, mirrored in the DuckDB
            # oracle: a dot within float drift of 0 would otherwise
            # bucket differently per engine (summation-order dependent)
            B = np.round(M @ W.T, 6) > 0  # (n, 32)
            keys = (
                B.reshape(len(M), bands, bits) * weights
            ).sum(-1)  # (n, bands)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "keys": [k for k in keys.astype(np.int32)],
                }
            )

    # one row per vector leaves Python; the ×bands replication happens
    # JVM-side (posexplode), so Arrow traffic is one corpus pass
    keyed = v.mapInPandas(
        keygen, "vec_id bigint, v array<double>, keys array<int>"
    ).select("vec_id", "v", F.posexplode("keys").alias("band", "key"))
    buckets = keyed.groupBy("band", "key").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("items")
    )
    thresh = P.COSINE_DUP_THRESHOLD - 5.1e-7

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for items in pdf["items"]:
                if len(items) < 2:
                    continue
                ids = np.array([r["vec_id"] for r in items], dtype=np.int64)
                M = np.array([r["v"] for r in items], dtype=np.float64)
                nrm = np.sqrt((M * M).sum(1))
                S = (M @ M.T) / np.outer(nrm, nrm)
                ii, jj = np.nonzero(S >= thresh)
                keep = ids[ii] < ids[jj]
                outs.append(
                    pd.DataFrame({"vec_a": ids[ii][keep], "vec_b": ids[jj][keep]})
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64")}
                )
            )

    cand = buckets.mapInPandas(gen, "vec_a long, vec_b long").distinct()
    return _exact_rescore(cand, v)


def _partial_topk(
    scored: DataFrame, k: int, extra: list[tuple[str, str]] | None = None
) -> DataFrame:
    """Partition-local top-k prune (no shuffle): each Arrow batch keeps at
    most k rows per query under the SAME total order the final ranking
    uses (cosine desc, neighbor_id asc — rounded cosine makes it
    engine-stable), so the global top-k is provably contained in the
    output. Only ≤ batches·queries·k rows ever reach the final per-query
    window — the full n·q scored set never shuffles onto the (few) query
    keys. At 100 TB this is the difference between a q-reducer bottleneck
    and a metadata-sized merge.

    ``extra``: [(column, ddl_type)] carried through the prune unchanged
    (e.g. label columns) — cheaper than re-joining them onto the pruned
    table from another corpus scan."""
    extra = list(extra or [])

    def prune(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) <= k:
                yield pdf
                continue
            cos = pdf["cosine"].to_numpy()
            nid = pdf["neighbor_id"].to_numpy()
            parts = []
            for _, idx in pdf.groupby("query_id").indices.items():
                if len(idx) > k:
                    order = np.lexsort((nid[idx], -cos[idx]))[:k]
                    parts.append(pdf.iloc[idx[order]])
                else:
                    parts.append(pdf.iloc[idx])
            yield pd.concat(parts, ignore_index=True)

    cols = ["query_id", "neighbor_id", "cosine"] + [c for c, _ in extra]
    ddl = "query_id bigint, neighbor_id bigint, cosine double" + "".join(
        f", {c} {t}" for c, t in extra
    )
    return scored.select(*cols).mapInPandas(prune, ddl)


def ann_cosine_topk(
    embeddings: DataFrame, k: int = P.ANN_K, n_queries: int = P.ANN_N_QUERIES
) -> DataFrame:
    """Brute-force cosine top-k: the first n_queries vectors probe the
    rest of the corpus. Query set is broadcast (tiny); one scan of the
    corpus computes all similarities; a partition-local top-k prune
    (_partial_topk) reduces each scan partition to ≤ q·k rows BEFORE the
    per-query ranking window, so the final shuffle moves candidate sets,
    not the scored corpus."""
    v = _vecs(embeddings)
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = v.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    scored = corpus.crossJoin(F.broadcast(queries)).withColumn("cosine", cos)
    pruned = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _bucket(vec_col: str = "v") -> Column:
    """Sign-bit bucket from the fixed hyperplanes: bit p set iff
    round(dot(v, plane_p), 6) > 0 — the dot is quantized before the sign
    test (mirrored in the oracle) so summation-order float drift cannot
    flip a bucket in one engine only. ONE parsed HOF string (the
    _dots_expr_for shape): per-plane dots evaluate interpreted, which
    the row volume keeps cheap — the r13 fully-unrolled CASE chain
    (512 arithmetic terms) regressed the face 0.83 → 2.29 s isolated
    on parse/codegen cost alone (PERF_NOTES r13)."""
    mat = ", ".join(
        "array(" + ", ".join(repr(float(x)) for x in plane) + ")"
        for plane in P.LSH_PLANES
    )
    weights = ", ".join(str(1 << p) for p in range(len(P.LSH_PLANES)))
    return F.expr(
        f"aggregate(zip_with(transform(array({mat}), c -> "
        f"round(aggregate(zip_with({vec_col}, c, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x), 6)), "
        f"array({weights}), (d, w) -> CASE WHEN d > 0 THEN w ELSE 0 END), "
        f"0, (acc, x) -> acc + x)"
    )


def ann_lsh(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = P.ANN_N_QUERIES,
    multiprobe: bool = True,
) -> DataFrame:
    """LSH-bucketed ANN: candidates share one of the query's probe
    buckets; exact cosine rerank within. With ``multiprobe`` (default),
    each query probes its own bucket PLUS the 8 Hamming-1 neighbors
    (one sign bit flipped) — the standard multi-probe LSH recall lift
    for 9× the probe keys and the SAME plan shape: the probe fan-out
    happens on the tiny broadcast query side (q·9 rows), never on the
    corpus. Each (query, neighbor) pair still meets at most once because
    a corpus vector lives in exactly one bucket and a query's probe set
    has distinct keys.

    Measured recall@3 vs the exact top-3 (sf0.1): 0.067 single-probe →
    0.133 multi-probe, and every query reaches a full k result set.
    Both numbers are inherently low on THIS data — the test vectors are
    near-uniform on the 64-sphere, so even a query's best neighbors sit
    at ~60°, where P(shared 8-bit sign bucket) = (2/3)⁸ ≈ 0.04 and
    Hamming-1 probing adds 8·(1/3)(2/3)⁷ ≈ 0.16 — exactly the observed
    lift. In the high-similarity regime a real ANN index serves
    (cos ≥ 0.9 → angle ≤ 26°), the same arithmetic gives per-bucket
    collision (1−26/180)⁸ ≈ 0.28 single / ≈ 0.70 multi — MEASURED on
    planted cos=0.90 near-duplicates: 0.31 single / 0.70 multi-probe
    recall (tests/test_plans.py::test_ann_lsh_multiprobe_recall_on_
    planted_near_duplicates), rising further with standard band-OR
    composition (dedup_embedding_lsh's banding)."""
    v = _vecs(embeddings).withColumn("bucket", _bucket("v"))
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    if multiprobe:
        probe_set = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(len(P.LSH_PLANES))
            ],
        )
        queries = queries.select(
            "query_id", "qv", F.explode(probe_set).alias("bucket")
        )
    corpus = v.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), "bucket"
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    scored = corpus.join(F.broadcast(queries), "bucket").withColumn("cosine", cos)
    # in-bucket volume is ≈ corpus/buckets per query, but the same
    # q-reducer window bottleneck applies — prune partition-locally first
    pruned = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def knn_label_accuracy(
    embeddings: DataFrame,
    k: int = P.KNN_K,
    n_queries: int = P.KNN_N_QUERIES,
) -> DataFrame:
    """Exact-kNN label-classification report over the embedding table's
    `label` column — the embedding-QUALITY measurement (Cover & Hart
    1967 nearest-neighbor rule as a pipeline metric): before trusting
    embeddings for semdedup / retrieval / mixing, check that vectors
    near each other share labels. Each probe vector's k exact-cosine
    corpus neighbors vote; majority label (ties: larger vote count,
    then smaller label — deterministic on any engine) vs the probe's
    own label, one row per probe: (query_id, true_label, pred_label,
    n_votes, correct).

    Plan shape = ann_cosine_topk's (broadcast probe set, one corpus
    scan, partition-local top-k prune) + two label joins over k·q-row
    tables — the measurement adds nothing corpus-sized. At 100 TB the
    probe set stays a broadcastable sample by construction; accuracy
    is a per-probe mean, so a uniform probe sample estimates the
    corpus-wide rate unbiasedly (the dedup_recall_sampled argument).

    Honesty note (measured): the bench corpus draws embeddings
    independently of `label`, so accuracy sits at the 1/|labels|
    chance rate there (0.10 at sf0.01) — the nb_lang_id situation
    again. Correctness of the REPORT is hash-gated on that corpus;
    that it measures real structure is pinned on planted label
    clusters (accuracy 1.0, tests/test_plans.py)."""
    topk = ann_cosine_topk(embeddings, k=k, n_queries=n_queries).select(
        "query_id", "neighbor_id"
    )
    labels = embeddings.select("vec_id", F.col("label").cast("int").alias("lbl"))
    votes = (
        topk.join(labels, topk.neighbor_id == labels.vec_id)
        .groupBy("query_id", "lbl")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "lbl")
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("query_id", F.col("lbl").alias("pred_label"), "n_votes")
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"), F.col("lbl").alias("true_label")
    ).where(F.col("query_id") < n_queries)
    return (
        truth.join(pred, "query_id")
        .select(
            "query_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label exact centroid table (label, cv array<double>, n_vecs)
    — the shared model of label_separation and the frozen-centroid
    streaming scorer (streaming/serving.py LabelSeparationServing).
    Exactness discipline: per-dim coordinates quantize to micro-units
    FIRST, so each (label, dim) coordinate is an exact long sum divided
    once ((s/1e6)/n) — deterministic on any partitioning or engine.
    One corpus-sized posexplode rollup keyed by (label, dim); the
    result is labels-sized model state."""
    v = embeddings.select(
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    dims = v.select("label", F.posexplode("v").alias("pos", "x"))
    sums = (
        dims.select(
            "label",
            "pos",
            F.expr("cast(floor(x * 1e6 + 0.5) as long)").alias("q"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return (
        sums.select(
            "label",
            "pos",
            "n",
            F.expr("(cast(s as double) / 1e6) / n").alias("c"),
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, c))), t -> t.c)"
            ).alias("cv"),
            F.first("n").alias("n_vecs"),
        )
    )


def score_label_margins(
    embeddings: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Per-VECTOR frozen-centroid separation score — the row-local
    serving kernel of the label_separation report (r9 verdict #8): for
    each vector, cosine to its OWN label's frozen centroid, the best
    OTHER label and its cosine, and the margin. ``cents`` is the
    labels-sized frozen model (from label_centroids / the stored
    index), compiled into literal expressions — per-row arithmetic
    only: NO join, NO shuffle, exactly the nb_lang_id frozen-model
    discipline, so a streaming micro-batch scores at scan speed.
    Ties on the other-label cosine break to the SMALLER label, the
    label_separation convention.

    Defined degenerate semantics (ADVICE r10): a model with fewer than
    two labels cannot express a margin — raise at compile time rather
    than emit all-null nn_* rows from a silently useless scorer. Rows
    whose label is ABSENT from the stored model keep a defined meaning:
    own_cos and margin are NULL (there is no own centroid to measure
    against — the explicit signal that the frozen model predates this
    label) while nn_label/nn_cos still carry the best stored label,
    since an unseen label excludes none of them. Downstream gates
    filter on margin IS NULL to route unseen-label rows to re-training
    instead of averaging nulls away."""
    if len(cents) < 2:
        raise ValueError(
            "score_label_margins needs a frozen model with >=2 labels "
            f"(got {len(cents)}): a single-label model has no 'other' "
            "label to margin against"
        )

    v = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("label"),
    )
    per = [
        (
            int(lbl),
            F.round(
                cosine_similarity(
                    F.col("v"),
                    F.expr(
                        "array("
                        + ", ".join(repr(float(c)) for c in cv)
                        + ")"
                    ),
                ),
                6,
            ),
        )
        for lbl, cv in sorted(cents)
    ]
    own = None
    for lbl, cos in per:
        own = (
            F.when(F.col("label") == lbl, cos)
            if own is None
            else own.when(F.col("label") == lbl, cos)
        )
    # best other: max over (cos, -label) structs, label excluded row-wise
    others = F.array(
        *[
            F.when(
                F.col("label") != lbl,
                F.struct(
                    cos.alias("cos"), F.lit(-lbl).cast("int").alias("neg")
                ),
            )
            for lbl, cos in per
        ]
    )
    best = F.array_max(F.filter(others, lambda t: t.isNotNull()))
    return v.select(
        "vec_id",
        "label",
        own.alias("own_cos"),
        (-best["neg"]).alias("nn_label"),
        best["cos"].alias("nn_cos"),
    ).withColumn(
        "margin",
        F.expr("floor((own_cos - nn_cos) * 1e6 + 0.5) / 1e6"),
    )


def label_separation(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding-space separation report — the second half of
    the embedding-quality gate (knn_label_accuracy asks "do neighbors
    share labels?"; this asks "are the label regions even distinct?"):
    per label, its member count, mean cosine of members to their OWN
    label centroid (cohesion), the nearest OTHER label's centroid and
    its centroid-to-centroid cosine (confusability), and the margin
    between the two — the one-table diagnostic that flags a label
    whose region collapsed into a neighbor's before any training run
    pays for the confusion.

    Exactness discipline: per-dim coordinates quantize to micro-units
    FIRST, so each (label, dim) centroid coordinate is an exact long
    sum divided once ((s/1e6)/n — deterministic on any partitioning or
    engine); per-member cosines (the established left-to-right
    aggregate order, rounded 6dp) quantize to micro-units before the
    cohesion mean. Scale: one corpus-sized posexplode rollup keyed by
    (label, dim); everything after is labels- or (labels²)-sized, and
    the member-to-centroid pass joins a BROADCAST centroid table —
    nothing corpus-quadratic anywhere."""
    v = embeddings.select(
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    carr = label_centroids(embeddings).select("label", "cv")
    cosr = F.round(cosine_similarity(F.col("v"), F.col("cv")), 6)
    intra = (
        v.join(F.broadcast(carr), "label")
        .select(
            "label",
            F.floor(cosr * F.lit(1e6) + F.lit(0.5)).cast("long").alias("cq"),
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("cq").alias("sq"))
        .select(
            "label",
            "n_vecs",
            F.expr(
                "floor(cast(sq as double) / n_vecs + 0.5) / 1e6"
            ).alias("intra_mean_cos"),
        )
    )
    a = carr.select(F.col("label").alias("label"), F.col("cv").alias("acv"))
    b = carr.select(F.col("label").alias("nn_label"), F.col("cv").alias("bcv"))
    ccos = F.round(cosine_similarity(F.col("acv"), F.col("bcv")), 6)
    w = Window.partitionBy("label").orderBy(F.desc("nn_cos"), "nn_label")
    nearest = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("label") != F.col("nn_label"))
        .withColumn("nn_cos", ccos)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("label", "nn_label", "nn_cos")
    )
    return intra.join(nearest, "label").select(
        "label",
        "n_vecs",
        "intra_mean_cos",
        "nn_label",
        "nn_cos",
        F.expr(
            "floor((intra_mean_cos - nn_cos) * 1e6 + 0.5) / 1e6"
        ).alias("margin"),
    )


def ann_recall(embeddings: DataFrame, k: int = P.ANN_K) -> DataFrame:
    """Recall@k report: per-query fraction of the exact top-k the LSH
    index recovers — measurement-as-operator, so index quality is a
    nightly pipeline metric instead of a one-off notebook number
    (the planted-pair test pins the same quantity on synthetic data).

    Both sides are the registered operators; the comparison is a
    left-semi-shaped join on (query, neighbor) over two k·q-row inputs —
    negligible next to either index pass."""
    exact = ann_cosine_topk(embeddings, k=k).select("query_id", "neighbor_id")
    approx = (
        ann_lsh(embeddings, k=k)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr("floor(n_hit / cast(n_exact as double) * 1e6 + 0.5) / 1e6").alias(
                "recall_at_k"
            ),
        )
    )


def vector_norm(embeddings: DataFrame) -> DataFrame:
    """L2 norm of each embedding — the vector twin of odometry.py:99's
    absolute_linear_velocity (np.linalg.norm over stream vectors)."""
    v = _vecs(embeddings)
    # unrolled codegen sum (HOFs evaluate interpreted; same left-assoc
    # order as the aggregate form it replaces — PERF_NOTES r13)
    sq = "0D + " + " + ".join(
        f"element_at(v, {d + 1}) * element_at(v, {d + 1})"
        for d in range(P.EMB_DIM)
    )
    return v.select(
        "vec_id", F.expr(f"round(sqrt({sq}), 6)").alias("l2_norm")
    )


def rp_signs(
    d_in: int = P.EMB_DIM, d_out: int = P.RP_DIM, salt: str = "rp"
) -> list[list[int]]:
    """The ±1 projection matrix of embed_project, derived from the
    portable md5 hash (parity of hash60(f'{salt}:{i}:{j}')) so both
    engines — and any future re-derivation — see the identical matrix
    without shipping model state."""

    def sign(i: int, j: int) -> int:
        return 1 if portable_hash60_py(f"{salt}:{i}:{j}") % 2 == 0 else -1

    return [[sign(i, j) for i in range(d_in)] for j in range(d_out)]


def embed_project(
    embeddings: DataFrame,
    d_out: int = P.RP_DIM,
    d_in: int = P.EMB_DIM,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003, "Database-friendly random projections"):
    proj_j = Σ_i s_ij·v_i over the hash-derived sign matrix (rp_signs),
    rounded half-up 6dp — the cheap distance-preserving shrink step a
    100 TB embedding pipeline runs before ANN indexing (4× fewer bytes
    per vector here; cosine distortion bounded by the JL lemma).

    Exactness: ±1·x is exact in binary floating point and both engines
    evaluate the identical left-associative sum over float32→double
    promoted elements, so the projection is BIT-identical to the DuckDB
    oracle before the boundary rounding — no float tolerance needed.
    One whole-stage-codegen projection, no shuffle, no UDF."""
    v = _vecs(embeddings)
    cols = [
        F.expr(e).alias(f"p{j}")
        for j, e in enumerate(_rp_proj_exprs(d_in, d_out))
    ]
    return v.select("vec_id", F.array(*cols).alias("proj"))


def _rp_proj_exprs(d_in: int, d_out: int) -> list[str]:
    """The per-dimension projection expression strings shared by
    embed_project (array face) and embed_project_rows (stack face) —
    ONE copy of the floor(Σ ±v_i · 1e6 + 0.5)/1e6 formula, so the two
    faces' bit-identity contract cannot drift apart (ADVICE r14)."""
    signs = rp_signs(d_in, d_out)
    return [
        "floor(("
        + " + ".join(
            f"({signs[j][i]}) * element_at(v, {i + 1})" for i in range(d_in)
        )
        + ") * 1e6 + 0.5) / 1e6"
        for j in range(d_out)
    ]


def embed_project_rows(
    embeddings: DataFrame,
    d_out: int = P.RP_DIM,
    d_in: int = P.EMB_DIM,
) -> DataFrame:
    """Scalar-row face of embed_project — (vec_id, dim, value), the
    exact rows posexplode(proj) yields, emitted through stack() over
    d_out SEPARATE projection columns instead of exploding ONE
    d_out-element array literal. The array form is a single unsplittable
    expression tree feeding the Generate node: its generated method
    blows the JVM's 64 KB limit, janino fails, and the stage runs
    interpreted (the embed_pca lesson, PERF_NOTES r14). d_out top-level
    scalar columns each compile on their own (CodegenContext
    splitExpressions carves sub-methods at column boundaries), and the
    stack Generator consumes column REFS, not the trees. Measured at
    sf0.1: 3.29 s → 0.55 s collected, values bit-identical."""
    v = _vecs(embeddings)
    exprs = [
        f"{e} as p{j}" for j, e in enumerate(_rp_proj_exprs(d_in, d_out))
    ]
    stack_args = ", ".join(f"{j}, p{j}" for j in range(d_out))
    return (
        v.selectExpr("vec_id", *exprs)
        .selectExpr(
            "vec_id", f"stack({d_out}, {stack_args}) as (dim, value)"
        )
        .select("vec_id", F.col("dim").cast("int").alias("dim"), "value")
    )


def _centroid_dots_expr(vec_col: str) -> str:
    """All centroid dot products against P.IVF_CENTROIDS as ONE parsed
    expression — see _dots_expr_for."""
    return _dots_expr_for(P.IVF_CENTROIDS, vec_col)


def _dots_expr_for(cents: list[list[float]], vec_col: str) -> str:
    """Centroid dot products as ONE literal-matrix HOF expression.
    Measured bounds on this expression's form (PERF_NOTES r11/r13):
    K separate py4j-built per-centroid expressions made Catalyst
    analysis dominate (8.3 s → 1.5 s when collapsed to this single
    transform); the r13 experiment of UNROLLING the K×dim matrix into
    plain arithmetic went the other way (ann_ivf 0.84 → 15.2 s
    isolated — parse/codegen of a ~1,000-term tree per face call
    dwarfs the interpreted HOF eval at corpus sizes where rows are
    thousands). The HOF stays: one py4j call, one small analysis
    pass, per-row interpreted eval that the data volume keeps cheap."""
    mat = ", ".join(
        "array(" + ", ".join(repr(float(x)) for x in c) + ")" for c in cents
    )
    return (
        f"transform(array({mat}), c -> "
        f"round(aggregate(zip_with({vec_col}, c, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x), 6))"
    )


def _task_partials(df: DataFrame, kernel):
    """The one combine of per-task model partials behind every trainer
    (Lloyd's in ivf_train_centroids and pq_train, kmeanspar_init,
    pca_train) — MLlib's aggregate-collect step. One mapInPandas pass:
    each task folds its whole partition with ``kernel(batches) ->
    (partial, extra)`` and yields ONE row — ``partial`` a tuple of
    fixed-shape numpy arrays (model-sized, e.g. k·dim sums and k
    counts), ``extra`` a small picklable side payload or None. The
    driver collects one row per task (never corpus rows) and returns
    ``(element-wise sum of the partials, [extra of each task])``.

    Determinism rule: partials are summed in content-sorted order
    (numeric order of each partial's flattened arrays), never in collect
    order; the extras come in that order too, and a caller that needs
    them ordered sorts them itself. So the sum depends only on the
    multiset of task partials: the same rows in the
    same tasks give bit-identical sums however the tasks are scheduled,
    fetched or unioned. It is not independent of how rows land in
    tasks: another partitioning gives other partials, whose float sum
    may differ in the last bits."""
    import pickle

    import numpy as np

    def run(batches):
        import pandas as pd

        yield pd.DataFrame({"p": [pickle.dumps(kernel(batches))]})

    tasks = [pickle.loads(r["p"]) for r in df.mapInPandas(run, "p binary").collect()]
    tasks.sort(
        key=lambda t: tuple(np.concatenate([np.ravel(a) for a in t[0]]).tolist())
    )
    total = tuple(map(sum, zip(*(p for p, _ in tasks))))
    return total, [extra for _, extra in tasks]


def ivf_train_centroids(
    embeddings: DataFrame, k: int = 16, iters: int = 5, init: str = "first_k"
) -> list[list[float]]:
    """Distributed Lloyd's k-means for IVF coarse centroids — the
    production path params.IVF_CENTROIDS stands in for (its comment:
    "a production index would k-means these").

    Each iteration is one _task_partials pass — one Spark job, measured
    at sf0.01 and sf0.1: each task assigns its vectors to their
    argmax-dot cell with one numpy GEMM and returns ONE (k × dim)
    partial sum and k counts regardless of row count; the driver sums
    them and holds only MODEL STATE (k·dim floats) between iterations —
    MLlib's KMeans aggregate-collect per step, not a data collect. The
    trained values are float-summation-order model state (every
    consuming face is rows-only for exactly that reason); see
    _task_partials for what they are deterministic under. Deterministic
    init, two flavors: 'first_k' = the first k vectors by vec_id (the
    cheap default); 'kmeanspar' = the k-means|| oversampling pass
    (kmeanspar_init, Bahmani et al. 2012) — a few extra corpus scans for
    a near-k-means++-quality starting point."""
    import numpy as np

    # cache the parsed vector relation: every Lloyd's iteration scans
    # it, and without the persist each of the `iters` jobs re-reads the
    # parquet and re-parses the arrays
    v = _vecs(embeddings).persist()
    if init == "kmeanspar":
        cents = _kmeanspar_init(v, k=k)
    else:
        # k rows: sorted on the driver, not by a distributed sort
        rows0 = sorted(
            v.where(F.col("vec_id") < k).collect(), key=lambda r: r["vec_id"]
        )
        cents = [list(map(float, r["v"])) for r in rows0]
    for _ in range(iters):
        C = np.array(cents, dtype=np.float64)

        def partials(batches, _C=C):
            kk, dd = _C.shape
            s = np.zeros((kk, dd))
            n = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                # dots rounded to 6 dp, then the first max wins as in
                # array_position(array_max); not the expression form's
                # quantization: np.round is half-to-even where Spark's
                # round is HALF_UP, and the GEMM sums in another order
                cell = np.round(X @ _C.T, 6).argmax(1)
                np.add.at(s, cell, X)
                n += np.bincount(cell, minlength=kk)
            return (s, n), None

        (s, n), _ = _task_partials(v, partials)
        # an empty cell's centroid is the zero vector
        M = np.zeros_like(s)
        M[n > 0] = s[n > 0] / n[n > 0, None]
        nrm = np.sqrt((M * M).sum(1))
        nrm[nrm == 0] = 1.0
        M = M / nrm[:, None]
        cents = [[round(float(x), 6) for x in row] for row in M]
    v.unpersist()
    return cents


def ann_ivf_trained(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    n_probes: int = P.IVF_PROBES,
    n_cells: int = 16,
    iters: int = 3,
    init: str = "first_k",
) -> DataFrame:
    """ann_ivf with TRAINED coarse centroids (ivf_train_centroids)
    instead of the fixed literals — identical plan shape (assign → probe
    → exact rerank), different cell geometry. Rows-only oracle: the
    trained centroids depend on the float summation order of Lloyd's
    partial sums (_task_partials), so cell boundaries are not
    bit-reproducible across engines, but the
    output is always n_queries·k rows with the exact rerank semantics.
    init='kmeanspar' swaps the naive first-k starting point for the
    k-means|| oversampling init (kmeanspar_init)."""
    cents = ivf_train_centroids(embeddings, k=n_cells, iters=iters, init=init)
    v = _vecs(embeddings).withColumn("dots", F.expr(_dots_expr_for(cents, "v")))
    cell = (F.expr("array_position(dots, array_max(dots))") - 1).cast("int")
    corpus = v.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        cell.alias("cell"),
    )
    probes = (
        v.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.posexplode("dots").alias("cell", "d"),
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("d"), "cell")
    probed = probes.withColumn("pr", F.row_number().over(wprobe)).where(
        F.col("pr") <= n_probes
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    scored = corpus.join(
        F.broadcast(probed.select("query_id", "qv", "cell")), "cell"
    ).withColumn("cosine", cos)
    # prune each scan partition to ≤ q·k rows BEFORE the per-query window
    # (post-probe volume is ≈ n_probes/n_cells of the corpus per query)
    pruned = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ann_ivf(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    n_probes: int = P.IVF_PROBES,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest coarse
    centroid cell; each query probes its n_probes best cells and reranks
    exactly inside them.

    The scale shape of a real IVF index: the corpus partitions by cell
    (a plain hash-partitioned column — at 100 TB, a partition/bucket
    key), a query touches n_probes/n_cells of the data, and the rerank
    is the brute-force kernel on that slice. Centroids here are fixed
    literals (params.py) so both engines compute identical assignments;
    swapping in trained k-means centroids changes numbers, not the plan.
    Mirrors reference capability marker_parsing.py:299's density view of
    clustering as bucketed search; complements ann_lsh (sign buckets)
    and ann_cosine_topk (exact baseline)."""
    v = _vecs(embeddings).withColumn("dots", F.expr(_centroid_dots_expr("v")))
    # argmax with first-match tie-break: array_position finds the FIRST
    # occurrence of the (rounded) maximum
    cell = (F.expr("array_position(dots, array_max(dots))") - 1).cast("int")
    corpus = v.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        cell.alias("cell"),
    )
    probes = (
        v.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.posexplode("dots").alias("cell", "d"),
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("d"), "cell")
    probed = probes.withColumn("pr", F.row_number().over(wprobe)).where(
        F.col("pr") <= n_probes
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    scored = corpus.join(
        F.broadcast(probed.select("query_id", "qv", "cell")), "cell"
    ).withColumn("cosine", cos)
    # prune each scan partition to ≤ q·k rows BEFORE the per-query window
    # (post-probe volume is ≈ n_probes/n_cells of the corpus per query)
    pruned = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def semdedup(
    embeddings: DataFrame,
    block: int = 2048,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, find
    near-duplicate pairs WITHIN each cluster only, group them into
    semantic-duplicate components, and keep exactly one representative
    per component — the member FARTHEST from its cluster centroid (the
    paper's low-centroid-similarity choice, maximizing retained
    diversity), pruning the rest.

    Deterministic variant, so the whole decision table is value-hash
    oracle-able: cells come from the fixed literal IVF centroids
    (ann_ivf's assignment, argmax of round-6 dot products — identical in
    both engines), pair detection is the exact rounded cosine at
    COSINE_DUP_THRESHOLD, components reuse the dedup_clusters min-label
    solver, and the centroid-similarity keep-rule uses the round-6
    centroid DOT with vec_id tie-break (within a cell the centroid is
    one fixed vector, so dot ordering is cosine ordering up to each
    member's own norm — documented proxy, deterministic by
    construction).

    Scale shape: the within-cell pair scan is the blocked-GEMM kernel
    (dedup_embedding_cosine's work unit) restricted to same-cell block
    pairs — work drops from (n/block)² tasks to Σ_cells (n_c/block)²,
    the quadratic term divided by the cell count for balanced cells;
    every stage is a groupBy/join on (cell, block) keys, no broadcast of
    the corpus, no driver collect. The component solve sees only
    verified pairs (LSH-verified-pairs-sized, not corpus-sized). At
    100 TB you raise n_cells so cells stay executor-sized — the plan
    shape is unchanged (reference capability: marker_parsing.py:299's
    cluster-then-filter view of density grouping, lifted to embedding
    space).

    Output: one row per vector that belongs to a semantic-duplicate
    component — (vec_id, cell, cluster_id, cluster_size, cent_dot,
    keep); `keep=false` rows are the prune list.

    ``centroids`` overrides the fixed literal cells with an arbitrary
    centroid matrix (same literal-matrix expression, so the plan shape
    is identical); semdedup_trained passes Lloyd's k-means output here —
    the paper's actual cluster-the-data shape.
    """
    dots_expr = (
        _centroid_dots_expr("v")
        if centroids is None
        else _dots_expr_for(centroids, "v")
    )
    v = _vecs(embeddings).withColumn("dots", F.expr(dots_expr))
    cell = (F.expr("array_position(dots, array_max(dots))") - 1).cast("int")
    assigned = v.select(
        "vec_id",
        "v",
        cell.alias("cell"),
        F.expr("array_max(dots)").alias("cent_dot"),
    )
    # The centroid-dots chain is an interpreted higher-order-function
    # expression (see multimodal.phash_frame's lesson) and `assigned`
    # feeds FOUR consumers (block build, both rescore vector sides, the
    # member join). A lazy localCheckpoint materializes the small
    # (n × dim) assignment once; downstream passes read stored
    # partitions instead of re-evaluating 16×64 lambda dots per row per
    # consumer (measured sf0.1 fresh: 8.0 s → ~4 s). Same persistence
    # discipline as the CC loop this operator already runs.
    assigned = iter_checkpoint(assigned, eager=False)
    blocks = (
        assigned.withColumn("blk", F.floor(F.col("vec_id") / block))
        .groupBy("cell", "blk")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("items"))
    )
    bp = (
        blocks.select(
            "cell", F.col("blk").alias("ba"), F.col("items").alias("ia")
        )
        .join(
            blocks.select(
                "cell", F.col("blk").alias("bb"), F.col("items").alias("ib")
            ),
            "cell",
        )
        .where(F.col("ba") <= F.col("bb"))
        .repartition(F.col("cell"), F.col("ba"), F.col("bb"))
    )
    thresh = P.COSINE_DUP_THRESHOLD - 5.1e-7

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for ia, ib in zip(pdf["ia"], pdf["ib"]):
                ids_a = np.array([r["vec_id"] for r in ia], dtype=np.int64)
                Ma = np.array([r["v"] for r in ia], dtype=np.float64)
                ids_b = np.array([r["vec_id"] for r in ib], dtype=np.int64)
                Mb = np.array([r["v"] for r in ib], dtype=np.float64)
                na = np.sqrt((Ma * Ma).sum(1))
                nb = np.sqrt((Mb * Mb).sum(1))
                S = (Ma @ Mb.T) / np.outer(na, nb)
                ii, jj = np.nonzero(S >= thresh)
                keep = ids_a[ii] < ids_b[jj]
                outs.append(
                    pd.DataFrame(
                        {"vec_a": ids_a[ii][keep], "vec_b": ids_b[jj][keep]}
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "vec_a": pd.Series(dtype="int64"),
                        "vec_b": pd.Series(dtype="int64"),
                    }
                )
            )

    cand = bp.mapInPandas(gen, "vec_a long, vec_b long")
    pairs = _exact_rescore(cand, assigned.select("vec_id", "v"))
    from vedb_gaze_spark.operators.dedup import _cc_labels

    labels = _cc_labels(
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    members = labels.select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("cluster_id")
    ).join(assigned.select("vec_id", "cell", "cent_dot"), "vec_id")
    wk = Window.partitionBy("cluster_id").orderBy("cent_dot", "vec_id")
    wc = Window.partitionBy("cluster_id")
    return members.select(
        "vec_id",
        "cell",
        "cluster_id",
        F.count(F.lit(1)).over(wc).cast("int").alias("cluster_size"),
        "cent_dot",
        (F.row_number().over(wk) == 1).alias("keep"),
    )


def semdedup_trained(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    block: int = 2048,
) -> DataFrame:
    """SemDeDup over TRAINED cells — the paper's actual pipeline shape
    (Abbas et al. 2023 cluster the real embedding space with k-means,
    then dedup within clusters): ivf_train_centroids' Lloyd's output
    becomes the cell assignment, and everything downstream is the
    existing semdedup plan verbatim (the centroid matrix is still ONE
    literal expression, so plan shape — and the blocked-GEMM within-cell
    scan — is unchanged; only cell geometry moves).

    Rows-only oracle, same reason as ann_ivf_trained: trained centroids
    depend on the float summation order of Lloyd's partial sums, so cell
    boundaries are not bit-reproducible across engines. Decision-table
    equality with the fixed-literal variant when handed those literals as
    the trained input is pytest-pinned (tests/test_similarity_ops.py), which is what
    makes the rows-only record trustworthy: the only untested piece is
    the k-means geometry, and that has its own planted test."""
    cents = ivf_train_centroids(embeddings, k=n_cells, iters=iters)
    return semdedup(embeddings, block=block, centroids=cents)


def semdedup_prune(
    embeddings: DataFrame, decisions: DataFrame | None = None
) -> DataFrame:
    """SemDeDup applied: the surviving dataset — every vector that is
    either in no semantic-duplicate component ('unique') or is its
    component's kept representative ('kept', the lowest-centroid-dot
    member semdedup flags). The paper's actual output is this pruned
    set; semdedup itself is the decision table. One left join of the
    corpus against the (duplication-sized) decision table — at 100 TB
    the decision side is LSH-verified-small and broadcasts via AQE (no
    forced hint)."""
    if decisions is None:
        decisions = semdedup(embeddings)
    lab = decisions.select("vec_id", "keep")
    return (
        embeddings.select("vec_id")
        .join(lab, "vec_id", "left")
        .where(F.col("keep").isNull() | F.col("keep"))
        .select(
            "vec_id",
            F.when(F.col("keep").isNull(), F.lit("unique"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# --- product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") ------------------------------------------------


def _pq_encode_gen(books: list[list[list[float]]], id_col: str, out_id: str):
    """mapInPandas generator: PQ-encode each Arrow batch with one numpy
    pass — for each subspace j, the argmin-L2 codebook cell of the j-th
    subvector (np.argmin = first minimum, the same tie rule the old
    array_position expression had). The codebooks ride the CLOSURE
    (m·k_sub·d_sub floats — model state, never a corpus broadcast).

    Why Python here and not Catalyst array algebra: the expression form
    was m nested transform/aggregate higher-order functions per row,
    which evaluate INTERPRETED (outside whole-stage codegen) — the exact
    mechanism behind hash_embed's 74 s and multimodal_phash_dedup's
    15.7 s before their rewrites (PERF_NOTES r5/r6). One vectorized
    Arrow batch replaces ~2·m·k_sub·d_sub interpreted ops per row."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        B = np.array(books, dtype=np.float64)  # (m, k_sub, d_sub)
        m, _, d_sub = B.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
            Vs = V.reshape(len(V), m, d_sub)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                D = ((Vs[:, j, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = D.argmin(1)
            yield pd.DataFrame(
                {out_id: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return gen


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    coarse_centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Distributed Lloyd's over every subspace AT ONCE: one
    _task_partials pass (one Spark job) per iteration assigns all
    (vector, subspace) pairs to their argmin cell, and each task
    returns ONE fixed-size (m, k_sub, d_sub) partial sum and (m, k_sub)
    counts — the corpus never moves. Driver holds only the codebooks
    between iterations (the ivf_train_centroids model-state pattern).
    Deterministic init: subvectors of the first k_sub vectors.

    ``coarse_centroids`` (IVFADC): when given, training runs on the
    RESIDUALS v − centroid[argmax-dot cell] — the codebooks quantize
    what the coarse quantizer does not explain (Jégou et al. 2011
    §IV)."""
    import numpy as np

    # cached: each Lloyd's iteration (plus the init collect) scans the
    # parsed vector relation
    v = _vecs(embeddings).persist()
    # k_sub rows: sorted on the driver, not by a distributed sort
    init = sorted(
        v.where(F.col("vec_id") < k_sub).collect(), key=lambda r: r["vec_id"]
    )
    init_V = np.array([list(r["v"]) for r in init], dtype=np.float64)
    d_sub = init_V.shape[1] // m
    if coarse_centroids is not None:
        Cc = np.array(coarse_centroids, dtype=np.float64)
        init_V = init_V - Cc[(init_V @ Cc.T).argmax(1)]
    books = [
        [
            [round(float(x), 6) for x in row[j * d_sub : (j + 1) * d_sub]]
            for row in init_V
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        B = np.array(books, dtype=np.float64)  # (m, k_sub, d_sub)

        def partials(batches, _B=B, _cc=coarse_centroids):
            mm, kk, dd = _B.shape
            Cc = np.array(_cc, dtype=np.float64) if _cc is not None else None
            s = np.zeros((mm, kk, dd), dtype=np.float64)
            n = np.zeros((mm, kk), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
                if Cc is not None:
                    V = V - Cc[(V @ Cc.T).argmax(1)]
                Vs = V.reshape(len(V), mm, dd)
                for j in range(mm):
                    D = ((Vs[:, j, None, :] - _B[j][None, :, :]) ** 2).sum(-1)
                    c = D.argmin(1)
                    np.add.at(s[j], c, Vs[:, j])
                    n[j] += np.bincount(c, minlength=kk)
            return (s, n), None

        (s, n), _ = _task_partials(v, partials)
        # an empty cell keeps its codeword (already rounded: round is
        # idempotent on a 6 dp value)
        nxt = np.where(n[..., None] > 0, s / np.maximum(n, 1)[..., None], B)
        books = [
            [[round(float(x), 6) for x in row] for row in book] for book in nxt
        ]
    v.unpersist()
    return books


def pq_encode(
    embeddings: DataFrame, books: list[list[list[float]]]
) -> DataFrame:
    """Corpus → (vec_id, codes array<int>): m bytes of index per vector
    instead of dims floats — the 32× compression that makes a 100 TB
    embedding store scannable from a few TB of codes. One narrow
    no-shuffle numpy pass (_pq_encode_gen)."""
    return _vecs(embeddings).mapInPandas(
        _pq_encode_gen(books, "vec_id", "vec_id"),
        "vec_id bigint, codes array<int>",
    )


def ann_pq(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    rerank_mult: int = 8,
) -> DataFrame:
    """PQ asymmetric-distance search with exact rerank: train codebooks
    (pq_train), encode the corpus once (numpy mapInPandas — the
    interpreted-HOF expression form cost ~2·m·k_sub·d_sub interpreted
    ops per row, PERF_NOTES r5/r6), score candidates by table lookup
    in chunked numpy tasks with the top-(rerank_mult·k) prune fused in
    (_pq_search), exact-cosine only the survivors (Catalyst
    expression, so rerank cosines stay bit-equal to the brute-force
    operator — test-pinned). Rows-only oracle (trained codebooks
    inherit float summation order); recall vs the exact scan is pinned
    in tests/test_plans.py."""
    books = pq_train(embeddings, m=m, k_sub=k_sub, iters=iters)
    v = _vecs(embeddings)
    corpus_codes = v.where(F.col("vec_id") >= n_queries).mapInPandas(
        _pq_encode_gen(books, "vec_id", "neighbor_id"),
        "neighbor_id bigint, codes array<int>",
    )
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    full = v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    return _pq_search(queries, corpus_codes, full, books, k, rerank_mult)


def _pq_search(
    queries: DataFrame,
    corpus_codes: DataFrame,
    full_vectors: DataFrame,
    books: list[list[list[float]]],
    k: int,
    rerank_mult: int,
) -> DataFrame:
    """The PQ search kernel over a STORED index: queries (query_id, qv)
    against corpus_codes (neighbor_id, codes) with exact rerank against
    full_vectors (neighbor_id, nv) — shared verbatim by the batch
    ann_pq registry face and the foreachBatch serving job
    (streaming/serving.py), so streamed answers are definitionally the
    batch rows. The codes side never carries full vectors; the rerank
    fetch touches rerank_mult·k candidates per query (the production
    PQ shape: scan the byte-code index, fetch originals per
    candidate).

    ADC layout (r7 rewrite — the interpreted-HOF kill, PERF_NOTES
    r5/r6): the codes table groups into neighbor_id-range CHUNKS
    (collect_list — the dedup_embedding_cosine blocked-GEMM work unit);
    the bounded query set aggregates into ONE row; their crossJoin
    gives n/CHUNK rows, each scored by a numpy task that builds every
    query's m×k_sub lookup table ONCE (subvector·codebook dots from
    the closure-held codebooks), gathers each candidate's m-term LUT
    sum, and emits only the per-(chunk, query) top-(rerank_mult·k)
    under the final total order (ADC desc, neighbor_id asc) — the
    partial-top-k prune fused into the scoring pass. Arrow traffic is
    one pass over the codes plus rerank-candidate rows out; the old
    per-(code,query)-row expression form evaluated an INTERPRETED
    aggregate/zip_with chain per pair and shipped a per-row LUT through
    the broadcast join. The shuffle that builds chunks moves m ints
    per vector — the compressed index, never vectors."""
    m = len(books)
    bk = [list(map(list, book)) for book in books]
    rk = rerank_mult * k
    chunks = corpus_codes.groupBy(
        F.floor(F.col("neighbor_id") / P.PQ_CHUNK).alias("blk")
    ).agg(F.collect_list(F.struct("neighbor_id", "codes")).alias("items"))
    qagg = queries.agg(
        F.collect_list(F.struct("query_id", "qv")).alias("qs")
    )

    def score_topk(batches, _bk=bk, _rk=rk):
        import numpy as np
        import pandas as pd

        B = np.array(_bk, dtype=np.float64)  # (m, k_sub, d_sub)
        mm, _, dd = B.shape
        for pdf in batches:
            outs = []
            for items, qs in zip(pdf["items"], pdf["qs"]):
                if len(items) == 0 or len(qs) == 0:
                    continue
                nid = np.array([r["neighbor_id"] for r in items], np.int64)
                C = np.array([r["codes"] for r in items], np.int64)  # (n, m)
                jj = np.arange(mm)[None, :]
                for qr in qs:
                    qv = np.array(list(qr["qv"]), np.float64).reshape(mm, dd)
                    lut = (B * qv[:, None, :]).sum(-1)  # (m, k_sub)
                    # repo rounding convention: half-up at 6dp (matches
                    # the Spark round() this kernel replaced), not
                    # numpy's banker's half-even
                    adc = np.floor(lut[jj, C].sum(1) * 1e6 + 0.5) / 1e6
                    if len(nid) > _rk:
                        top = np.lexsort((nid, -adc))[:_rk]
                    else:
                        top = np.arange(len(nid))
                    outs.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    len(top), qr["query_id"], np.int64
                                ),
                                "neighbor_id": nid[top],
                                "cosine": adc[top],
                            }
                        )
                    )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "query_id": pd.Series(dtype="int64"),
                        "neighbor_id": pd.Series(dtype="int64"),
                        "cosine": pd.Series(dtype="float64"),
                    }
                )
            )

    pruned = chunks.crossJoin(F.broadcast(qagg)).mapInPandas(
        score_topk, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return _pq_rerank(pruned, queries, full_vectors, k, rerank_mult)


def _pq_rerank(
    pruned: DataFrame,
    queries: DataFrame,
    full_vectors: DataFrame,
    k: int,
    rerank_mult: int,
) -> DataFrame:
    """Shared ADC→exact tail (ann_pq, ann_ivfpq, PQ serving): global
    top-(rerank_mult·k) per query over the pre-pruned ADC estimates
    (metadata-sized window), fetch those candidates' full vectors, and
    rank by the EXACT sequential-fold cosine — a Catalyst expression,
    so rerank cosines are bit-equal to the brute-force operator
    (test-pinned)."""
    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    cand = (
        pruned.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= rerank_mult * k)
        .select("query_id", "neighbor_id", F.col("cosine").alias("adc_score"))
    )
    qfull = queries.select("query_id", "qv")
    exact = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.join(full_vectors, "neighbor_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn("cosine", exact)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_score", "cosine")
    )


def ann_ivfpq(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    nprobe: int = P.IVF_PROBES,
    rerank_mult: int = 8,
    coarse_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVFADC — the inverted-file + PQ composition (Jégou et al. 2011
    §IV, the production large-scale ANN layout): coarse cells in front
    of the compressed codes, so a query scans nprobe/n_cells of the
    code table instead of all of it — the r6 verdict's named gap for
    ann_pq at 100 TB ("scan-all-codes ... wants IVF cells in front").

    Layout: every corpus vector is assigned its argmax-dot coarse cell
    (the fixed P.IVF_CENTROIDS literals, same geometry as ann_ivf) and
    PQ-encoded as the RESIDUAL v − centroid (the paper's IVFADC: the
    codebooks quantize what the coarse cell does not explain, trained
    by the same model-state-only Lloyd's on residuals). The stored
    index is (neighbor_id, cell, codes) — cell is a plain partition/
    bucket column at scale.

    Search: queries coarse-assign to their nprobe best cells (numpy,
    bounded query set), then an EQUI-JOIN on cell — not a crossJoin —
    meets the (cell, chunk)-grouped code table; each joined row scores
    one chunk of one probed cell against one query with the residual
    LUT (ADC estimate = q·centroid + Σ_j LUT_j[code_j], the constant
    cell term re-added so estimates compare ACROSS cells in the global
    prune window) and emits only its top-(rerank_mult·k). Exact rerank
    shares _pq_rerank with ann_pq. Hot cells do not become hot tasks:
    the chunk key splits a cell at PQ_CHUNK codes.

    Rows-only (trained residual codebooks inherit float summation
    order); pins in tests/test_plans.py: probed-cell containment,
    recall floor vs the exact scan, rerank cosines bit-equal,
    cell-equi-join plan shape.

    coarse_centroids overrides the fixed P.IVF_CENTROIDS cell geometry
    (the semdedup_trained pattern) — ann_ivfpq_trained passes Lloyd's
    output here; the plan is identical either way."""
    cents = [
        list(map(float, c))
        for c in (coarse_centroids
                  if coarse_centroids is not None else P.IVF_CENTROIDS)
    ]
    v = _vecs(embeddings)
    corpus_v = v.where(F.col("vec_id") >= n_queries)
    books = pq_train(
        embeddings, m=m, k_sub=k_sub, iters=iters, coarse_centroids=cents
    )
    codes = corpus_v.mapInPandas(
        _ivfpq_encode_gen(books, cents),
        "neighbor_id bigint, cell int, codes array<int>",
    )
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    full = v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    return _ivfpq_search(
        queries, codes, full, books, cents, k, nprobe, rerank_mult
    )


def ann_ivfpq_trained(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    nprobe: int = P.IVF_PROBES,
    rerank_mult: int = 8,
    n_cells: int = 16,
    coarse_iters: int = 3,
) -> DataFrame:
    """The FULL IVFADC recipe of Jégou et al. 2011 §IV: a TRAINED
    coarse quantizer (ivf_train_centroids — distributed Lloyd's,
    model-state-only collects) in front of residual PQ codebooks,
    composed through ann_ivfpq's coarse_centroids override — the same
    trained-vs-fixed relationship ann_ivf_trained has to ann_ivf and
    semdedup_trained has to semdedup. The plan downstream of training
    is byte-identical to ann_ivfpq: residual encode per argmax-dot
    cell, nprobe cell EQUI-join probe, cross-cell q·centroid offset,
    chunked cells, shared exact rerank.

    Rows-only by design (Lloyd's means inherit float summation order,
    so cell boundaries are not bit-reproducible across engines);
    pytest pins: ≡ ann_ivfpq when handed P.IVF_CENTROIDS verbatim, and
    recall vs the exact scan clears the fixed-cell variant's floor on
    the bench vectors (trained cells balance probe coverage)."""
    cents = ivf_train_centroids(embeddings, k=n_cells, iters=coarse_iters)
    return ann_ivfpq(
        embeddings,
        k=k,
        n_queries=n_queries,
        m=m,
        k_sub=k_sub,
        iters=iters,
        nprobe=nprobe,
        rerank_mult=rerank_mult,
        coarse_centroids=cents,
    )


def _ivfpq_encode_gen(
    books: list[list[list[float]]], cents: list[list[float]]
):
    """mapInPandas generator: coarse-assign (argmax dot) + residual PQ
    codes in one numpy pass. Shared by ann_ivfpq and write_ivfpq_index
    (streaming/serving.py)."""
    bk = [list(map(list, book)) for book in books]

    def gen(batches, _bk=bk, _c=cents):
        import numpy as np
        import pandas as pd

        B = np.array(_bk, dtype=np.float64)
        C = np.array(_c, dtype=np.float64)
        mm, _, dd = B.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
            cell = (V @ C.T).argmax(1)
            R = (V - C[cell]).reshape(len(V), mm, dd)
            codes = np.empty((len(V), mm), dtype=np.int32)
            for j in range(mm):
                D = ((R[:, j, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = D.argmin(1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return gen


def _ivf_probe(
    queries: DataFrame, cents: list[list[float]], nprobe: int
) -> DataFrame:
    """(query_id, qv) → one row per (query, probed cell): the nprobe
    argmax-dot cells per query, computed in one numpy pass over the
    bounded query set."""

    def gen(batches, _c=cents, _np=nprobe):
        import numpy as np
        import pandas as pd

        C = np.array(_c, dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array([list(x) for x in pdf["qv"]], dtype=np.float64)
            order = np.argsort(-(Q @ C.T), axis=1, kind="stable")[:, :_np]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(), order.shape[1]
                    ),
                    "cell": order.ravel().astype(np.int32),
                    "qv": [list(x) for x in np.repeat(Q, order.shape[1], 0)],
                }
            )

    return queries.mapInPandas(gen, "query_id bigint, cell int, qv array<double>")


def _ivfpq_search(
    queries: DataFrame,
    codes: DataFrame,
    full_vectors: DataFrame,
    books: list[list[list[float]]],
    cents: list[list[float]],
    k: int,
    nprobe: int,
    rerank_mult: int,
) -> DataFrame:
    """The IVFADC search kernel over a codes relation (neighbor_id,
    cell, codes) — shared verbatim by the batch ann_ivfpq face and the
    partition-pruned serving job (streaming/serving.py), so streamed
    answers are definitionally the batch rows. See ann_ivfpq for the
    layout rationale."""
    bk = [list(map(list, book)) for book in books]
    rk = rerank_mult * k
    chunks = codes.groupBy(
        "cell", F.floor(F.col("neighbor_id") / P.PQ_CHUNK).alias("blk")
    ).agg(F.collect_list(F.struct("neighbor_id", "codes")).alias("items"))
    qprobe = _ivf_probe(queries, cents, nprobe)

    def score_topk(batches, _bk=bk, _c=cents, _rk=rk):
        import numpy as np
        import pandas as pd

        B = np.array(_bk, dtype=np.float64)
        C = np.array(_c, dtype=np.float64)
        mm, _, dd = B.shape
        jj = np.arange(mm)[None, :]
        for pdf in batches:
            outs = []
            for qid, items, cell, qv in zip(
                pdf["query_id"], pdf["items"], pdf["cell"], pdf["qv"]
            ):
                if len(items) == 0:
                    continue
                nid = np.array([r["neighbor_id"] for r in items], np.int64)
                Cd = np.array([r["codes"] for r in items], np.int64)
                q = np.array(list(qv), np.float64)
                lut = (B * q.reshape(mm, dd)[:, None, :]).sum(-1)
                qc = float(q @ C[int(cell)])
                # half-up 6dp — the repo-wide rounding convention
                adc = np.floor((qc + lut[jj, Cd].sum(1)) * 1e6 + 0.5) / 1e6
                if len(nid) > _rk:
                    top = np.lexsort((nid, -adc))[:_rk]
                else:
                    top = np.arange(len(nid))
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(top), qid, np.int64),
                            "neighbor_id": nid[top],
                            "cosine": adc[top],
                        }
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "query_id": pd.Series(dtype="int64"),
                        "neighbor_id": pd.Series(dtype="int64"),
                        "cosine": pd.Series(dtype="float64"),
                    }
                )
            )

    scored = chunks.join(F.broadcast(qprobe), "cell")
    pruned = scored.mapInPandas(
        score_topk, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return _pq_rerank(pruned, queries, full_vectors, k, rerank_mult)


# --- SQ8: scalar-quantized ANN (FAISS IndexScalarQuantizer QT_8bit) ------


def sq8_stats(embeddings: DataFrame) -> list[tuple[float, float]]:
    """Per-dimension (min, max) of the embedding table — the SQ8 'model'
    (reference anchor: FAISS ScalarQuantizer QT_8bit train(), public
    API). ONE unrolled aggregate of 2·EMB_DIM min/max expressions over
    element_at — no explode, no shuffle, map-side partial aggregation
    straight to a single model-state row (r13: the previous
    posexplode + pos-keyed groupBy shuffled a rows×dim intermediate —
    ~1.7 s of every SQ8 face build at sf0.1, the family's dominant
    cost; PERF_NOTES). min/max of doubles are exact element picks, so
    the Spark-collected stats equal the oracle's SQL-computed stats
    bit-for-bit."""
    v = _vecs(embeddings)
    dim = P.EMB_DIM
    # ONE selectExpr string → one py4j call, one global-agg job with a
    # single array output field. Building this as 2·EMB_DIM Column
    # objects costs ~0.45 s of py4j round trips PER CALL before Spark
    # sees the plan, and the posexplode+groupBy it replaces paid an
    # explode+shuffle job — both measured r13 (PERF_NOTES: the SQ8
    # faces\' dominant cost was fixed per-call overhead, not data).
    pairs = ", ".join(
        f"min(element_at(v, {d + 1})), max(element_at(v, {d + 1}))"
        for d in range(dim)
    )
    arr = v.selectExpr(f"array({pairs}) AS s").collect()[0][0]
    if any(x is None for x in arr):
        # min/max over ZERO rows are NULL — surface the degenerate
        # input here with a clear message instead of letting
        # _sq8_code_sql raise a bare TypeError at plan-build time.
        raise ValueError(
            "sq8_stats: embeddings table is empty (or a dimension is "
            "all-NULL); cannot train an SQ8 model on zero vectors"
        )
    return [(arr[2 * d], arr[2 * d + 1]) for d in range(dim)]


def sq8_encode(
    embeddings: DataFrame, stats: list[tuple[float, float]]
) -> DataFrame:
    """8-bit scalar quantization: code_d = floor((x_d − mn_d)/(mx_d −
    mn_d)·255 + 0.5) — one whole-stage-codegen array projection, no
    shuffle, no UDF. 4× compression vs float32 (8× vs the double math);
    each step is a single IEEE op on identical doubles in both engines,
    so codes are exactly reproducible (no summation order anywhere)."""
    v = _vecs(embeddings)
    return v.select("vec_id", "v", _sq8_codes_expr(stats).alias("codes"))


def _sq8_codes_expr(stats: list[tuple[float, float]]) -> Column:
    """array(<code_0>, …, <code_{D-1}>) as ONE parsed SQL string — the
    encode definition sq8_encode and the index-growth path
    (streaming/serving.py:append_ivfsq8_index) share. The [0, 255]
    clamp is FAISS QT_8bit saturation semantics: encoding the
    index-build corpus never leaves range (stats come from the data),
    but append_ivfsq8_index reuses the STORED stats for new vectors,
    and an appended value outside the original per-dim range must
    saturate, not escape 8 bits. Mirrored in the ANN_SQ8 /
    ANN_IVF_SQ8 / SQ8_RECALL oracle CASEs."""
    return F.expr(
        "array("
        + ", ".join(
            _sq8_code_sql(d, mn, mx) for d, (mn, mx) in enumerate(stats)
        )
        + ")"
    )


def ann_sq8(
    embeddings: DataFrame, k: int = P.ANN_K, n_queries: int = P.ANN_N_QUERIES
) -> DataFrame:
    """Scalar-quantized ANN (the FAISS SQ8 layout, Jégou et al. 2011 §II
    baseline 'SDC/ADC over uniform quantizers'): the corpus is stored as
    8-bit codes; queries stay exact and score against the DECODED
    reconstruction x̂_d = mn_d + code_d·(mx_d − mn_d)/255 (asymmetric
    distance — only the database side is quantized, per the paper's ADC
    argument). Unlike PQ's trained codebooks (rows-only records), SQ8's
    model is two exact order statistics per dimension, so the WHOLE
    operator — train, encode, score, rank — is SQL-expressible and the
    oracle match is a full value-hash gate: the hash-green compressed-ANN
    contrast to the rows-only ann_pq/ann_ivfpq family.

    Scale shape: train = one dim-bounded agg (EMB_DIM-row model state);
    encode = one codegen projection over the corpus (no shuffle); scoring
    = broadcast tiny query set × one corpus scan with the partition-local
    top-k prune (_partial_topk) ahead of the per-query ranking window —
    identical plan skeleton to ann_cosine_topk at 1/4 the stored bytes.
    Ranking uses the ADC score rounded half-even 6dp (both engines round
    an O(1e-16)-stable double — see PERF_NOTES determinism ledger) with
    neighbor_id tie-breaks."""
    stats = sq8_stats(embeddings)
    enc = sq8_encode(embeddings, stats)
    # repartition = optimizer barrier (CollapseProject stops at an
    # Exchange): the freshly-built array(64 code exprs) must reach the
    # unrolled dot as an OPAQUE column, or Catalyst inlines the whole
    # array construction into every element_at term (64x64 expression
    # blowup — measured seconds of pure planning per call, PERF_NOTES
    # r13). One tiny exchange of the 4x-compressed corpus; the stored-
    # index serving path needs no barrier (parquet codes are opaque).
    corpus = enc.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    ).repartition("neighbor_id")
    queries = enc.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return _sq8_search(queries, corpus, stats, k)



def _sq8_code_sql(d: int, mn: float, mx: float, vec: str = "v") -> str:
    """SQL text of one dimension's SQ8 code over a parsed ``vec``
    column — the _sq8_codes_expr arithmetic verbatim (single-op IEEE
    steps + the [0, 255] clamp), as a string so the inline faces can
    fuse encode into the scoring expression."""
    if mx <= mn:
        return "0"
    x = f"element_at({vec}, {d + 1})"
    code = (
        f"cast(floor(({x} - ({float(mn)!r})) / "
        f"(({float(mx)!r}) - ({float(mn)!r})) * 255.0D + 0.5D) as int)"
    )
    return f"greatest(0, least(255, {code}))"


def _sq8_dot_expr(stats: list[tuple[float, float]]):
    """The SQ8 ADC dot ``Σ_d qv_d · (mn_d + codes_d·scale_d)`` over an
    opaque ``codes`` column as ONE unrolled whole-stage-codegen
    expression with the frozen per-dim (mn, scale) literals baked in —
    decode fused into the multiply, no intermediate xhat array, no
    HigherOrderFunction (HOFs never enter generated code and evaluate
    interpreted per pair — the embed_pca lesson, re-measured on this
    kernel r13, PERF_NOTES).

    All callers score a materialized codes column: the serving path
    reads it from parquet, the inline faces encode once and put a
    repartition() Exchange between build and consume (the barrier that
    stops Catalyst's projection collapse from inlining a freshly-built
    array(64 code exprs) into all 64 element_at terms — the 64×64
    node blowup, ~2.3 s of pure planning per call, r13 PERF_NOTES).
    Same left-assoc sum from 0.0 and 6dp round as the oracle CASEs."""
    terms = []
    for d, (mn, mx) in enumerate(stats):
        scale = (mx - mn) / 255.0
        code = f"cast(element_at(codes, {d + 1}) as double)"
        terms.append(
            f"(element_at(qv, {d + 1}) * (({float(mn)!r}) + "
            f"{code} * ({float(scale)!r})))"
        )
    return F.expr("0D + " + " + ".join(terms))


def _sq8_search(
    queries: DataFrame,
    codes: DataFrame,
    stats: list[tuple[float, float]],
    k: int = P.ANN_K,
    pair_filter=None,
    extra: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Shared SQ8 ADC kernel — the batch registry face (ann_sq8) and the
    streaming server (streaming/serving.py:SQ8Serving) run THIS plan, so
    served answers are the batch answers by construction. queries =
    (query_id, qv array<double>); codes = (neighbor_id, codes
    array<int>); stats = the per-dim (min, max) model.

    ``pair_filter``/``extra`` (r11, both default-off): a per-pair
    predicate applied to the scored stream BEFORE the prune and extra
    (column, ddl) pairs carried through it — the hard-negative miner's
    label gate rides the same kernel without a second corpus pass.

    r13: the ADC dot is one UNROLLED fused decode+multiply sum —
    ``Σ_d qv_d · (mn_d + codes_d·scale_d)`` over scalar literals with
    the same left-assoc order and per-term IEEE ops as the previous
    aggregate(zip_with(...)) form, which (like every
    HigherOrderFunction) evaluated INTERPRETED per pair and never
    entered whole-stage codegen — the embed_pca lesson (PERF_NOTES
    r12/r13: isolated ann_sq8 2.71 s before / after measured there;
    the 6dp round bridges the oracle's SUM order exactly as
    before)."""
    scored = codes.crossJoin(F.broadcast(queries)).withColumn(
        "score_sq8", F.round(_sq8_dot_expr(stats), 6)
    ).drop("codes")
    if pair_filter is not None:
        scored = scored.where(pair_filter)
    pruned = _partial_topk(
        scored.withColumnRenamed("score_sq8", "cosine"), k, extra=extra
    ).withColumnRenamed("cosine", "score_sq8")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_sq8"), "neighbor_id"
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "score_sq8",
            *[c for c, _ in (extra or [])],
        )
    )


# --- k-means|| initialization (Bahmani et al. 2012) -----------------------


def kmeanspar_init(
    embeddings: DataFrame,
    k: int = 16,
    l: int | None = None,
    rounds: int = 4,
    salt: str = "kpp",
) -> list[list[float]]:
    """k-means|| oversampling initialization (Bahmani et al. 2012,
    "Scalable k-means++", VLDB — §3.1 Algorithm 2). k-means++ picks one
    center per pass (k passes — serial and unusable at corpus scale);
    k-means|| oversamples ~l candidates per pass for O(log n)≈`rounds`
    passes, then reclusters the tiny weighted candidate set driver-side.
    This is THE distributed init — MLlib's KMeans default — and replaces
    the naive first-k-vectors init of ivf_train_centroids when handed
    init='kmeanspar'.

    Determinism: the paper's independent coin flips (keep x ⇔ u <
    l·d²(x,C)/φ) use u = portable md5 hash of (salt, round, vec_id)
    scaled to [0,1) — replay re-picks the identical candidate set, so
    trained indexes are reproducible (the repo-wide hash-derived-
    randomness rule).

    Scale shape per round: ONE _task_partials pass. The coin flip
    u < l·d²/φ is DECIDED LATE: each task returns its partial φ (the
    sum of its rows' d²) and, as its side payload, the rows with
    u < l·d²/φ_task, thresholded once against the task's final φ_task.
    φ_task ≤ φ, so this is a superset with no false negatives, and its
    expected size is Σ min(1, l·d²/φ_task) ≤ l rows per task whatever
    the partition count. The driver sums the exact φ and applies the
    exact predicate to the superset; picked candidates join C in
    vec_id order. The final weighting pass is one more _task_partials
    pass (each task counts its rows' nearest candidate); greedy
    weighted k-means++ and weighted Lloyd's then run on the ≈l·rounds
    candidates in numpy — never on corpus rows."""
    v = _vecs(embeddings).persist()
    try:
        return _kmeanspar_init(v, k, l, rounds, salt)
    finally:
        v.unpersist()


def _kmeanspar_init(
    v: DataFrame,
    k: int = 16,
    l: int | None = None,
    rounds: int = 4,
    salt: str = "kpp",
) -> list[list[float]]:
    """kmeanspar_init over the caller's parsed (vec_id, v) relation,
    which it neither persists nor unpersists: Spark's CacheManager keeps
    one entry per plan, so unpersisting here would also drop the cache
    of a caller that persisted the same plan (ivf_train_centroids, whose
    Lloyd's iterations then re-read the parquet)."""
    import numpy as np

    if l is None:
        l = 2 * k
    first = v.orderBy("vec_id").limit(1).collect()[0]["v"]
    C = np.array([list(map(float, first))], dtype=np.float64)
    for r in range(rounds):

        def fused(batches, _C=C, _r=r):
            cn = (_C * _C).sum(1)
            phi = 0.0
            # rows under the running threshold: φ only grows, so every
            # row that passes the task's final threshold is held here
            held = [(np.zeros(0, np.int64), np.zeros((0, _C.shape[1])),
                     np.zeros(0), np.zeros(0))]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ _C.T) + cn[None, :]
                d2 = np.maximum(d2.min(1), 0.0)
                for _x in d2:  # left fold in row order
                    phi += float(_x)
                ids = pdf["vec_id"].to_numpy()
                # u = portable_hash60(f"{salt}:{r}:{id}") / 2^60
                us = np.array(
                    [portable_hash60_py(f"{salt}:{_r}:{i}") for i in ids]
                ) / float(1 << 60)
                # while φ is 0 every d² so far is 0: no such row is picked
                keep = us < l * d2 / phi if phi > 0 else np.zeros(len(ids), bool)
                held.append((ids[keep], X[keep], d2[keep], us[keep]))
            ids, X, d2, us = (np.concatenate(c) for c in zip(*held))
            keep = us < l * d2 / phi if phi > 0 else np.zeros(len(ids), bool)
            return (np.float64(phi),), (ids[keep], X[keep], d2[keep], us[keep])

        (phi,), cands = _task_partials(v, fused)
        if not phi or phi <= 0:
            break
        ids, X, d2, us = (np.concatenate(c) for c in zip(*cands))
        # the exact predicate with the exact φ; picks join C in vec_id order
        picked = np.flatnonzero(us < float(l) * d2 / float(phi))
        picked = picked[np.argsort(ids[picked], kind="stable")]
        C = np.vstack([C, X[picked]])
    if len(C) < k:  # degenerate corpus: top up with the first vectors
        extra = v.orderBy("vec_id").limit(k).collect()
        C = np.vstack([C] + [np.array(list(map(float, e["v"]))) for e in extra])[
            : max(k, len(C))
        ]

    # weight candidates by |points nearest to them| — one corpus pass
    def nearest(batches, _C=C):
        cn = (_C * _C).sum(1)
        w = np.zeros(len(_C), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ _C.T) + cn[None, :]
            w += np.bincount(d2.argmin(1), minlength=len(_C))
        return (w,), None

    (w,), _ = _task_partials(v, nearest)
    w = w.astype(np.float64)

    # greedy weighted k-means++ on the candidates (deterministic: argmax
    # of w·d² with lowest-index tie-break), then weighted Lloyd's
    chosen = [int(np.argmax(w))]
    d2c = ((C - C[chosen[0]]) ** 2).sum(1)
    while len(chosen) < k:
        gain = w * d2c
        gain[chosen] = -1.0
        nxt = int(np.argmax(gain))
        chosen.append(nxt)
        d2c = np.minimum(d2c, ((C - C[nxt]) ** 2).sum(1))
    M = C[chosen].copy()
    for _ in range(10):
        d2 = ((C[:, None, :] - M[None, :, :]) ** 2).sum(2)
        a = d2.argmin(1)
        for j in range(k):
            sel = a == j
            if w[sel].sum() > 0:
                M[j] = (C[sel] * w[sel, None]).sum(0) / w[sel].sum()
    return [[round(float(x), 6) for x in row] for row in M]


def sq8_recall(embeddings: DataFrame, k: int = P.ANN_K) -> DataFrame:
    """Recall@k of the SQ8 compressed index vs the exact scan — the
    ann_recall measurement-as-operator pattern applied to the quantized
    family, and (unlike PQ recall, pytest-only) fully SQL-oracled:
    compression loss is a nightly hash-gated metric. Both sides are the
    registered operators; the comparison joins two k·q-row outputs."""
    exact = ann_cosine_topk(embeddings, k=k).select("query_id", "neighbor_id")
    approx = (
        ann_sq8(embeddings, k=k)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr(
                "floor(n_hit / cast(n_exact as double) * 1e6 + 0.5) / 1e6"
            ).alias("recall_at_k"),
        )
    )


def ann_ivf_sq8(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    n_probes: int = P.IVF_PROBES,
) -> DataFrame:
    """Inverted file IN FRONT OF the SQ8 codes — the IVF+SQ layout
    (FAISS IndexIVFScalarQuantizer; Jégou et al. 2011 §IV's inverted
    file with a uniform quantizer in place of PQ) with a FULL SQL
    oracle: unlike ann_ivfpq (trained residual codebooks → rows-only),
    BOTH stages here are exactly reproducible — cells from the fixed
    literal coarse quantizer (ann_ivf's assignment) and codes from the
    min/max scalar quantizer (ann_sq8's encode). SQ8 quantizes ABSOLUTE
    coordinates (no residual), so the cell only restricts the scan; the
    ADC expression is ann_sq8's verbatim and scored volume drops to
    ≈ n_probes/n_cells of the corpus.

    The hash-green production ANN shape: partition-prunable cell key +
    4× compressed codes + broadcast probe join + partition-local top-k —
    every row of it value-hash-gated against DuckDB."""
    stats = sq8_stats(embeddings)
    cents = [list(map(float, c)) for c in P.IVF_CENTROIDS]
    enc = sq8_encode(embeddings, stats).withColumn(
        "dots", F.expr(_dots_expr_for(cents, "v"))
    )
    cell = (F.expr("array_position(dots, array_max(dots))") - 1).cast("int")
    # repartition barrier: see ann_sq8
    corpus = enc.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), "codes", cell.alias("cell")
    ).repartition("neighbor_id")
    queries = enc.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probed = _ivf_sq8_probe(queries, cents, n_probes)
    return _ivf_sq8_search(probed, corpus, stats, k)


def _ivf_sq8_probe(
    queries: DataFrame, cents: list[list[float]], n_probes: int
) -> DataFrame:
    """(query_id, qv, *extra) → (query_id, qv, *extra, cell): the
    nprobe best cells per query under the ROUNDED dot ranking — the
    same 6dp quantization the corpus assignment and the SQL oracle
    use, so the probe set is engine-stable (ties cannot flip in one
    engine only). Any extra query columns (e.g. the miner's qlbl)
    pass through.

    Row-local: each query sorts its own (−dot, cell) pairs and keeps
    the first nprobe — the order of a row_number over (dot DESC, cell)
    per query, without that window's shuffle. An exchange under the
    probe would keep dynamic partition pruning from reusing the
    kernel's broadcast of it, and a stored index's codes scan would
    then read every cell (IVFSQ8Serving)."""
    carry = [c for c in queries.columns if c not in ("query_id", "qv")]
    top = F.expr(
        f"slice(sort_array(transform({_dots_expr_for(cents, 'qv')}, "
        f"(d, i) -> struct(-d AS nd, i AS cell))), 1, {int(n_probes)})"
    )
    return queries.select(
        "query_id", "qv", *carry, F.explode(top).alias("p")
    ).select("query_id", "qv", *carry, F.col("p.cell").alias("cell"))


def _ivf_sq8_search(
    probed: DataFrame,
    codes: DataFrame,
    stats: list[tuple[float, float]],
    k: int = P.ANN_K,
    pair_filter=None,
    extra: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Shared IVF+SQ8 scoring kernel — the batch face (ann_ivf_sq8),
    the streaming server (streaming/serving.py:IVFSQ8Serving) and the
    cell-pruned hard-negative miner (mine_hard_negatives_ivfsq8) run
    THIS plan: probed (query_id, qv, cell) equi-joins the cell-keyed
    code table, the SQ8 reconstruction scores survivors, partial top-k
    prunes before the per-query window.

    ``pair_filter``/``extra`` (r12, the _sq8_search hooks): a per-pair
    predicate applied to the scored stream BEFORE the prune and extra
    (column, ddl) pairs carried through it — the miner's label gate
    rides the same cell-pruned kernel without a second index scan.

    r13: the ADC dot is the same UNROLLED fused decode+multiply sum as
    _sq8_search (whole-stage codegen; the HOF form evaluated
    interpreted per pair) — term arithmetic, order and the 6dp round
    unchanged, so scores are bit-identical."""
    corpus = codes.select(
        "neighbor_id",
        "codes",
        "cell",
        *[c for c, _ in (extra or []) if c in codes.columns],
    )
    scored = corpus.join(F.broadcast(probed), "cell").withColumn(
        "score_sq8", F.round(_sq8_dot_expr(stats), 6)
    ).drop("codes")
    if pair_filter is not None:
        scored = scored.where(pair_filter)
    pruned = _partial_topk(
        scored.withColumnRenamed("score_sq8", "cosine"), k, extra=extra
    ).withColumnRenamed("cosine", "score_sq8")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_sq8"), "neighbor_id"
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "score_sq8",
            *[c for c, _ in (extra or [])],
        )
    )


def mine_hard_negatives(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
) -> DataFrame:
    """Hard-negative mining — the contrastive-training data-prep step
    (in-batch negatives are mostly easy; retrieval-mined near-boundary
    negatives carry the gradient signal — Karpukhin et al. 2020 "Dense
    Passage Retrieval", Xiong et al. 2021 ANCE): for each probe vector
    (the first ``n_queries``), the k most-cosine-similar corpus
    vectors whose ``label`` DIFFERS from the probe's, ranked by
    similarity — one (query, hard negative) training pair per row.

    Plan shape = ann_cosine_topk's (broadcast probe set, ONE corpus
    scan, partition-local top-k prune before the per-query window) —
    the label-inequality filter cuts the scored stream BEFORE the
    prune, so same-label rows never compete for the k slots; the two
    label columns re-attach via q·k-sized joins (knn_label_accuracy's
    pattern, AQE broadcasts the tiny side). Nothing corpus-sized ever
    shuffles onto the query keys. At 100 TB the probe set is the
    training batch / anchor sample — broadcastable by construction."""
    base = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("lbl"),
    )
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("lbl").alias("qlbl"),
    )
    corpus = base.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("lbl").alias("nlbl"),
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("nlbl") != F.col("qlbl"))
        .withColumn("cosine", cos)
    )
    # labels ride through the prune (extra columns) — re-joining them
    # after the topk would cost two more corpus scans
    pruned = _partial_topk(
        scored, k, extra=[("qlbl", "int"), ("nlbl", "int")]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "cosine",
            F.col("qlbl").alias("query_label"),
            F.col("nlbl").alias("neighbor_label"),
        )
    )


def mine_triplets(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
) -> DataFrame:
    """Triplet assembly — the training artifact contrastive losses
    consume (anchor, positive, negative) with margins (Schroff et al.
    2015 FaceNet triplets; Karpukhin 2020 positives + hard negatives):
    per probe, the single most-similar SAME-label corpus vector (the
    retrieved positive) paired against each of the k most-similar
    OTHER-label vectors (the hard negatives), with
    margin = pos_cos − neg_cos (semi-hard/hard split is a filter on
    this column downstream).

    ONE corpus scan serves both sides: the scored stream keys the
    partition-local prune by query_id·2 + is_same_label, so positives
    and negatives prune in separate groups without a second scan or a
    cache; the final windows and the positive⋈negatives join run on
    q·k-sized tables. Probes lacking a same-label corpus vector drop
    (no positive → no triplet), mirroring the SQL inner join."""
    base = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("lbl"),
    )
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("lbl").alias("qlbl"),
    )
    corpus = base.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("lbl").alias("nlbl"),
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6)
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .withColumn("cosine", cos)
        .select(
            # composite prune key: positives and negatives occupy
            # separate top-k groups inside the SAME one-scan prune
            (
                F.col("qid") * 2
                + (F.col("nlbl") == F.col("qlbl")).cast("long")
            ).alias("query_id"),
            "neighbor_id",
            "cosine",
        )
    )
    pruned = _partial_topk(scored, k).select(
        F.floor(F.col("query_id") / 2).cast("long").alias("qid"),
        (F.col("query_id") % 2 == 1).alias("is_pos"),
        "neighbor_id",
        "cosine",
    )
    w = Window.partitionBy("qid", "is_pos").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    ranked = pruned.withColumn("rank", F.row_number().over(w))
    # branch-free positive attach: branching pos/neg off `ranked` would
    # re-execute the whole scored subplan per branch (no ReusedExchange
    # across a broadcast cross join — measured 8 FileScans); instead a
    # per-qid window max over the positive rows pins (pos_cos,
    # positive_id) onto every row of the SAME pass. max of
    # struct(cosine, -neighbor_id) = highest cosine, ties to the
    # smaller id — the row_number order expressed as one aggregate.
    wq = Window.partitionBy("qid")
    best_pos = F.max(
        F.when(
            F.col("is_pos"),
            F.struct(
                F.col("cosine").alias("c"),
                (-F.col("neighbor_id")).alias("negid"),
            ),
        )
    ).over(wq)
    return (
        ranked.withColumn("bp", best_pos)
        .where(
            (~F.col("is_pos"))
            & (F.col("rank") <= k)
            & F.col("bp").isNotNull()  # probes without a positive drop
        )
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            (-F.col("bp.negid")).alias("positive_id"),
            F.col("bp.c").alias("pos_cos"),
            F.col("neighbor_id").alias("negative_id"),
            F.col("cosine").alias("neg_cos"),
            F.round(F.col("bp.c") - F.col("cosine"), 6).alias("margin"),
        )
    )


def pca_train(
    embeddings: DataFrame, d_out: int = P.RP_DIM, whiten: bool = False
):
    """Train a PCA projection (mean, components, scales) from one
    corpus pass — the data-driven counterpart of embed_project's
    data-free JL signs (classic Pearson 1901 / Hotelling 1933; the
    whitening option is the preprocessing semdedup-style pipelines run
    before cosine work when dimensions are correlated).

    Distributed shape (the trained-model discipline): ONE _task_partials
    pass — each task sums its Arrow batches' moments (n, Σx, Σxxᵀ; numpy
    GEMM per batch) into one fixed-size partial, and the driver sums the
    task partials in content-sorted order (the rule and what it does
    and does not pin are in _task_partials' docstring), solves the d×d
    symmetric eigenproblem (d=64: microseconds), and fixes eigenvector
    sign deterministically (largest-|coordinate| positive). Nothing
    corpus-sized ever reaches the driver."""
    import numpy as np

    d_in = P.EMB_DIM

    def moments(batches):
        n, s, ss = 0, np.zeros(d_in), np.zeros((d_in, d_in))
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            n, s, ss = n + len(X), s + X.sum(axis=0), ss + X.T @ X
        return (np.int64(n), s, ss), None

    (n, s, ss), _ = _task_partials(
        _vecs(embeddings).where(F.col("v").isNotNull()).select("v"), moments
    )
    if n < 2:
        raise ValueError("pca_train needs at least 2 vectors")
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(evals)[::-1][:d_out]
    comps = evecs[:, order].T  # (d_out, d_in)
    evals = np.maximum(evals[order], 0.0)
    # deterministic sign gauge: largest-|coordinate| entry positive
    for j in range(comps.shape[0]):
        i = int(np.argmax(np.abs(comps[j])))
        if comps[j, i] < 0:
            comps[j] = -comps[j]
    scale = (
        1.0 / np.sqrt(evals + 1e-9) if whiten else np.ones(d_out)
    )
    return mean, comps, scale


def embed_pca(
    embeddings: DataFrame,
    d_out: int = P.RP_DIM,
    whiten: bool = False,
) -> DataFrame:
    """PCA projection of the embedding column: train (one moment pass +
    a driver-side d×d eigensolve, see pca_train) then project each
    vector onto the top components — (vec_id, proj array<double>),
    rounded half-up 6dp at the boundary like every embedding face.

    The projection applies as unrolled per-component literal sums
    (pca_projection_expr — embed_project's true-codegen shape; the r11
    HOF literal-matrix form evaluated interpreted per row and measured
    4× slower at 10×, PERF_NOTES r12) — whole-stage codegen, no
    shuffle, no Python in the projection pass. Rows-only face (the
    eigensolve is LAPACK, not SQL); planted-axes recovery is
    pytest-pinned."""
    mean, comps, scale = pca_train(embeddings, d_out=d_out, whiten=whiten)
    return _vecs(embeddings).select(
        "vec_id",
        F.expr(pca_projection_expr(mean, comps, scale)).alias("proj"),
    )


def embed_pca_rows(
    embeddings: DataFrame,
    d_out: int = P.RP_DIM,
    whiten: bool = False,
) -> DataFrame:
    """embed_pca's SCALAR-ROWS twin: (vec_id, component, value) — the
    driver-canon shape — emitted as 16 separate projection columns
    fed through stack() instead of posexplode over one array literal.

    Why (measured r14, PERF_NOTES): a single array(16 × 64-term)
    expression is ONE unsplittable expression tree — the generated
    processNext() exceeds the JVM's 64 KB method limit, janino compile
    FAILS ('Code grows beyond 64 KB'), and the whole stage runs
    interpreted; parse+analysis of the fused Generate plan adds
    another ~1.5 s per call. As 16 top-level select expressions each
    component is its own tree, CodegenContext.splitExpressions carves
    them into sub-methods, the stage compiles, and stack() over the
    materialized scalar columns is trivial codegen. Same arithmetic,
    same floor-6dp rounding, bit-identical rows: isolated best-of-3
    5.41 s → 2.09 s for the full face at sf0.1."""
    mean, comps, scale = pca_train(embeddings, d_out=d_out, whiten=whiten)
    cols = [
        f"{_pca_component_sql(mean, comps, scale, j)} AS c{j}"
        for j in range(comps.shape[0])
    ]
    stack = (
        f"stack({comps.shape[0]}, "
        + ", ".join(f"{j}, c{j}" for j in range(comps.shape[0]))
        + ") AS (component, value)"
    )
    return (
        _vecs(embeddings)
        .selectExpr("vec_id", *cols)
        .selectExpr("vec_id", stack)
    )


def _pca_component_sql(mean, comps, scale, j: int, vec_col: str = "v") -> str:
    """One projection component as SQL text — the shared arithmetic of
    pca_projection_expr (array form) and embed_pca_rows (scalar-column
    form): floor-6dp of the left-associative Σ_i w_ji·(v_i − m_i)."""
    d_in = comps.shape[1]
    s = " + ".join(
        f"({float(comps[j, i] * scale[j])!r}) * "
        f"(element_at({vec_col}, {i + 1}) - ({float(mean[i])!r}))"
        for i in range(d_in)
    )
    return f"floor(({s}) * 1e6 + 0.5) / 1e6"


def pca_projection_expr(mean, comps, scale, vec_col: str = "v") -> str:
    """The frozen PCA model compiled into one projection expression —
    the UNROLLED per-component sums (embed_project's true-codegen
    shape): each component j is the left-associative
    Σ_i w_ji·(v_i − m_i) over scalar literals, which whole-stage
    codegen compiles to straight-line arithmetic. The r11 HOF form
    (transform/zip_with/aggregate over one literal matrix) evaluated
    INTERPRETED per row — HigherOrderFunction expressions never enter
    generated code — and measured 4× slower on the projection pass at
    10× corpus (1.84 s vs 7.47 s; ~14× on the marginal per-row cost —
    PERF_NOTES r12); the unrolled sum is bit-identical to it (same
    multiply terms, same left-assoc order, 0D+t0 ≡ t0), so
    the switch is invisible to results. Row-local, shuffle-free,
    stateless — the trained model STREAMS: apply this expression to
    any micro-batch and the rows equal the batch operator's
    bit-for-bit (the nb_lang_id / DSIR frozen-model discipline;
    parity pinned in tests/test_streaming.py)."""
    cols = ", ".join(
        _pca_component_sql(mean, comps, scale, j, vec_col)
        for j in range(comps.shape[0])
    )
    return f"array({cols})"


def mine_hard_negatives_sq8(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
) -> DataFrame:
    """Hard-negative mining over the COMPRESSED corpus — the 100 TB
    path of mine_hard_negatives: the database side is the 8-bit SQ8
    reconstruction (4x fewer stored bytes; asymmetric distance, only
    the corpus quantized) and the label-inequality gate rides the
    shared ADC kernel's scored stream before the prune. Like ann_sq8
    (and unlike the trained-codebook PQ family) the quantizer is two
    exact order statistics per dimension, so the WHOLE miner stays
    SQL-expressible and hash-gated. Output mirrors mine_hard_negatives
    with the ADC score in place of the exact cosine."""
    stats = sq8_stats(embeddings)
    base = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("lbl"),
    )
    enc = base.select(
        "vec_id", "v", "lbl", _sq8_codes_expr(stats).alias("codes")
    )
    queries = enc.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("lbl").alias("qlbl"),
    )
    # repartition barrier: see ann_sq8
    codes = enc.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        "codes",
        F.col("lbl").alias("nlbl"),
    ).repartition("neighbor_id")
    out = _sq8_search(
        queries,
        codes,
        stats,
        k,
        pair_filter=F.col("nlbl") != F.col("qlbl"),
        extra=[("qlbl", "int"), ("nlbl", "int")],
    )
    return out.select(
        "query_id",
        "rank",
        "neighbor_id",
        "score_sq8",
        F.col("qlbl").alias("query_label"),
        F.col("nlbl").alias("neighbor_label"),
    )


def mine_hard_negatives_ivfsq8(
    embeddings: DataFrame,
    k: int = P.ANN_K,
    n_queries: int = P.ANN_N_QUERIES,
    n_probes: int = P.IVF_PROBES,
) -> DataFrame:
    """Hard-negative mining through the INVERTED FILE in front of the
    SQ8 codes — the true 100 TB mining path (r11 verdict #5): instead
    of flat-scanning all compressed codes per probe batch
    (mine_hard_negatives_sq8), each probe reads only its nprobe best
    coarse cells — the same cell restriction ann_ivf_sq8 is hash-green
    on — and the label-inequality gate rides the shared cell-pruned ADC
    kernel (_ivf_sq8_search's pair_filter hook) before the partial
    top-k prune. Against a STORED index (write_ivfsq8_index with
    labels) the cell key is a parquet partition column, so mining
    reads ≈ nprobe/n_cells of the index from disk — the plan
    IVFSQ8Serving already answers probe micro-batches with
    (mining parity + probed-cell containment pytest-pinned).

    Both quantizers are exactly reproducible (fixed literal coarse
    centroids + two order statistics per dimension), so the WHOLE
    cell-pruned miner is SQL-expressible and hash-gated. Output
    mirrors mine_hard_negatives_sq8; rows can differ from the flat
    miner exactly where a true hard negative lives outside the probed
    cells — the recall trade every IVF front makes."""
    stats = sq8_stats(embeddings)
    cents = [list(map(float, c)) for c in P.IVF_CENTROIDS]
    base = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("lbl"),
    )
    enc = base.select(
        "vec_id",
        "v",
        "lbl",
        _sq8_codes_expr(stats).alias("codes"),
        F.expr(_dots_expr_for(cents, "v")).alias("dots"),
    )
    cell = (F.expr("array_position(dots, array_max(dots))") - 1).cast("int")
    # repartition barrier: see ann_sq8
    corpus = enc.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        "codes",
        cell.alias("cell"),
        F.col("lbl").alias("nlbl"),
    ).repartition("neighbor_id")
    queries = enc.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("lbl").alias("qlbl"),
    )
    probed = _ivf_sq8_probe(queries, cents, n_probes)
    out = _ivf_sq8_search(
        probed,
        corpus,
        stats,
        k,
        pair_filter=F.col("nlbl") != F.col("qlbl"),
        extra=[("qlbl", "int"), ("nlbl", "int")],
    )
    return out.select(
        "query_id",
        "rank",
        "neighbor_id",
        "score_sq8",
        F.col("qlbl").alias("query_label"),
        F.col("nlbl").alias("neighbor_label"),
    )
