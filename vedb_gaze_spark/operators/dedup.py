"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

SURVEY §2.G: the training-data-pipeline dedup family, built on the
portable 60-bit md5 hash (functions/core.py) so every stage is
oracle-checkable bit-for-bit against DuckDB.

Scale design:
- exact dedup: one groupBy on the content hash (uniform keys).
- n-gram Jaccard: pair generation is blocked BY SHARED SHINGLE (only
  docs sharing at least one shingle ever meet), then one groupBy on the
  pair key. At 100 TB add a document-frequency cap on shingles (drop
  shingles appearing in >X% of docs) — noted inline.
- MinHash+LSH: signatures are 16 per-doc min-aggregates (map-side
  partials); candidates come from band-bucket self-joins (bucket keys are
  uniform by construction); only candidates are verified exactly.
- SimHash: 60 per-bit sign sums in ONE aggregation pass per doc.
"""

from __future__ import annotations

import logging
import math
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import (
    TOKENS_SQL,
    iter_checkpoint,
    portable_hash60,
    spread_scan_scatter,
)
from vedb_gaze_spark.operators.text import shingles
from vedb_gaze_spark.plans import params as P


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one surviving doc_id (the smallest)
    per distinct text, plus the group size."""
    return (
        documents.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _doc_sets(documents: DataFrame) -> DataFrame:
    """(doc_id, sorted array of 60-bit shingle hashes) — THE materialized
    form every dedup stage derives from. The md5 hashing pass over every
    shingle occurrence is the dominant scan cost (measured sf0.1: ~6 M
    md5s); building this table first and deriving the per-shingle stream,
    set sizes, document frequencies, AND verification sets from it means
    Catalyst reuses ONE exchange (ReusedExchange) instead of re-hashing
    the corpus once per consuming branch.

    The scatter spread (r14) parallelizes the md5 pass off a
    single-split scan WITHOUT removing this groupBy's exchange — the
    aligned spread_scan would satisfy the distribution, delete the
    exchange, and with it the reuse point every consumer shares
    (measured: dedup_minhash_lsh 6.2 s → 21 s aligned, 2.9 s scatter)."""
    return (
        shingles(spread_scan_scatter(documents, "doc_id"))
        .select("doc_id", portable_hash60("sh").alias("sh"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("sh")).alias("s"))
    )


def _exact_jaccard(sa: np.ndarray, sb: np.ndarray) -> float:
    """Exact Jaccard of two SORTED int64 shingle arrays — the one score
    every near-dup verify uses (_verify_jaccard, _verify_jaccard_grid,
    streaming/stateful.py:_make_minhash_lsh_fn).

    |A∩B| comes from a numpy searchsorted merge of the smaller array
    into the larger. Why not per-row JVM array_intersect: it rebuilds a
    hash set per pair (measured sf0.1: ~45 s for 9.7 M candidates vs
    ~8 s for the numpy merge). Rounding is floor(x·1e6+0.5)/1e6 —
    HALF_UP for non-negative x, matching both engines' round() on these
    values (1/128 → 0.007813, where Python's and numpy's half-to-even
    round give 0.007812)."""
    if len(sa) > len(sb):
        sa, sb = sb, sa
    pos = np.searchsorted(sb, sa)
    ok = pos < len(sb)
    inter = int(np.count_nonzero(sb[pos[ok]] == sa[ok]))
    return math.floor(inter / (len(sa) + len(sb) - inter) * 1e6 + 0.5) / 1e6


def _verify_jaccard(pairs: DataFrame, doc_sets: DataFrame) -> DataFrame:
    """Exact Jaccard for the given candidate (doc_a < doc_b) pairs — the
    equi-join verify form, used by dedup_minhash_lsh and
    dedup_minhash_incremental at their tens-of-thousands candidate
    volumes.

    Plain equi-joins (no hints, no driver state): each pair joins its two
    per-doc SORTED shingle arrays (doc_sets = _doc_sets output) on
    doc_id, then _exact_jaccard scores each joined row inside
    mapInPandas. The doc-set side shards by doc_id at any corpus size,
    so a doc_id-bucketed doc-set table is probed without exchanging it;
    AQE still picks a broadcast-hash join when the side is genuinely
    small (it is at sf0.1), so small-scale speed is free rather than
    hard-coded. Why not a row-per-shingle join: |pairs|·|doc set| rows —
    measured 2×10⁹ intermediates / 435 s."""
    a = doc_sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("set_a"))
    b = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("set_b"))
    joined = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "set_a", "set_b")
    )
    thr = P.JACCARD_THRESHOLD

    def run(batches):
        import pandas as pd

        for pdf in batches:
            jac = np.fromiter(
                (
                    _exact_jaccard(
                        np.asarray(sa, dtype=np.int64), np.asarray(sb, dtype=np.int64)
                    )
                    for sa, sb in zip(pdf["set_a"], pdf["set_b"])
                ),
                dtype=np.float64,
                count=len(pdf),
            )
            keep = jac >= thr
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"].to_numpy()[keep],
                    "doc_b": pdf["doc_b"].to_numpy()[keep],
                    "jaccard": jac[keep],
                }
            )

    return joined.mapInPandas(run, "doc_a bigint, doc_b bigint, jaccard double")


def _prefix_shingles(
    doc_sets: DataFrame, threshold: float, df_cap: int | None = None
) -> DataFrame:
    """PPJoin prefix filtering (Xiao et al. 2008): under a global
    (document-frequency, shingle) ordering, any pair with Jaccard ≥ t
    shares at least one of each doc's n − ceil(t·n) + 1 RAREST shingles.
    Joining prefixes instead of full sets is exact (no recall loss) and
    kills quadratic fanout on ubiquitous shingles: boilerplate present in
    most docs lands in nobody's prefix, so the hottest join keys are
    bounded by true near-dup cluster sizes, not corpus size.

    Derives the per-shingle stream AND set sizes from the doc-set table
    (size(s) is free; explode(s) re-reads the same exchange), so the
    corpus-hashing scan behind _doc_sets runs once for the whole query.
    Keeps (rnk, n_sh) — the shingle's position in the global order within
    its doc and the doc's set size — so candidate generation can apply
    the positional and size filters on top of the prefix filter.

    With ``df_cap`` set, shingles whose document frequency exceeds the
    cap are dropped from the candidate-generation universe (stop-shingle
    removal): per-doc sizes, ranks, and every downstream filter then
    operate on the capped vocabulary, and verification still scores
    EXACT Jaccard over full sets. Pairs similar only through ubiquitous
    shingles are missed — the documented trade that removes the df²
    fanout term on repetitive corpora (measured: a 10× copy-corpus
    whose exact run is superlinear drops back to near-linear; see
    PERF_NOTES). Default None = fully exact."""
    from pyspark.sql import Window

    if df_cap is None:
        sh = doc_sets.select(
            "doc_id", F.size("s").alias("n_sh"), F.explode("s").alias("sh")
        )
        dfs = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(dfs, "sh")
    else:
        sh = doc_sets.select("doc_id", F.explode("s").alias("sh"))
        dfs = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        sh = (
            sh.join(dfs, "sh")
            .where(F.col("df") <= df_cap)
            .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        )
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    return (
        sh.withColumn("rnk", F.row_number().over(w))
        .where(
            F.col("rnk")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("doc_id", "sh", "rnk", "n_sh")
    )


def _candidate_pairs(pre: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs from the prefix self-join, pruned
    by the remaining exact PPJoin filters before any verification work:

    - size filter: J(A,B) ≤ min(n_a,n_b)/max(n_a,n_b), so J ≥ t needs
      t·n_a ≤ n_b ≤ n_a/t;
    - suffix-count bound (positional filter taken to the LAST prefix
      match): per-doc ranks are consistent with the ONE global
      (document-frequency, shingle) order, so any common shingle globally
      before the last prefix match m* would sit inside BOTH prefixes and
      be counted among the c prefix matches; every uncounted common
      shingle therefore lies after m* in both docs, giving
      |A∩B| ≤ c + min(n_a − max_ra, n_b − max_rb). This subsumes the
      first-match form 1 + min(n_a − min_ra, n_b − min_rb) (the c matches
      occupy c distinct ranks between min and max, so the new bound is
      never looser) and cuts candidates harder when prefixes share
      several shingles but the suffix remainder can't reach
      α = ceil(t/(1+t)·(n_a+n_b)).

    All exact (no recall loss) and computed inside the same groupBy the
    old .distinct() already paid for — the verify stage then joins arrays
    only for pairs that survive."""
    sa = pre.select(
        F.col("doc_id").alias("doc_a"), "sh",
        F.col("rnk").alias("rnk_a"), F.col("n_sh").alias("n_a"),
    )
    sb = pre.select(
        F.col("doc_id").alias("doc_b"), "sh",
        F.col("rnk").alias("rnk_b"), F.col("n_sh").alias("n_b"),
    )
    t = F.lit(threshold)
    alpha = F.ceil(t / (1.0 + t) * (F.col("n_a") + F.col("n_b")))
    ubound = F.col("c") + F.least(
        F.col("n_a") - F.col("max_ra"), F.col("n_b") - F.col("max_rb")
    )
    # size filter applied per JOINED ROW, before the pair groupBy — it is
    # pair-level (invariant under the aggregation), so filtering here is
    # identical but cuts the shuffle feeding the groupBy; this is where
    # PPJoin's length filter sits in the index probe too
    return (
        sa.join(sb, "sh")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_b") >= t * F.col("n_a"))
            & (F.col("n_a") >= t * F.col("n_b"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("rnk_a").alias("max_ra"),
            F.max("rnk_b").alias("max_rb"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .where(ubound >= alpha)
        .select("doc_a", "doc_b")
    )


def _verify_grid_size(
    spark, n_docs: int | None = None, target_cell_docs: int = 20_000
) -> int:
    """Derive the verify grid side G = A = B so per-cell doc-set payload
    stays BOUNDED as corpus and cluster grow, instead of a fixed default:

    - cluster floor: A·B cells should cover the configured reduce
      parallelism, so G ≥ ceil(sqrt(spark.sql.shuffle.partitions)) — a
      1000-executor cluster gets a finer grid for free;
    - memory ceiling: each cell materializes ~(n/A + n/B) = 2n/G doc
      sets in one Python cogroup, so G ≥ ceil(2·n_docs /
      target_cell_docs) keeps that payload ≤ target_cell_docs sets
      (~32 MB at the observed ~1.6 KB/set) no matter the corpus size.

    The max of the two bounds wins; replication cost grows only as
    O(sqrt(cells)), so oversizing is cheap while undersizing is an
    executor OOM at 100×."""
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    g = math.ceil(math.sqrt(max(par, 1)))
    if n_docs:
        g = max(g, math.ceil(2 * n_docs / target_cell_docs))
    return max(g, 1)


def _verify_jaccard_grid(
    pairs: DataFrame, doc_sets: DataFrame, n_docs: int
) -> DataFrame:
    """Exact Jaccard verify for HIGH candidate volumes — block-replicated
    cogroup, no driver state; the verify form of dedup_ngram_jaccard.

    The equi-join form (_verify_jaccard) ships BOTH doc-set arrays per
    pair: |pairs|·2·|set| bytes (measured sf0.1: 3 M candidates × ~1.6 KB
    arrays ≈ 10 GB through shuffle+Arrow, ~130 s). Here pairs shuffle
    once as bare ids onto an (A×B) grid cell — cell = (hash(doc_a)%A,
    hash(doc_b)%B) — and each doc's sorted array ships A+B times with a
    role tag, INDEPENDENT of pair count: |pairs|·16 B + |sets|·(A+B).
    Inside each of the A·B cogroup cells a dict of that cell's sets
    rebuilds locally and _exact_jaccard scores the cell's pairs. A and B
    are DERIVED (_verify_grid_size) from the configured parallelism and
    the corpus size ``n_docs`` so cell payload is bounded at any scale
    (cells are uniform by construction); this is the classic
    block-nested replication join."""
    import pandas as pd

    A = B = _verify_grid_size(pairs.sparkSession, n_docs)
    thr = P.JACCARD_THRESHOLD
    pk = pairs.select(
        "doc_a",
        "doc_b",
        F.pmod(F.hash("doc_a"), A).alias("ga"),
        F.pmod(F.hash("doc_b"), B).alias("gb"),
    )
    ds = doc_sets
    ra = ds.select(
        "doc_id", "s", F.lit(0).alias("role"),
        F.pmod(F.hash("doc_id"), A).alias("ga"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("gb"),
    )
    rb = ds.select(
        "doc_id", "s", F.lit(1).alias("role"),
        F.explode(F.sequence(F.lit(0), F.lit(A - 1))).alias("ga"),
        F.pmod(F.hash("doc_id"), B).alias("gb"),
    )
    sets = ra.unionByName(rb, allowMissingColumns=False).select(
        "ga", "gb", "doc_id", "s", "role"
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(
                {"doc_a": pd.Series(dtype="int64"),
                 "doc_b": pd.Series(dtype="int64"),
                 "jaccard": pd.Series(dtype="float64")}
            )
        da: dict = {}
        db: dict = {}
        for doc, s, role in zip(right["doc_id"], right["s"], right["role"]):
            (da if role == 0 else db)[doc] = np.asarray(s, dtype=np.int64)
        aa = left["doc_a"].to_numpy()
        bb = left["doc_b"].to_numpy()
        jac = np.fromiter(
            (_exact_jaccard(da[a], db[b]) for a, b in zip(aa, bb)),
            dtype=np.float64,
            count=len(aa),
        )
        keep = jac >= thr
        return pd.DataFrame(
            {"doc_a": aa[keep], "doc_b": bb[keep], "jaccard": jac[keep]}
        )

    return (
        pk.groupby("ga", "gb")
        .cogroup(sets.groupby("ga", "gb"))
        .applyInPandas(fn, "doc_a bigint, doc_b bigint, jaccard double")
    )


def dedup_ngram_jaccard(
    documents: DataFrame,
    df_cap_frac: float | None = None,
    doc_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs. Candidate generation uses
    PPJoin prefix + positional + size filtering (_prefix_shingles /
    _candidate_pairs) — docs only pair through their rarest shingles and
    provably-infeasible pairs are dropped before any set is touched —
    then verification scores FULL shingle sets. Identical output to the
    naive shared-shingle blocking (measured sf0.1: 256 pairs both ways;
    ~450 s naive vs ~20 s here), exact by the PPJoin filter theorems.

    Verification is the grid form (_verify_jaccard_grid): no driver-side
    state at any corpus size, and doc sets replicate A+B× instead of
    per pair — the winner at this operator's hundreds-of-thousands to
    millions of candidates (measured sf0.1, 532,857 candidates,
    local[4], 8 alternating rounds: median 10.4 s grid vs 13.4 s
    equi-join; PERF_NOTES "One exact-Jaccard scorer"). Every stage derives from ONE _doc_sets
    exchange (ReusedExchange), so the corpus is md5-hashed exactly once.

    ``df_cap_frac`` (e.g. 0.02) enables stop-shingle removal in candidate
    generation — the repetitive-corpus escape hatch for the exact
    family's df² fanout (see _prefix_shingles); verification stays exact
    on full sets. None (default) = no cap, fully exact.

    ``doc_sets``: a precomputed _doc_sets relation — pass
    `spark.table(...)` over a table persisted bucketed by doc_id
    (sources/bucketing.py:write_doc_sets_bucketed) and every rerun skips
    the corpus hash: no shingling, no md5 pass and no doc_id exchange to
    build the sets (the nightly-rerun shape at 100 TB; plan-pinned in
    tests/test_plans.py). The grid verify still shuffles each doc set
    onto its A+B cells, so here bucketing does not make the verify
    exchange-free on the doc-set side; that holds for the equi-join
    verify of dedup_minhash_lsh and dedup_minhash_incremental."""
    ds = _doc_sets(documents) if doc_sets is None else doc_sets
    # one zero-column metadata count (still a Spark job): it sizes the
    # verify grid and, when set, the df cap
    n_docs = (documents if doc_sets is None else doc_sets).count()
    df_cap = None
    if df_cap_frac is not None:
        df_cap = max(2, math.ceil(df_cap_frac * n_docs))
    pre = _prefix_shingles(ds, P.JACCARD_THRESHOLD, df_cap=df_cap)
    pairs = _candidate_pairs(pre, P.JACCARD_THRESHOLD)
    return _verify_jaccard_grid(pairs, ds, n_docs)


def _minhash_signatures(doc_sets: DataFrame) -> DataFrame:
    """Signatures as pure ARRAY expressions over the doc-set table: each
    permutation's min is array_min(transform(s, ...)) — no aggregation at
    all (min over the distinct set equals min over occurrences), so the
    only shuffle in the whole signature path is _doc_sets' groupBy, which
    verification reuses (ReusedExchange)."""
    prime = P.MINHASH_PRIME
    exprs = [
        F.expr(
            f"array_min(transform(s, x -> ({a} * (x % {prime}) + {b}) % {prime}))"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(P.MINHASH_AB)
    ]
    return doc_sets.select("doc_id", *exprs)



def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows: all bands from ONE projection, exploded
    JVM-side (see dedup_minhash_lsh's plan note — the union-of-selects
    form re-evaluates the signature expressions per branch)."""
    rows = P.MINHASH_PERMS // P.MINHASH_BANDS
    key_arr = F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows + r}") for r in range(rows)],
            )
            for b in range(P.MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(key_arr).alias("band_key"))


def dedup_minhash_lsh(
    documents: DataFrame, doc_sets: DataFrame | None = None
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified exactly.

    16 permutations → 4 bands × 4 rows; docs sharing any band bucket are
    candidates; candidates get an exact Jaccard pass. Identical output to
    dedup_ngram_jaccard when LSH recall is 1 at the threshold — by very
    different (index-shaped) physical plans.

    The signature path has NO aggregation of its own: permutation minima
    are array expressions over _doc_sets (min over the distinct set
    equals min over occurrences), and the verify stage reuses the same
    exchange — the corpus is hashed and shuffled exactly once.

    ``doc_sets``: a precomputed _doc_sets relation (see
    dedup_ngram_jaccard) — with a doc_id-bucketed table, reruns skip the
    corpus hash entirely and the verify probes never shuffle the
    doc-set side.
    """
    ds = _doc_sets(documents) if doc_sets is None else doc_sets
    sig = _minhash_signatures(ds)
    rows = P.MINHASH_PERMS // P.MINHASH_BANDS
    # ALL band keys in one projection, exploded JVM-side — not a 4-way
    # union of per-band selects: the union form re-evaluated the 16
    # array_min(transform) signature expressions once per branch per
    # join side (up to 8× the corpus hash work, measured ~5 s of the
    # query's 7.4 s at sf0.1). Exploding from one projection computes
    # them once, and the band self-join's shuffle sits AFTER the key
    # computation so both sides reuse ONE exchange (ReusedExchange,
    # test-pinned).
    e = _band_keys(sig)
    ba = e.select(F.col("doc_id").alias("doc_a"), "band_key")
    bb = e.select(F.col("doc_id").alias("doc_b"), "band_key")
    cand = (
        ba.join(bb, "band_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(cand, ds)


def dedup_simhash(documents: DataFrame) -> DataFrame:
    """SimHash document fingerprints: per token-occurrence hash, each of
    the 60 hash bits votes ±1; the sign vector packs back into a 60-bit
    signature. One explode + one aggregation; exact-signature groups are
    the dedup buckets (banding the signature handles near-misses at
    scale)."""
    toks = documents.select(
        "doc_id",
        F.explode(F.expr(TOKENS_SQL)).alias("tok"),
    ).withColumn("h", portable_hash60("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(P.SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    simhash = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long")),
        range(P.SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return sums.select("doc_id", simhash.alias("simhash"))


def _cc_alternating(edges: DataFrame, ckpt) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): converges to a star
    forest — every non-minimum node directly edged to its component's
    minimum — in O(log n) alternations on ANY graph, including the long
    paths that starve min-label propagation. Guaranteed-convergence
    fallback for `dedup_clusters`; returns (doc_id, label).

    Per round, both stars are one window over a hash-sharded node key
    (no groupBy+join-back):
      large-star: every neighbor v > u re-edges to min(Γ(u) ∪ {u});
      small-star: every neighbor v ≤ u re-edges to min(Γ(u) ∪ {u}),
    computed on edges oriented high→low so only the smaller side moves.
    The edge set shrinks toward the forest; convergence is an exact
    set-equality check (count + exceptAll), not a hash heuristic.
    """
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    # canonical oriented edge set: (hi, lo), hi > lo, distinct
    e = ckpt(
        edges.where(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("hi"), F.col("dst").alias("lo"))
        .distinct()
    )
    w_u = Window.partitionBy("u")
    # star forests have ≤ n-1 edges and the paper bounds rounds by
    # O(log n); 60 covers any n this universe can hold (2^60 nodes).
    for _ in range(60):
        adj = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = F.least(F.min("v").over(w_u), F.col("u"))
        large = (
            adj.withColumn("m", m)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star on the large-star output (already oriented hi>lo)
        mm = F.min("lo").over(Window.partitionBy("hi"))
        with_min = large.withColumn("m", mm)
        small = (
            with_min.where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(with_min.select("hi", F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        new_e = ckpt(small, eager=True)
        if new_e.count() == e.count() and new_e.exceptAll(e).count() == 0:
            e = new_e
            break
        e = new_e
    centers = e.groupBy(F.col("hi").alias("doc_id")).agg(F.min("lo").alias("ctr"))
    return nodes.join(centers, "doc_id", "left").select(
        "doc_id", F.coalesce("ctr", F.col("doc_id")).alias("label")
    )


def dedup_clusters(
    documents: DataFrame, pairs: DataFrame | None = None, max_iters: int = 50
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc that
    appears in a verified pair, labeled with its component's minimum
    doc_id (`cluster_id`) plus the component size — the step that turns
    pairwise dedup output into actionable duplicate GROUPS.

    Pairs default to dedup_minhash_lsh (the scale path); any
    (doc_a, doc_b) relation plugs in.

    Algorithm: distributed min-label propagation, seeded. The init
    aggregation already assigns label = min(self ∪ neighbors) — the
    identity init's first round for free in the one shuffle the init
    pays anyway — then each round every node takes min(own label,
    neighbors' labels): two equi shuffles on doc_id-uniform keys per
    round, lineage truncated per round, and the only driver state is
    the scalar changed-row count (the Lloyd's-loop pattern
    ann_ivf_trained established). Labels move one hop per round, so
    rounds after the seed = the min-label node's eccentricity − 1 (plus
    one confirming round); near-dup
    components are stars/quasi-cliques around a common source
    (eccentricity 1-3 measured here), which makes propagation CHEAPER
    than the O(log n)-round large-star/small-star alternation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014)
    that only pays off on adversarial long-path graphs. If the budget is
    exhausted before convergence (a component stretching further than
    max_iters hops from its minimum), the result would be silently split
    clusters — so this NEVER returns partial labels: it logs a warning
    and re-solves with `_cc_alternating`, which converges on any graph.
    At 100 TB the input is LSH-verified pairs — orders of magnitude
    smaller than the corpus — and every step shards by doc_id.
    """
    if pairs is None:
        pairs = dedup_minhash_lsh(documents).select("doc_a", "doc_b")
    labels = _cc_labels(pairs, max_iters)
    # component size as ONE window over label (labels are checkpointed,
    # so this is a single pair-graph-sized shuffle), not a groupBy +
    # join back — same rows, one fewer aggregate and no join exchange
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .cast("int")
        .alias("cluster_size"),
    )


CC_BLOCK_CAP = 8


def _cc_labels(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """(doc_id, label) connected-component minima over a (doc_a, doc_b)
    pair relation — the solver under dedup_clusters, semdedup and the
    contracted graph of dedup_clusters_incremental. See dedup_clusters
    for the algorithm notes.

    r15 job-floor amortization (guide §2.6/§5; VERDICT r14 #1): the
    solver's cost at bench scale is SEQUENTIAL SMALL JOBS, not data —
    one count job per propagation round (semdedup's chain-shaped graph
    ran 14 of them at ~0.5 s each). Two structural changes, identical
    labels:

    1. SELF-LOOP rounds — the symmetrized edge list carries (a,a)/(b,b)
       self-loops, so one propagation round is a single
       join-on-dst + groupBy(src).min: min over Γ(u) ∪ {u} ≡
       least(old_label, min over neighbors). That references the
       previous round's labels exactly ONCE (the old form referenced
       them twice: the neighbor join AND the join-back), so the plan of
       a chained block grows LINEARLY in rounds — no per-round
       checkpoint needed for either correctness or plan size — and each
       round is one join + one aggregation instead of two joins + one.
       The previous round's own label rides out of the same aggregation
       as min(nl) over the self-loop rows, which is what the
       convergence flag compares against.

    2. K-ROUNDS-PER-ACTION with a doubling schedule (1, 2, 4, 8, 8, …
       capped at CC_BLOCK_CAP and at the remaining max_iters budget):
       only the LAST round of a block computes the chg flag, and one
       count job materializes the whole block. chg = 0 at ANY round is
       a fixpoint (labels are monotone non-increasing and a no-change
       round reproduces itself), so post-convergence rounds inside a
       block are identity maps and the block's last-round flag is a
       sound convergence test; the only waste is ≤ CC_BLOCK_CAP − 1
       no-op rounds executed inside the final action. semdedup's
       14-round graph: 14 count jobs → 5 block jobs.
    """
    # Symmetrize with ONE explode, not a self-union: the union's two
    # branches re-evaluated the whole upstream pair plan (the LSH
    # pipeline — 8 FileScans, zero ReusedExchange measured) before the
    # persist could help, doubling the query's CPU for identical
    # output. The explode scans the pair plan once by construction.
    # The (a,a)/(b,b) self-loops double the edge rows (pair-graph-sized
    # — tiny next to the corpus) and are what let one aggregation
    # compute min(self ∪ neighbors) per round.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"),
                        F.col("doc_a").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_a").alias("src"),
                        F.col("doc_a").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"),
                        F.col("doc_b").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    # iter_checkpoint: reliable when the session has a checkpoint dir,
    # local otherwise (functions/core.py — shared by every iterative spine)
    ckpt = iter_checkpoint

    # Seeded init: label = min(self ∪ neighbors) in ONE aggregation over
    # the self-looped edge list — algebraically identical to the
    # identity init plus the first propagation round, at the cost of the
    # single shuffle the old `distinct` init paid. Star/clique
    # components — the measured shape of near-dup clusters — are CORRECT
    # after the seed. Not checkpointed: block 1 references it once and
    # the block checkpoint truncates the plan right after.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .withColumnRenamed("src", "doc_id")
    )
    changed = -1  # -1 = loop never ran (max_iters < 1): treat as unconverged
    done = 0
    step = 1
    while done < max_iters:
        k = min(step, max_iters - done)
        cur = labels
        for j in range(k):
            last = j == k - 1
            joined = edges.join(
                cur.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            aggs = [F.min("nl").alias("label")]
            if last:
                # the self-loop row's nl IS this node's previous label —
                # the convergence comparand, out of the same aggregation
                aggs.append(
                    F.min(
                        F.when(F.col("dst") == F.col("src"), F.col("nl"))
                    ).alias("old")
                )
            cur = joined.groupBy("src").agg(*aggs).withColumnRenamed(
                "src", "doc_id"
            )
        # checkpoint once per BLOCK: truncates the (linear) intra-block
        # lineage; the chg flag rides in the same pass and the
        # checkpoint is lazy, so the convergence count below is the one
        # job that both materializes the block and tests it.
        cur = ckpt(
            cur.select(
                "doc_id",
                "label",
                (F.col("label") < F.col("old")).alias("chg"),
            ),
            eager=False,
        )
        changed = cur.where("chg").count()
        labels = cur.drop("chg")
        done += k
        if changed == 0:
            break
        step = min(step * 2, CC_BLOCK_CAP)
    if changed != 0:
        # Budget exhausted with labels still moving: some component's
        # minimum sits more than max_iters hops from a member, and the
        # partial labels would split that cluster. Never return them —
        # re-solve with the O(log n)-round alternation instead.
        logging.getLogger(__name__).warning(
            "dedup_clusters: min-label propagation did not converge in "
            "%d rounds (%d labels still changing); falling back to "
            "large-star/small-star alternation",
            max_iters,
            changed,
        )
        labels = _cc_alternating(edges, ckpt)
    edges.unpersist()
    return labels


def dedup_clusters_incremental(
    stored_clusters: DataFrame, new_pairs: DataFrame, max_iters: int = 50
) -> DataFrame:
    """Incremental cluster maintenance — the step after
    dedup_minhash_incremental in the nightly-append story: given the
    STORED (doc_id, cluster_id[, cluster_size]) assignment of the
    existing corpus and the new batch's verified pairs, produce the
    full updated assignment WITHOUT re-solving the whole graph.

    Exactness argument: within a stored cluster every member is already
    connected to its representative (the cluster minimum), so the
    stored assignment is a star certificate. Contracting each new
    pair's endpoints to their representatives (identity for unlabeled
    new docs) preserves the component structure of old∪new, and a
    component's minimum is preserved too — a cluster_id IS the minimum
    of its members. Solving connected components on the CONTRACTED
    graph (O(new pairs), not O(all pairs)) therefore yields exactly
    the labels the full recompute would: new pairs either bridge
    existing clusters (their reps share a new label = min of the merged
    ids), attach new docs to one, or mint new-only clusters.
    Test-pinned: clusters(pairs_old ∪ pairs_new) ≡
    incremental(clusters(pairs_old), pairs_new) on bridge / new-only /
    disjoint cases.

    Scale shape: the iterative solver touches only the contracted
    graph. Every join against batch-derived tables (contracted-node
    remap, affected sizes, new-doc labels) broadcasts the BATCH side;
    the stored assignment is read in map passes only — it is never
    shuffled and never broadcast. Sizes are patched incrementally: only
    clusters the batch touches get a recomputed size (from the stored
    per-cluster size plus attached-doc counts — cluster-cardinality
    arithmetic, not doc recounts); untouched rows keep their stored
    cluster_size byte-for-byte. ``stored_clusters`` should carry
    cluster_size (dedup_clusters emits it); without it, untouched rows
    would need a corpus-wide recount — refuse rather than silently
    de-scale."""
    remap, affected_sizes, new_out = _clusters_incremental_parts(
        stored_clusters, new_pairs, max_iters
    )
    updated_old = apply_cluster_patch(stored_clusters, remap, affected_sizes)
    return updated_old.unionByName(new_out)


def _clusters_incremental_parts(
    stored_clusters: DataFrame, new_pairs: DataFrame, max_iters: int = 50
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The batch-sized PATCH TABLES behind dedup_clusters_incremental,
    exposed so a bucketed store can apply them to affected buckets only
    (streaming/maintenance.py): ``remap`` (old cluster_id → new_label,
    one row per affected stored cluster — identity rows included, since
    an attach changes size without changing the label), ``affected_sizes``
    (new_label → patched size), ``new_out`` (full rows for genuinely-new
    docs). All three are O(batch); dedup_clusters_incremental is exactly
    apply_cluster_patch(stored) ∪ new_out."""
    if "cluster_size" not in stored_clusters.columns:
        raise ValueError(
            "dedup_clusters_incremental needs the stored cluster_size "
            "column (dedup_clusters emits it); recounting sizes would "
            "shuffle the whole stored assignment"
        )
    reps = stored_clusters.select("doc_id", "cluster_id")
    joined = (
        new_pairs.select("doc_a", "doc_b")
        .join(
            reps.select(
                F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("rep_a")
            ),
            "doc_a",
            "left",
        )
        .join(
            reps.select(
                F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("rep_b")
            ),
            "doc_b",
            "left",
        )
    )
    contracted = (
        joined.select(
            F.coalesce("rep_a", F.col("doc_a")).alias("doc_a"),
            F.coalesce("rep_b", F.col("doc_b")).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    # genuinely-new doc ids = pair endpoints with no stored assignment
    new_nodes = (
        joined.select(
            F.explode(
                F.array(
                    F.when(F.col("rep_a").isNull(), F.col("doc_a")),
                    F.when(F.col("rep_b").isNull(), F.col("doc_b")),
                )
            ).alias("doc_id")
        )
        .where(F.col("doc_id").isNotNull())
        .distinct()
    )
    # (node → new label) over the contracted graph; nodes are affected
    # stored representatives and genuinely-new doc ids — batch-sized
    moved = _cc_labels(contracted, max_iters)
    new_docs = moved.join(F.broadcast(new_nodes), "doc_id").select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    remap = moved.join(F.broadcast(new_nodes), "doc_id", "left_anti").select(
        F.col("doc_id").alias("cluster_id"), F.col("label").alias("new_label")
    )
    # affected sizes: stored sizes of remapped clusters re-keyed to the
    # new label, plus newly attached docs — all batch-sized tables. The
    # stored per-cluster size is read off the remapped rows themselves
    # (cluster_size is constant within a cluster), so no corpus rollup.
    affected_old = (
        stored_clusters.select("cluster_id", "cluster_size")
        .join(F.broadcast(remap), "cluster_id")
        .distinct()  # per-doc rows → one (cluster, size, label) row each
        .groupBy("new_label")
        .agg(F.sum("cluster_size").cast("long").alias("n"))
    )
    added_new = new_docs.groupBy(F.col("cluster_id").alias("new_label")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    affected_sizes = (
        affected_old.unionByName(added_new)
        .groupBy("new_label")
        .agg(F.sum("n").cast("int").alias("new_size"))
    )
    new_out = new_docs.join(
        F.broadcast(affected_sizes.withColumnRenamed("new_label", "cluster_id")),
        "cluster_id",
    ).select("doc_id", "cluster_id", F.col("new_size").cast("int").alias("cluster_size"))
    return remap, affected_sizes, new_out


def apply_cluster_patch(
    stored_subset: DataFrame, remap: DataFrame, affected_sizes: DataFrame
) -> DataFrame:
    """One map pass over stored assignment rows: relabel + size patch
    via two broadcast left joins; untouched rows keep stored values
    byte-for-byte. ``stored_subset`` may be any subset of the stored
    assignment (a single hash bucket in the partition-pruned store) —
    the patch tables key on cluster_id/new label only, so restricting
    the pass to affected buckets is exact."""
    return (
        stored_subset.select("doc_id", "cluster_id", "cluster_size")
        .join(F.broadcast(remap), "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce("new_label", F.col("cluster_id")).alias("cluster_id"),
            "cluster_size",
        )
        .join(
            F.broadcast(
                affected_sizes.withColumnRenamed("new_label", "cluster_id")
            ),
            "cluster_id",
            "left",
        )
        .select(
            "doc_id",
            "cluster_id",
            F.coalesce("new_size", F.col("cluster_size"))
            .cast("int")
            .alias("cluster_size"),
        )
    )


def dedup_prune(documents: DataFrame, clusters: DataFrame | None = None) -> DataFrame:
    """Corpus compaction — the end-to-end 'dedup the training set' step:
    keep every doc that is either in no near-dup cluster ('unique') or is
    its cluster's canonical representative, the minimum doc_id
    ('canonical'). One left join of the corpus against the (tiny) cluster
    assignment; at 100 TB the cluster table broadcasts."""
    if clusters is None:
        clusters = dedup_clusters(documents)
    lab = clusters.select("doc_id", "cluster_id")
    return (
        documents.select("doc_id")
        .join(lab, "doc_id", "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select(
            "doc_id",
            F.when(F.col("cluster_id").isNull(), F.lit("unique"))
            .otherwise(F.lit("canonical"))
            .alias("status"),
        )
    )


def dedup_minhash_incremental(
    index_doc_sets: DataFrame,
    new_documents: DataFrame | None,
    index_band_keys: DataFrame | None = None,
    new_doc_sets: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH maintenance — the nightly-append shape:
    given the STORED doc-set index of the existing corpus (written once,
    ideally bucketed by doc_id — sources/bucketing.py) and a batch of
    new documents, emit exactly the near-dup pairs that involve at least
    one new doc (new×index ∪ new×new), verified exactly.

    Cost, stated precisely: the index is never RE-SHINGLED (text never
    re-tokenized, no md5 over shingle occurrences — the dominant batch
    cost); only the new batch pays that. Without ``index_band_keys``
    the index side still pays an O(index) SCAN that re-derives band
    keys from the stored doc-set arrays each run. Passing
    ``index_band_keys`` — the (doc_id, band_key) relation persisted at
    index-build time (sources/bucketing.py:write_band_keys_bucketed) —
    removes that recompute too: the nightly run reads the stored keys
    as-is, and the only remaining index-side work is the band-join
    probe plus the verify equi-join over stored arrays. Combined with
    the batch operator's invariant that pair membership depends only
    on the two docs involved:
    dedup(old ∪ new) == dedup(old) ∪ incremental(index(old), new) —
    test-pinned in tests/test_plans.py for both index forms.

    Re-ingest semantics: a doc_id appearing in BOTH the index and the
    new batch is treated as a replacement — the stored rows (doc sets
    AND band keys) are anti-joined away (broadcast of the small new-id
    set) so the union never carries two doc-set rows for one id, which
    would fan out every verified pair touching that doc.

    ``new_doc_sets`` short-circuits the batch-side shingling when the
    caller already materialized the batch's doc-set relation (the
    streaming maintenance job writes it to the stored index in the same
    micro-batch — streaming/maintenance.py); semantics are identical
    because _doc_sets is deterministic per document."""
    if new_documents is None and new_doc_sets is None:
        raise ValueError(
            "dedup_minhash_incremental needs the new batch as either "
            "new_documents (raw text) or new_doc_sets (pre-shingled)"
        )
    new_ds = new_doc_sets if new_doc_sets is not None else _doc_sets(new_documents)
    new_ids = new_ds.select("doc_id")
    index_doc_sets = index_doc_sets.join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    e_new = _band_keys(_minhash_signatures(new_ds))
    if index_band_keys is None:
        e_idx = _band_keys(_minhash_signatures(index_doc_sets))
    else:
        e_idx = index_band_keys.join(
            F.broadcast(new_ids), "doc_id", "left_anti"
        )
    e_all = e_new.unionByName(e_idx)
    cand = (
        e_new.select(F.col("doc_id").alias("doc_a"), "band_key")
        .join(
            e_all.select(F.col("doc_id").alias("doc_b"), "band_key"),
            "band_key",
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    return _verify_jaccard(cand, index_doc_sets.unionByName(new_ds))


def _recall_sample(documents: DataFrame, sample_mod: int) -> DataFrame:
    """Deterministic salted doc_id-hash corpus gate shared by the
    sampled measurement faces (dedup_recall, dedup_agreement): keep a
    document iff hash60(salt:doc_id) % mod == 0. Row-local — no shuffle
    — and salt/mod are fixed params so the oracle SQL applies the
    bit-identical predicate."""
    return documents.where(
        portable_hash60(
            F.concat(
                F.lit(P.RECALL_SAMPLE_SALT + ":"),
                F.col("doc_id").cast("string"),
            )
        )
        % sample_mod
        == 0
    )


def dedup_recall(
    documents: DataFrame, sample_mod: int | None = None
) -> DataFrame:
    """Measurement-as-operator (the ann_recall pattern, applied to
    dedup): compare the MinHash-LSH near-dup pairs against the exact
    PPJoin pair set on the same corpus and report ONE row — exact pair
    count, LSH pair count, their intersection, recall and precision.
    The number you read before trusting the LSH path as the 100 TB
    primary: if banding parameters drop below recall 1 at the
    threshold, it shows here first.

    ``sample_mod`` (r7, the scale path): when set, a deterministic
    salted doc_id-hash sample (keep iff hash % mod == 0) gates the
    corpus BEFORE both kernels, bounding the exact PPJoin side — which
    is superlinear on repetitive corpora (PERF_NOTES 10×-slope
    measurement) — to a 1/mod-sized sub-corpus. The estimate is
    UNBIASED: MinHash signatures and band keys are per-document and
    Jaccard verification is per-pair, so whether a given pair is
    emitted by either kernel does not depend on which OTHER documents
    are present; a uniform doc sample therefore yields a uniform
    (both-endpoints-kept, rate 1/mod²) sample of true pairs with their
    full-corpus outcomes, and sample recall estimates pair recall.
    (The exact kernel's df-ORDERED prefix filter does shift under
    sampling, but PPJoin's filters are lossless, so its output set on
    the sample is exactly the full pair set restricted to sampled
    docs.) The unsampled form stays the bounded-corpus oracle face.

    Both kernels share the _doc_sets relation, so the corpus is
    shingle-hashed once per side and the comparison adds only
    pair-sized joins. One evaluation per kernel BY CONSTRUCTION: both
    kernels' pairs are tagged, unioned, and eagerly checkpointed
    in ONE job before the fan-out (the dedup_agreement shape). The
    single-job union matters: checkpointing each kernel separately
    splits them into two jobs and the shared shingle-hash scan runs
    twice — measured 15-23 s vs ~9 s at sf0.1 — while inside one job
    Catalyst's exchange reuse shares it; the checkpoint then removes
    the downstream triple-reference risk (semi-join + two count
    rollups) that exchange reuse alone left to optimizer luck.

    r15 (VERDICT r14 #2): both kernels consume ONE lazily
    localCheckpoint-ed _doc_sets relation instead of each building its
    own plan instance. Exchange reuse shared the exchange's map side,
    but every consumer still re-ran the post-exchange final aggregation
    (the collect_set + sort_array over shuffled rows) per probe; the
    lazy checkpoint materializes the finished doc-set rows once and
    every consumer reads them (re-measured sf0.1, local[4], 10
    alternating pairs of the sampled face: median 7.87 → 5.76 s,
    executor CPU 11.5 → 9.4 s, same job count, rows identical;
    PERF_NOTES "Doc-set sharing in dedup_recall and dedup_agreement").
    The PERSIST flavor of the same idea is a measured NEGATIVE (4.6 →
    20.3 s): the columnar InMemoryRelation encode of the big array<long>
    column plus per-partition cache-write locking across the concurrent
    consumer stages costs far more than it saves — recorded so nobody
    re-tries it."""
    if sample_mod is not None:
        documents = _recall_sample(documents, sample_mod)
    ds = iter_checkpoint(_doc_sets(documents), eager=False)
    tagged = iter_checkpoint(
        dedup_ngram_jaccard(documents, doc_sets=ds)
        .select("doc_a", "doc_b", F.lit("e").alias("m"))
        .unionByName(
            dedup_minhash_lsh(documents, doc_sets=ds).select(
                "doc_a", "doc_b", F.lit("l").alias("m")
            )
        ),
        eager=True,
    )
    exact = tagged.where(F.col("m") == "e").select("doc_a", "doc_b")
    lsh = tagged.where(F.col("m") == "l").select("doc_a", "doc_b")
    common = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
    )
    return stats.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.expr(
            "CASE WHEN n_exact > 0 THEN floor(n_common / cast(n_exact as double) * 1e6 + 0.5) / 1e6 END"
        ).alias("recall"),
        F.expr(
            "CASE WHEN n_lsh > 0 THEN floor(n_common / cast(n_lsh as double) * 1e6 + 0.5) / 1e6 END"
        ).alias("precision"),
    )


def dedup_agreement(
    documents: DataFrame, sample_mod: int | None = None
) -> DataFrame:
    """Method-AGREEMENT report over the three text near-dup kernels
    (MinHash-LSH, exact n-gram Jaccard / PPJoin, winnowing-fingerprint
    overlap): per ordered method pair, each method's pair count, the
    shared pair count, and the Jaccard of the two pair SETS — the
    measurement that tells a curation pipeline whether its cheap
    detector family actually agrees with its exact one (dedup_recall
    is the two-kernel special case; this is the N-method matrix).

    ``sample_mod`` (r11, the gated face): the dedup_recall sampled
    gate threaded through the three-kernel matrix — a deterministic
    salted doc_id-hash sample bounds the exact PPJoin member, whose
    superlinear cost on repetitive corpora made the exact matrix the
    registry's one perf-weak row (driver artifact 34 s vs a 9.6 s
    floor, r10 verdict #1). For LSH and PPJoin the sampled pair set
    IS the full pair set restricted to sampled docs (per-document
    signatures / lossless filters — pinned by
    test_sampled_recall_pairs_are_full_pairs_restricted_to_sample);
    winnowing's corpus-df fingerprint gate (WINNOW_MAX_DF) does shift
    under sampling, so the sampled matrix is the agreement OF the
    sub-corpus — a consistent estimator of kernel agreement, not a
    restriction of the full matrix. The unsampled form stays the
    bounded-corpus operator API.

    One evaluation per kernel BY CONSTRUCTION: every method's (doc_a,
    doc_b) pairs are tagged, unioned, and eagerly localCheckpoint-ed
    (the graph.py iterative-solve idiom) BEFORE the fan-out — `tagged`
    is referenced three times below (the counts rollup + both sides of
    the pair-key self-join), and without the checkpoint whether the
    three expensive kernels run once or three times depends on Catalyst
    exchange reuse happening to fire (the r8 bench caught the downside:
    29.9 s vs a 12.0 s quiet floor). The checkpointed table is
    near-dup-PAIR-sized — tiny next to the kernels that produce it."""
    from vedb_gaze_spark.operators import text as _text

    if sample_mod is not None:
        documents = _recall_sample(documents, sample_mod)
    # ONE lazily checkpointed doc-set relation for both set-based
    # kernels (winnowing fingerprints are positional — no sharing
    # possible): see dedup_recall's r15 note for the measurement and
    # why persist() is the wrong flavor. Sampled face, sf0.1, local[4],
    # 10 alternating pairs: median 9.23 → 7.86 s, executor CPU 18.8 →
    # 16.8 s.
    ds = iter_checkpoint(_doc_sets(documents), eager=False)
    tagged = (
        dedup_minhash_lsh(documents, doc_sets=ds)
        .select("doc_a", "doc_b", F.lit("minhash_lsh").alias("method"))
        .unionByName(
            dedup_ngram_jaccard(documents, doc_sets=ds).select(
                "doc_a", "doc_b", F.lit("ngram_jaccard").alias("method")
            )
        )
        .unionByName(
            _text.winnow_overlap(documents).select(
                "doc_a", "doc_b", F.lit("winnow_overlap").alias("method")
            )
        )
        )
    tagged = iter_checkpoint(tagged, eager=True)
    counts = tagged.groupBy("method").agg(F.count(F.lit(1)).alias("n"))
    a = tagged.select(
        "doc_a", "doc_b", F.col("method").alias("method_a")
    )
    b = tagged.select(
        "doc_a", "doc_b", F.col("method").alias("method_b")
    )
    both = (
        a.join(b, ["doc_a", "doc_b"])
        .where(F.col("method_a") < F.col("method_b"))
        .groupBy("method_a", "method_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    # all method pairs, including zero-overlap ones
    m = counts.select(F.col("method").alias("method_a"), F.col("n").alias("n_a"))
    n = counts.select(F.col("method").alias("method_b"), F.col("n").alias("n_b"))
    # broadcast: the grid is |methods|² metadata rows — without the hint
    # Catalyst plans a CartesianProduct (the plan-guard tripwire)
    grid = m.crossJoin(F.broadcast(n)).where(
        F.col("method_a") < F.col("method_b")
    )
    return (
        grid.join(both, ["method_a", "method_b"], "left")
        .select(
            "method_a",
            "method_b",
            "n_a",
            "n_b",
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.expr(
                "floor(coalesce(n_both, 0) /"
                " cast(n_a + n_b - coalesce(n_both, 0) as double)"
                " * 1e6 + 0.5) / 1e6"
            ).alias("pair_jaccard"),
        )
    )
