"""Corpus-composition operators — the training-set assembly family.

SURVEY §2.G additions (r4): line-level exact dedup, benchmark
decontamination, token-budget sequence packing, stratified domain
mixing, and a deterministic HyperLogLog distinct sketch. Together with
dedup.py/text.py these cover the "assemble the training mix" stage of
a large-scale pipeline: dedup within the corpus, scrub overlap with
eval benchmarks, re-weight domains, pack into fixed-length sequences,
and count cardinalities cheaply.

Scale design:
- line_dedup: one shuffle keyed by the segment text (global
  first-occurrence window), one shuffle back on doc_id to reassemble.
  At 100 TB the window key would be a 128-bit hash of the segment
  rather than the string itself (smaller shuffle payload, negligible
  collision odds); here the string keeps the oracle exact.
- decontaminate: the benchmark n-gram set is tiny relative to the
  corpus — distinct-ed and broadcast, so the corpus side never
  shuffles; contamination counting is one doc_id groupBy.
- pack_sequences: packing is inherently sequential WITHIN a group but
  embarrassingly parallel ACROSS groups; the group key (source) is the
  unit of distribution, state per group is two scalars. Arrow-batched
  applyInPandas, no driver involvement.
- stratified_sample: stateless row-local hash test — no shuffle at
  all, and the same rows are kept on any engine or partitioning.
- hll_distinct: classic two-level aggregate (map-side partial max per
  register), shuffle width = m registers per group, NOT the row count.
  The register sum is scaled-integer math so the sketch is
  bit-reproducible — the estimate survives the driver's value-hash
  gate, which a float-summed HLL would not.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import TOKENS_SQL as _TOKENS
from vedb_gaze_spark.functions.core import portable_hash60, spread_scan_scatter
from vedb_gaze_spark.plans import params as P


def _segments(documents: DataFrame, w: int, carry: tuple = ()) -> DataFrame:
    """Exploded (doc_id[, carry...], seg_no, seg) frame — the ONE
    definition of the segmentation both line-dedup twins (and the
    shared oracle) depend on. NULL text yields NULL ws and explodes to
    nothing, so NULL-text docs are absent from every consumer."""
    return (
        documents.select(
            "doc_id",
            *carry,
            F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
        )
        .select(
            "doc_id",
            *carry,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(ws) / {w}.0) as int) - 1),"
                    f" i -> array_join(slice(ws, i * {w} + 1, {w}), ' '))"
                )
            ).alias("seg_no", "seg"),
        )
    )


def line_dedup(
    documents: DataFrame,
    words_per_seg: int = P.LINE_DEDUP_WORDS,
    carry: tuple = (),
) -> DataFrame:
    """Line-level exact dedup (Lee et al. 2022 family): segment every
    document, keep each distinct segment only at its FIRST global
    occurrence (ordered by doc_id, then segment position), and
    reassemble the surviving text per document.

    The corpus has no newlines, so a "line" is a non-overlapping
    ``words_per_seg``-word chunk — the segmentation is deterministic and
    shared with the oracle. Docs that lose every segment (exact dupes of
    an earlier doc) come back with empty text, not dropped: the caller
    decides the fate of emptied docs.

    ``carry`` columns ride through the segment explode and come back in
    the output (per-doc constants) — corpus_pipeline uses this to keep
    lang/source without re-joining the corpus (one scan, not two).
    """
    w = words_per_seg
    segs = _segments(documents, w, carry)
    # Window form: ONE pass over the input subtree — what lets
    # corpus_pipeline stay a single linear chain (an aggregate+join
    # formulation consumes `segs` twice with different exchange
    # payloads, so Spark re-derives the whole upstream per consumer —
    # measured: 3 corpus scans became 6). Trade-off: windows get no
    # map-side combine, so a boilerplate segment repeated across
    # millions of docs lands on one task — for dedup directly over a
    # stored table, line_dedup_skewsafe below pays a second (cheap)
    # scan to buy combiner protection on hot segments.
    first = Window.partitionBy("seg").orderBy("doc_id", "seg_no")
    flagged = segs.withColumn(
        "keep", (F.row_number().over(first) == 1).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            *[F.first(c).alias(c) for c in carry],
            F.count(F.lit(1)).alias("total_segments"),
            F.sum("keep").alias("kept_segments"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(filter(array_sort(collect_list(struct(seg_no, keep, seg))),"
                    " s -> s.keep = 1), s -> s.seg)"
                ),
            ).alias("text_dedup"),
        )
    )



def line_dedup_skewsafe(
    documents: DataFrame, words_per_seg: int = P.LINE_DEDUP_WORDS
) -> DataFrame:
    """Skew-safe twin of line_dedup for DIRECT table input: identical
    output, different physical strategy. First occurrences come from
    min(struct(doc_id, seg_no)) GROUPED BY segment — an aggregation
    with map-side partial combine, so the hottest boilerplate segment
    collapses to one row per map task before the shuffle instead of
    shipping every occurrence to a single window task (windows have no
    combiner and no AQE skew split). Totals are computed ROW-LOCALLY
    (ceil(words/w)) and the kept segments join back on doc_id, so the
    corpus is scanned twice but never sorted and never skew-bound —
    the right trade when the input is a stored table rather than the
    tail of an expensive plan (use line_dedup inside compositions)."""
    w = words_per_seg
    segs = _segments(documents, w)
    firsts = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_no")).alias("f")
    )
    kept = (
        firsts.select(
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.seg_no").alias("seg_no"),
            "seg",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("kept_segments"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(seg_no, seg))),"
                    " s -> s.seg)"
                ),
            ).alias("text_dedup"),
        )
    )
    # NULL-text docs explode to nothing in segs/the oracle — the
    # row-local totals side must drop them identically
    totals = (
        documents.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
        )
        .where(F.col("ws").isNotNull())
        .select(
            "doc_id",
            F.expr(f"cast(ceil(size(ws) / {w}.0) as bigint)").alias("total_segments"),
        )
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "total_segments",
            F.coalesce("kept_segments", F.lit(0)).alias("kept_segments"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def decontaminate(
    documents: DataFrame,
    n: int = P.DECONTAM_NGRAM,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C shape): flag training
    documents that share any word ``n``-gram with the held-out benchmark
    slice (doc_id % bench_mod == 0). Returns one row per contaminated
    training doc with the count of distinct overlapping n-grams.

    The benchmark n-gram set is distinct-ed and broadcast — at 100 TB the
    benchmark (an eval suite) is megabytes against terabytes of corpus,
    so the corpus side joins without shuffling."""
    ngrams = (
        # scatter-spread (r14): n-gram build + k salted md5 probes per
        # gram are the scan-attached CPU cost; spread the compact rows
        spread_scan_scatter(documents, "doc_id")
        .select("doc_id", F.expr(_TOKENS).alias("toks"))
        .where(F.expr(f"size(toks) >= {n}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(toks) - {n} + 1),"
                    f" i -> array_join(slice(toks, i, {n}), ' ')))"
                )
            ).alias("ng"),
        )
    )
    bench = (
        ngrams.where(F.col("doc_id") % bench_mod == 0).select("ng").distinct()
    )
    corpus = ngrams.where(F.col("doc_id") % bench_mod != 0)
    return (
        corpus.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def greedy_pack(
    toks: DataFrame,
    budget: int,
    extra_cols: tuple = (),
    shard_docs: int | None = None,
    order_cols: tuple = ("doc_id",),
) -> DataFrame:
    """Greedy first-fit packing of (source, doc_id, n_tokens [, extra])
    rows into budget-bounded packs, doc_id order within source. The
    shared kernel under pack_sequences and corpus_pipeline: per-group
    state is two scalars, groups stream through applyInPandas in
    parallel.

    ``extra_cols`` pass through untouched: a bare name is DOUBLE-typed
    (corpus_pipeline's weight); a (name, sqltype) pair declares another
    Arrow type (corpus_pipeline_mixed's epoch is ("epoch", "long")).
    ``order_cols`` is the in-group packing order — (doc_id,) by
    default; the mixed pipeline packs epoch COPIES of a doc adjacently
    with ("doc_id", "epoch"), keeping the order total (and therefore
    the packing deterministic) when doc_id alone has ties.

    ``shard_docs``: packing state is two scalars, but the WHOLE group
    materializes as one Arrow batch per task — with the bare `source`
    key a popular source at 100 TB is one unbounded task. shard_docs=N
    subdivides each source into doc_id-range shards of at most N docs
    worth of id-space (shard = doc_id floor-div N, so doc order within
    a shard is preserved and shard membership is data-independent), and
    packs are numbered per (source, shard) with the shard in the
    output. Sequences then never cross a shard boundary — the same
    contract as any epoch/file-split boundary — and per-shard packing
    of a shard's rows is IDENTICAL to whole-source packing restricted
    to that shard started fresh (test-pinned pack-equivalence). Default
    None keeps the exact single-group-per-source semantics (the oracle
    shape)."""
    extras = [
        (c, "double") if isinstance(c, str) else tuple(c) for c in extra_cols
    ]
    shard_cols = ["shard"] if shard_docs is not None else []
    out_cols = [
        "source", *shard_cols, "doc_id", "n_tokens",
        *[c for c, _ in extras], "pack_id",
    ]
    extra_schema = "".join(f", {c} {t}" for c, t in extras)
    shard_schema = ", shard long" if shard_docs is not None else ""
    schema = (
        f"source string{shard_schema}, doc_id long, n_tokens long"
        f"{extra_schema}, pack_id long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_cols)).reset_index(drop=True)
        pack_id, fill = -1, budget
        ids = []
        for t in pdf["n_tokens"]:
            # pack_id < 0 forces the FIRST row to open pack 0 even when
            # t == 0 (a zero-token doc would otherwise ride the sentinel
            # and emit pack_id -1, diverging from the oracle's rn=1 row)
            if pack_id >= 0 and fill + t <= budget:
                fill += t
            else:
                pack_id += 1
                fill = t
            ids.append(pack_id)
        pdf["pack_id"] = pd.Series(ids, dtype="int64")
        return pdf[out_cols]

    if shard_docs is None:
        return toks.groupBy("source").applyInPandas(pack, schema)
    sharded = toks.withColumn(
        # doc_id >= 0 in this corpus; the floor-div form stays correct
        # for any sign of doc_id
        "shard",
        F.expr(f"(doc_id - ((doc_id % {shard_docs}) + {shard_docs}) % {shard_docs}) DIV {shard_docs}"),
    )
    return sharded.groupBy("source", "shard").applyInPandas(pack, schema)


def pack_sequences(
    documents: DataFrame,
    budget: int = P.PACK_BUDGET_TOKENS,
    shard_docs: int = P.PACK_SHARD_DOCS,
) -> DataFrame:
    """Token-budget sequence packing: greedy first-fit of documents into
    fixed-budget training sequences, in doc_id order within each
    (source, shard) group. A doc that doesn't fit the open pack starts a
    new one; an over-budget doc occupies a pack alone. Returns (source,
    shard, doc_id, n_tokens, pack_id) with pack_id counted from 0 per
    (source, shard) — the shard is the training-file split id.

    Packing is sequential per group and parallel across groups — the
    per-group state is two scalars, and the shard bound caps the Arrow
    batch one task materializes (shard = doc_id div shard_docs, so
    membership is data-independent and doc order within a shard is
    preserved). The bound is DEFAULT-ON: a hot source at 100 TB must
    never become one unbounded task; sequences not crossing a shard
    boundary is the same contract as any epoch/file-split boundary.
    Per-shard packing equals whole-source packing of that shard's rows
    started fresh (pack-equivalence, test-pinned)."""
    toks = documents.select(
        "source",
        "doc_id",
        F.expr("size(split(trim(text), '\\\\s+'))").cast("long").alias("n_tokens"),
    )
    return greedy_pack(toks, budget, shard_docs=shard_docs).select(
        "source", "shard", "doc_id", "n_tokens", "pack_id"
    )


def sample_cols():
    """(rate, u) Column pair — the ONE definition of the deterministic
    sampling algebra (per-language rate chain; hash(salt||doc_id)/2^60
    uniform), shared by stratified_sample and corpus_pipeline so the
    standalone operator and the composed plan can never drift."""
    items = list(P.SAMPLE_RATES.items())
    rate = F.when(F.col("lang") == items[0][0], F.lit(float(items[0][1])))
    for lang, r in items[1:]:
        rate = rate.when(F.col("lang") == lang, F.lit(float(r)))
    rate = rate.otherwise(F.lit(0.0))
    u = portable_hash60(
        F.concat(F.lit(P.SAMPLE_SALT), F.col("doc_id").cast("string"))
    ) / F.lit(P.SAMPLE_DENOM)
    return rate, u


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Domain mixing: deterministic per-language downsampling at the
    P.SAMPLE_RATES target mix. Keeps a doc when hash(salt||doc_id)/2^60
    falls below its language's rate; emits the inverse-rate resampling
    weight. Stateless and shuffle-free — the same sample on any engine,
    partitioning, or rerun, which is what makes a 100 TB mixing job
    resumable and auditable."""
    rate, u = sample_cols()
    return (
        documents.select("doc_id", "lang", rate.alias("rate"), u.alias("u"))
        .where(F.col("u") < F.col("rate"))
        .select(
            "doc_id",
            "lang",
            F.round(F.lit(1.0) / F.col("rate"), 6).alias("weight"),
        )
    )


def hll_distinct(events: DataFrame) -> DataFrame:
    """Deterministic HyperLogLog distinct-user sketch per event_type,
    reported against the exact count (sketch-accuracy-as-operator, like
    ann_recall). Flajolet et al. 2007 with p=9 (m=512): register index =
    low 9 hash bits, rank = leading zeros of the remaining 51 bits + 1.

    Cross-engine determinism is the point: registers are integer maxes,
    and the harmonic sum is computed as SUM(2^(52-M_j)) in exact BIGINT
    (max 512·2^52 = 2^61), so the estimate is ONE double division on an
    exact integer — identical on Spark and DuckDB at any parallelism.
    The shuffle is m registers per group, independent of row count."""
    m, rb = P.HLL_M, P.HLL_RANK_BITS
    h = portable_hash60(F.col("user_id").cast("string"))
    # Integer shift, NOT h/m: a double division would round the 60-bit
    # hash to 53 mantissa bits and corrupt the low rank bits.
    regs = (
        events.select(
            "event_type",
            (h % m).alias("idx"),
            F.shiftright(h, P.HLL_P).alias("w"),
        )
        .withColumn(
            "rank",
            F.when(F.col("w") == 0, F.lit(rb + 1)).otherwise(
                F.lit(rb + 1) - F.length(F.bin(F.col("w")))
            ),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rank").alias("mx"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("cast(power(2.0, 52 - mx) as bigint)")).alias("s_present"),
            F.count(F.lit(1)).alias("n_regs"),
        )
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    zscaled = F.col("s_present") + (F.lit(m) - F.col("n_regs")) * F.lit(
        4503599627370496  # 2^52, the empty-register term
    )
    e_raw = F.lit(P.HLL_NUM_SCALED) / zscaled.cast("double")
    v = F.lit(m) - F.col("n_regs")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return (
        regs.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.round(est, 4).alias("hll_estimate"),
        )
        .withColumn(
            "rel_error",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ),
        )
    )


def cms_heavy_hitters(documents: DataFrame) -> DataFrame:
    """Count-Min Sketch heavy hitters over the corpus word stream,
    reported against exact counts (sketch-accuracy-as-operator, the
    cms twin of hll_distinct). Cormode & Muthukrishnan 2005: d salted
    hash rows of w counters; estimate = min over rows; every true heavy
    hitter appears (CMS never underestimates), collisions surface as
    cms_est > exact_cnt.

    Scale shape: the token stream aggregates ONCE on word (the only
    corpus-sized shuffle); the d×w counter tables are rollups of that
    word-count table (counters are additive, so sketching the counts is
    algebraically identical to sketching the stream) and broadcast back
    — at 100 TB the sketch costs one word groupBy plus d tiny joins,
    and the counter tables themselves are mergeable across shards."""
    wc = (
        documents.select(F.explode(F.expr(_TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    total = wc.agg(F.sum("exact_cnt").alias("total"))
    est = wc.crossJoin(F.broadcast(total))
    mins = []
    for j, salt in enumerate(P.CMS_SALTS):
        idx = (portable_hash60(F.concat(F.lit(salt), F.col("word"))) % P.CMS_W)
        counter = (
            wc.select(idx.alias(f"idx{j}"), "exact_cnt")
            .groupBy(f"idx{j}")
            .agg(F.sum("exact_cnt").alias(f"c{j}"))
        )
        est = est.withColumn(f"idx{j}", idx).join(
            F.broadcast(counter), f"idx{j}"
        )
        mins.append(F.col(f"c{j}"))
    return (
        est.withColumn("cms_est", F.least(*mins))
        .where(F.col("cms_est") >= F.lit(P.CMS_HH_FRAC) * F.col("total"))
        .select(
            "word",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


def dsir_select(
    documents: DataFrame,
    n_buckets: int = P.DSIR_BUCKETS,
    k: int = P.DSIR_TOPK,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    importance-resample raw documents toward a target distribution
    using hashed-ngram bag features. Feature = unigram ∪ bigram word
    stream hashed into ``n_buckets``; per-bucket importance log-ratio
    log(p_target/q_raw) under Laplace smoothing; per-doc log importance
    weight = Σ over the doc's gram occurrences of its bucket's
    log-ratio; selection = Gumbel top-k over log w + g (sampling
    without replacement ∝ w, the paper's estimator).

    Deterministic end-to-end, so the whole selection survives the
    value-hash gate: bucket ids come from the portable md5 hash, the
    one ln() per BUCKET is quantized to integer micro-nats before the
    corpus-sized sum (lm_score's order-independence trick — the doc
    score is an exact integer sum at any parallelism), and the Gumbel
    draw derives from a hash of the doc_id (u = (h % 999998 + 1)/1e6,
    g = -ln(-ln(u))) instead of an RNG — same floor(x·1e6 + 0.5)
    quantization, same draw on any engine.

    Scale shape: the feature table is FIXED-SIZE (n_buckets rows, not
    vocabulary-sized), so broadcasting it is correct at any corpus
    scale — the contrast with lm_score/tfidf_keywords' unbounded
    vocab tables is deliberate and is why DSIR is the 100 TB-friendly
    quality signal; the corpus sides are one gram explode + one doc_id
    groupBy, and the final top-k is orderBy+limit
    (TakeOrderedAndProject: per-partition heaps, never a global sort).
    Target slice = doc_id % bench_mod == 0 (the decontaminate
    convention for a held-out stand-in); target docs are never
    selected."""
    scores = dsir_scores(documents, n_buckets, bench_mod)
    u = (
        portable_hash60(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")))
        % 999998
        + 1
    ) / 1e6
    keyed = scores.select(
        "doc_id",
        "n_grams",
        "logw_unats",
        (
            F.col("logw_unats")
            + F.floor(-F.log(-F.log(u)) * 1e6 + 0.5).cast("long")
        ).alias("key_unats"),
    )
    top = keyed.orderBy(F.desc("key_unats"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("key_unats"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "n_grams", "logw_unats", "key_unats"
    )


def _dsir_grams(
    documents: DataFrame, n_buckets: int, bench_mod: int
) -> DataFrame:
    """(doc_id, bucket, is_target) hashed unigram∪bigram occurrence
    stream — one corpus scan, one generator (the union-of-selects form
    tokenizes the corpus twice)."""
    # scatter-spread (r14): the unigram+bigram explode and per-gram
    # md5 otherwise run inside a single-split scan task at test file
    # sizes (no-op whenever the layout already feeds every core)
    toks = spread_scan_scatter(
        documents, "doc_id"
    ).where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_TOKENS).alias("t")
    )
    gram_arr = F.expr(
        "concat(t, transform(sequence(0, size(t) - 2),"
        " i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2))))"
    )
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.when(F.size("t") >= 2, gram_arr).otherwise(F.col("t"))
            ).alias("g"),
        )
        .select(
            "doc_id",
            (portable_hash60("g") % n_buckets).cast("int").alias("b"),
            (F.col("doc_id") % bench_mod == 0).alias("is_t"),
        )
    )


def _dsir_counts(grams: DataFrame) -> DataFrame:
    return grams.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("rc"),
    )


def dsir_scores(
    documents: DataFrame,
    n_buckets: int = P.DSIR_BUCKETS,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
) -> DataFrame:
    """The score stage of dsir_select — (doc_id, logw_unats, n_grams)
    for every raw (non-target) doc with ≥1 gram. Public so the
    streaming scorer (streaming/corpus.py:streaming_dsir_score) has a
    batch reference to pin row-for-row parity against."""
    grams = _dsir_grams(documents, n_buckets, bench_mod)
    counts = _dsir_counts(grams)
    tot = counts.agg(F.sum("tc").alias("T"), F.sum("rc").alias("R"))
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log((F.col("tc") + 1.0) / (F.col("T") + F.lit(n_buckets)))
                - F.log((F.col("rc") + 1.0) / (F.col("R") + F.lit(n_buckets)))
            )
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("lr"),
    )
    return (
        grams.where(~F.col("is_t"))
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("lr").alias("logw_unats"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )


def dedup_substring(
    documents: DataFrame, min_len: int = P.SUBSTR_L
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §3.1 ExactSubstr) —
    the companion to line_dedup: find every maximal token span of
    length ≥ ``min_len`` that also occurs at ANY other position in the
    corpus (another doc or elsewhere in the same doc), i.e. the ranges
    the paper cuts from training text.

    Rolling-gram formulation, exactly equivalent to the paper's
    suffix-array scan for this span semantics: a span of length
    M ≥ L is duplicated iff all of its rolling L-grams are duplicated,
    and every duplicated L-gram occurrence covers its L positions — so
    the union of covered positions is precisely the union of maximal
    duplicated spans. The suffix array is the single-node data
    structure; the DISTRIBUTED equivalent of its duplicate scan is a
    count over the hashed rolling-gram stream (one corpus-sized
    groupBy on a uniform 60-bit key), followed by per-doc
    gaps-and-islands interval coalescing (one doc-keyed window pass —
    running max of span ends, island break where a start exceeds it).

    Output: one row per maximal duplicated span — (doc_id, span_start,
    span_end, span_tokens), token positions 0-based inclusive.

    Scale: the gram stream is the same magnitude as the shingle stream
    every dedup pass already scans; the only corpus-sized shuffles are
    the gram-count groupBy and the doc_id re-key for the island scan.
    No broadcast of anything corpus-dependent (the duplicated-gram
    relation joins on the hash key; AQE picks the strategy)."""
    # scatter-spread (r14): parallelize the L-gram join+md5 pass off
    # a single-split scan; the gram-count groupBy keeps its exchange
    toks = spread_scan_scatter(
        documents, "doc_id"
    ).where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_TOKENS).alias("t")
    )
    grams = toks.where(F.size("t") >= min_len).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {min_len}),"
                f" i -> array_join(slice(t, i + 1, {min_len}), ' '))"
            )
        ).alias("p", "g"),
    ).select("doc_id", "p", portable_hash60("g").alias("gh"))
    dup_counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("cnt"))
    covered = (
        grams.join(dup_counts.where(F.col("cnt") > 1), "gh")
        .select("doc_id", "p")
    )
    # gaps-and-islands: intervals [p, p+L-1] per doc, coalesce overlaps.
    # island id = count of preceding breaks (start beyond the running
    # max end of all earlier intervals).
    wo = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wi = Window.partitionBy("doc_id").orderBy("p")
    marked = covered.select(
        "doc_id",
        "p",
        (F.col("p") + min_len - 1).alias("e"),
        F.when(
            F.col("p") > F.max(F.col("p") + min_len - 1).over(wo) + 1, 1
        )
        .otherwise(0)
        .alias("brk"),
    ).withColumn("island", F.sum("brk").over(wi))
    return (
        marked.groupBy("doc_id", "island")
        .agg(
            F.min("p").cast("int").alias("span_start"),
            F.max("e").cast("int").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_tokens"),
        )
    )


def dedup_substring_clean(
    documents: DataFrame, min_len: int = P.SUBSTR_L
) -> DataFrame:
    """The transform half of ExactSubstr dedup (Lee et al. 2022): cut
    every duplicated span dedup_substring finds and reassemble the
    surviving tokens per document — the actual training-text rewrite
    the paper applies. Emits every non-NULL-text doc: (doc_id,
    n_tokens, n_removed, clean_text); span-free docs come back whole
    with n_removed = 0.

    Plan: the span relation is duplication-sized, not corpus-sized —
    its exploded (doc_id, pos) coverage anti-joins the corpus token
    stream on (doc_id, pos) with no forced hints (AQE broadcasts the
    small side), and reassembly is the same sorted collect_list
    pattern line_dedup settled on."""
    toks = documents.where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_TOKENS).alias("t")
    )
    positions = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    )
    covered = dedup_substring(documents, min_len).select(
        "doc_id",
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("pos"),
    )
    kept = positions.join(covered, ["doc_id", "pos"], "left_anti")
    totals = toks.select("doc_id", F.size("t").alias("n_tokens"))
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, tok))),"
                " s -> s.tok)"
            ),
        ).alias("clean_text"),
    )
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def mix_plan(
    documents: DataFrame,
    target: dict | None = None,
    budget_tokens: int | None = None,
) -> DataFrame:
    """Mixture planning — the calculator that PRODUCES the per-domain
    sampling rates stratified_sample consumes: given a target token
    share per language and a global training-token budget, report per
    language what is available, what the target allocates, the keep
    rate (capped at 1 — undersampled domains), and the epoch count
    (> 1 means the paper-standard upsampling of scarce domains —
    Hoffmann/Chinchilla-style mixtures repeat rare domains rather than
    starve the target share).

    Pure aggregate arithmetic: one lang groupBy over row-local token
    counts, target shares folded in as a literal CASE (both engines
    evaluate the identical expression), everything rounded to 6 dp.
    Scale: one map-side-combining rollup on a tiny key space; the
    output is a dashboard-sized table."""
    target = P.MIX_TARGET if target is None else target
    budget = P.MIX_BUDGET_TOKENS if budget_tokens is None else budget_tokens
    # CAST each share to DOUBLE: a bare 0.4 literal parses as DECIMAL in
    # Spark SQL and would infect the whole arithmetic chain (DuckDB
    # parses the same literal as DOUBLE — type-sensitive hash mismatch)
    share = "CASE " + " ".join(
        f"WHEN lang = '{k}' THEN CAST({v!r} AS DOUBLE)"
        for k, v in sorted(target.items())
    ) + " ELSE CAST(0.0 AS DOUBLE) END"
    per_lang = (
        documents.where(F.col("text").isNotNull())
        .select("lang", F.expr(f"size({_TOKENS})").cast("long").alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("avail_tokens"),
        )
    )
    alloc = F.expr(f"floor({budget} * ({share}) + 0.5)")
    # Degenerate-domain guard: a language whose docs all tokenize to zero
    # tokens would divide by zero → NULL rate/epochs; define both as 0.0
    # (nothing available to sample or repeat).
    has_tok = F.col("avail_tokens") > 0
    return per_lang.select(
        "lang",
        "n_docs",
        "avail_tokens",
        alloc.cast("long").alias("alloc_tokens"),
        F.when(
            has_tok,
            F.round(F.least(F.lit(1.0), alloc / F.col("avail_tokens")), 6),
        ).otherwise(F.lit(0.0)).alias("rate"),
        F.when(has_tok, F.round(alloc / F.col("avail_tokens"), 6))
        .otherwise(F.lit(0.0))
        .alias("epochs"),
    )


def mix_plan_temperature(
    documents: DataFrame,
    alpha: float = P.MIX_TEMPERATURE_ALPHA,
    budget_tokens: int | None = None,
) -> DataFrame:
    """Temperature-based mixture planning (Conneau & Lample 2019 §3.1;
    the mT5/XLM multilingual sampling rule): instead of an explicit
    target map (mix_plan), the target share per language DERIVES from
    availability — share_l ∝ p_l^alpha with p_l the language's token
    fraction. alpha < 1 flattens the distribution toward uniform,
    upweighting low-resource languages without a hand-written target;
    alpha = 1 reproduces natural proportions.

    Determinism across engines: p_l is a ratio of exact integer token
    sums; p_l^alpha quantizes to integer NANO-units BEFORE the
    normalizing sum, so the denominator is an order-free exact integer
    sum (float pow drift is confined to the 1e-9 quantization
    boundary — the lm_score ln() precedent) and every share/rate is
    one double division of exact integers. Same aggregate shape and
    output contract as mix_plan (rate capped at 1, epochs > 1 =
    upsampling); one tiny-key rollup, dashboard-sized output."""
    budget = P.MIX_BUDGET_TOKENS if budget_tokens is None else budget_tokens
    per_lang = (
        documents.where(F.col("text").isNotNull())
        .select("lang", F.expr(f"size({_TOKENS})").cast("long").alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("avail_tokens"),
        )
    )
    totals = per_lang.agg(F.sum("avail_tokens").alias("total_tokens"))
    u = F.expr(
        f"cast(floor(pow(avail_tokens / cast(total_tokens as double),"
        f" cast({alpha!r} as double)) * 1e9 + 0.5) as bigint)"
    )
    with_u = per_lang.crossJoin(F.broadcast(totals)).withColumn(
        "u", F.when(F.col("avail_tokens") > 0, u).otherwise(F.lit(0))
    )
    denom = with_u.agg(F.sum("u").alias("denom"))
    alloc = F.expr(f"floor({budget} * (u / cast(denom as double)) + 0.5)")
    has_tok = F.col("avail_tokens") > 0
    return (
        with_u.crossJoin(F.broadcast(denom))
        .select(
            "lang",
            "n_docs",
            "avail_tokens",
            F.expr(
                "floor(u / cast(denom as double) * 1e6 + 0.5) / 1e6"
            ).alias("share"),
            alloc.cast("long").alias("alloc_tokens"),
            F.when(
                has_tok,
                F.expr(
                    f"floor(least(cast(1.0 as double), floor({budget} * (u / cast(denom as double)) + 0.5)"
                    f" / avail_tokens) * 1e6 + 0.5) / 1e6"
                ),
            ).otherwise(F.lit(0.0)).alias("rate"),
            F.when(
                has_tok,
                F.expr(
                    f"floor(floor({budget} * (u / cast(denom as double)) + 0.5)"
                    f" / avail_tokens * 1e6 + 0.5) / 1e6"
                ),
            ).otherwise(F.lit(0.0)).alias("epochs"),
        )
    )


def contamination_report(
    documents: DataFrame,
    n: int = P.DECONTAM_NGRAM,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
) -> DataFrame:
    """The audit view decontaminate doesn't give: per BENCHMARK doc,
    how badly it leaks into the training corpus — distinct leaking
    training docs and total (train doc, n-gram) overlap pairs. The
    eval-integrity report a release review reads (which benchmark
    items are compromised, and how widely), while decontaminate is the
    filter the pipeline applies.

    Same single gram derivation as decontaminate; the broadcast side
    here carries the benchmark doc_id (still eval-suite-sized), and
    the rollup keys on benchmark doc — a tiny aggregate."""
    ngrams = (
        # scatter-spread (r14): n-gram build + k salted md5 probes per
        # gram are the scan-attached CPU cost; spread the compact rows
        spread_scan_scatter(documents, "doc_id")
        .select("doc_id", F.expr(_TOKENS).alias("toks"))
        .where(F.expr(f"size(toks) >= {n}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(toks) - {n} + 1),"
                    f" i -> array_join(slice(toks, i, {n}), ' ')))"
                )
            ).alias("ng"),
        )
    )
    bench = ngrams.where(F.col("doc_id") % bench_mod == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "ng"
    )
    corpus = ngrams.where(F.col("doc_id") % bench_mod != 0)
    return (
        corpus.join(F.broadcast(bench), "ng")
        .groupBy("bench_doc_id")
        .agg(
            F.countDistinct("doc_id").alias("n_leaky_docs"),
            F.count(F.lit(1)).alias("n_overlap_pairs"),
        )
    )


def source_overlap(
    documents: DataFrame, n: int = P.DECONTAM_NGRAM
) -> DataFrame:
    """Dataset-level overlap report: pairwise Jaccard similarity of the
    distinct word n-gram sets of each SOURCE — the "how much do my
    ingest feeds duplicate each other" diagnostic that decides whether
    cross-source dedup is worth scheduling, and the coarse sibling of
    the per-doc dedup family.

    One gram scan → distinct (source, ng) relation; the intersection
    join keys on the n-gram (a gram appears in at most |sources| rows,
    so the self-join fan-out is bounded by the source count, never
    corpus-quadratic); set sizes come from one combiner-friendly
    groupBy and broadcast back onto the source-pair rollup (a
    |sources|²-row table)."""
    grams = (
        documents.select("source", F.expr(_TOKENS).alias("toks"))
        .where(F.expr(f"size(toks) >= {n}"))
        .select(
            "source",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(toks) - {n} + 1),"
                    f" i -> array_join(slice(toks, i, {n}), ' ')))"
                )
            ).alias("ng"),
        )
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_ngrams"))
    inter = (
        grams.select(F.col("source").alias("source_a"), "ng")
        .join(grams.select(F.col("source").alias("source_b"), "ng"), "ng")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("n_ngrams").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("n_ngrams").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


# --- r6 additions: fixed-size decontamination, containment, ---------------
# --- cross-source keep-best, corpus summary, curriculum packing -----------


def bloom_decontaminate(
    documents: DataFrame,
    n: int = P.DECONTAM_NGRAM,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
    m: int = P.BLOOM_M,
    salts: tuple = P.BLOOM_SALTS,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the FIXED-SIZE variant
    of :func:`decontaminate`.

    ``decontaminate`` broadcasts the benchmark's distinct n-gram
    STRINGS; that broadcast grows with the benchmark. Here the
    benchmark is folded into a Bloom bit set: k salted 60-bit hashes
    per n-gram, each taken mod ``m`` — a membership structure bounded
    by ``m`` no matter how large the benchmark gets (the classic
    at-scale trade: O(m) memory for a quantified, deterministic
    false-positive rate). A training n-gram is flagged iff ALL k of
    its probe positions are set — the standard Bloom test, including
    its false positives, which are deterministic here because the
    hashes are (so the driver's value-hash oracle reproduces them
    exactly in SQL).

    Plan shape: one n-gram explode (shared with decontaminate), a
    distinct over ≤ m integer positions (the "bit array" as a
    relation), and a broadcast semi-join of k integer probes per
    corpus n-gram against it; contaminated = all k present. The
    corpus side never shuffles on anything wider than (doc_id, ng).
    """
    k = len(salts)
    ngrams = (
        # scatter-spread (r14): n-gram build + k salted md5 probes per
        # gram are the scan-attached CPU cost; spread the compact rows
        spread_scan_scatter(documents, "doc_id")
        .select("doc_id", F.expr(_TOKENS).alias("toks"))
        .where(F.expr(f"size(toks) >= {n}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(toks) - {n} + 1),"
                    f" i -> array_join(slice(toks, i, {n}), ' ')))"
                )
            ).alias("ng"),
        )
    )
    probes = F.explode(
        F.array(
            *[
                (portable_hash60(F.concat(F.lit(s + ":"), F.col("ng"))) % m)
                for s in salts
            ]
        )
    ).alias("pos")
    bits = (
        ngrams.where(F.col("doc_id") % bench_mod == 0)
        .select("ng")
        .distinct()
        .select(probes)
        .distinct()
    )
    flagged = (
        ngrams.where(F.col("doc_id") % bench_mod != 0)
        .select("doc_id", "ng", probes)
        .join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("doc_id", "ng")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .where(F.col("n_set") == k)
    )
    return (
        flagged.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


def minhash_containment(
    documents: DataFrame,
    n: int = P.CONTAIN_NGRAM,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
    tau: float = P.CONTAIN_TAU,
) -> DataFrame:
    """Containment-coefficient contamination (Broder 1997's containment
    C(A,B) = |A∩B| / |A|, A = a benchmark doc's n-gram set): report
    (benchmark doc, training doc) pairs where the training doc CONTAINS
    at least ``tau`` of the benchmark doc's n-grams.

    Containment, not Jaccard: an eval item quoted inside a much larger
    training document has tiny symmetric Jaccard (the union is
    dominated by the training doc) but containment ~1 — the asymmetric
    measure is the right contamination test. Pairs are generated by an
    equi-join on the n-gram (benchmark side distinct-ed and broadcast
    — eval suites are megabytes against terabytes), counted per pair,
    then divided by the benchmark doc's set size; fan-out is bounded
    by benchmark size, never corpus-quadratic.

    NAMING NOTE (r6 ADVICE): despite the historical name, there is NO
    MinHash here — this is the EXACT containment coefficient via an
    n-gram equi-join (exactness is what a contamination audit wants,
    and the bounded benchmark side makes exact affordable). The name
    is kept because the registry key / official correctness record
    carry it; choose dedup.dedup_minhash_lsh when you want the
    sketched/approximate symmetric-Jaccard kernel instead.
    """
    ngrams = (
        # scatter-spread (r14): n-gram build + k salted md5 probes per
        # gram are the scan-attached CPU cost; spread the compact rows
        spread_scan_scatter(documents, "doc_id")
        .select("doc_id", F.expr(_TOKENS).alias("toks"))
        .where(F.expr(f"size(toks) >= {n}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(toks) - {n} + 1),"
                    f" i -> array_join(slice(toks, i, {n}), ' ')))"
                )
            ).alias("ng"),
        )
    )
    bench = ngrams.where(F.col("doc_id") % bench_mod == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "ng"
    )
    sizes = bench.groupBy("bench_doc_id").agg(
        F.count(F.lit(1)).alias("n_bench")
    )
    train = ngrams.where(F.col("doc_id") % bench_mod != 0)
    return (
        train.join(F.broadcast(bench), "ng")
        .groupBy("bench_doc_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(F.broadcast(sizes), "bench_doc_id")
        .select(
            "bench_doc_id",
            "doc_id",
            "n_common",
            "n_bench",
            F.round(
                F.col("n_common") / F.col("n_bench").cast("double"), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= tau)
    )


def cross_source_dedup(documents: DataFrame) -> DataFrame:
    """Cross-source keep-best dedup: in a multi-corpus merge, a document
    that NEAR-duplicates (MinHash-LSH verified Jaccard ≥ threshold) a
    document in a more-trusted source is dropped in favor of that
    source's copy; duplicates WITHIN one source are left alone (each
    corpus is assumed internally deduped — the merge step's job is only
    cross-corpus overlap).

    Trust is the explicit P.SOURCE_RANK map (curated sources first),
    unranked sources last by name; rank is a per-row CASE expression,
    never a rank-table join. Pairs come from dedup_minhash_lsh — the
    declared 100 TB near-dup path — so the tail adds only doc_id-keyed
    metadata joins and one pair-sized window on top of it. The meta
    side is ONE ROW PER DOCUMENT (corpus-sized), so it is NOT
    broadcast-hinted (the r4 no-forced-broadcast lesson, re-learned
    via the r6 ADVICE): AQE sees the pair side's runtime size (tiny —
    near-dup pairs) and broadcasts THAT side, streaming the metadata —
    the orientation that survives a billion-doc corpus. Returns one
    row per DROPPED doc with its best surviving counterpart: (doc_id,
    source, keep_doc_id, keep_source, n_better = how many
    better-ranked near-dups it has).
    """
    from vedb_gaze_spark.operators.dedup import dedup_minhash_lsh

    rank = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in sorted(P.SOURCE_RANK.items())
        ],
        F.lit(P.SOURCE_RANK_DEFAULT),
    )
    meta = documents.select("doc_id", "source", rank.alias("rnk"))
    pairs = (
        dedup_minhash_lsh(documents)
        .join(
            meta.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
                F.col("rnk").alias("rnk_a"),
            ),
            "doc_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
                F.col("rnk").alias("rnk_b"),
            ),
            "doc_b",
        )
        .where(F.col("src_a") != F.col("src_b"))
    )
    # sources differ, so (rank, source) already totally orders the pair
    a_wins = (F.col("rnk_a") < F.col("rnk_b")) | (
        (F.col("rnk_a") == F.col("rnk_b")) & (F.col("src_a") < F.col("src_b"))
    )
    oriented = pairs.select(
        F.when(a_wins, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_id"),
        F.when(a_wins, F.col("src_b")).otherwise(F.col("src_a")).alias("source"),
        F.when(a_wins, F.col("doc_a")).otherwise(F.col("doc_b")).alias("w_doc"),
        F.when(a_wins, F.col("src_a")).otherwise(F.col("src_b")).alias("w_src"),
        F.when(a_wins, F.col("rnk_a")).otherwise(F.col("rnk_b")).alias("w_rnk"),
    )
    w = Window.partitionBy("doc_id").orderBy("w_rnk", "w_src", "w_doc")
    return (
        oriented.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias(
                "n_better"
            ),
            F.col("w_doc").alias("keep_doc_id"),
            F.col("w_src").alias("keep_source"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus summary: doc/lang counts, token and char
    totals, token min/max and the exact lower median — the fact table a
    mixture planner (mix_plan) or a curation dashboard reads first.

    The median is the exact order statistic at floor((n+1)/2) — but
    computed from a count-of-counts HISTOGRAM per (source, n_toks)
    (the key_skew_report shape), never a row_number window over every
    document of a source: source is the LOWEST-cardinality key in the
    schema, so a partitionBy(source) sort puts a whole source's rows
    on one task — the hot-partition shape (the r6 verdict's call-out).
    The histogram is bounded by distinct token counts per source, so
    its cumulative window is metadata-sized at any corpus size. Both
    passes over the docs are map-side-combining aggregations (linear,
    skew-immune); the final join keys are O(sources).
    """
    d = (
        documents.where(F.col("text").isNotNull())
        .select(
            "source",
            "lang",
            F.expr(f"size({_TOKENS})").alias("n_toks"),
            F.length("text").alias("n_chars"),
        )
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_toks").alias("min_tokens"),
        F.max("n_toks").alias("max_tokens"),
    )
    hist = d.groupBy("source", "n_toks").agg(F.count(F.lit(1)).alias("freq"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_toks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    med = (
        hist.select(
            "source",
            "n_toks",
            F.sum("freq").over(wcum).alias("cum"),
            F.sum("freq").over(Window.partitionBy("source")).alias("cnt"),
        )
        .where(F.col("cum") >= F.floor((F.col("cnt") + 1) / 2))
        .groupBy("source")
        .agg(F.min("n_toks").alias("median_tokens"))
    )
    return base.join(med, "source").select(
        "source",
        "n_docs",
        "n_langs",
        "total_tokens",
        "total_chars",
        "min_tokens",
        "max_tokens",
        "median_tokens",
    )


def curriculum_pack(
    documents: DataFrame,
    budget: int = P.PACK_BUDGET_TOKENS,
    shard_docs: int = P.PACK_SHARD_DOCS,
) -> DataFrame:
    """Curriculum-ordered sequence packing: pack exactly like
    :func:`pack_sequences` but feed each (source, shard) group in
    quality order — cleanest documents first (quality_classifier score
    DESCENDING, doc_id tie-break) — so ascending pack_id within a
    group IS the curriculum axis (early packs = high-quality slice).

    The integer score_units from the classifier keeps the order (and
    therefore the packing) exact across engines. Same distribution
    contract as pack_sequences: per-group state is two scalars, groups
    are (source, shard)-bounded Arrow batches.

    The score is a per-row expression (qc_score_units_expr — the one
    classifier definition), so tokens + whitespace count + score come
    from ONE scan; the original join of two corpus scans on doc_id was
    a shuffle with no information in it.
    """
    from vedb_gaze_spark.operators.filtering import qc_score_units_expr

    scored = (
        documents.where(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            "text",
            F.expr(_TOKENS).alias("tk"),
        )
        .where(F.expr("size(tk)") >= 1)
        .select(
            "source",
            "doc_id",
            F.expr(r"size(split(trim(text), '\\s+'))").cast("long").alias(
                "n_tokens"
            ),
            F.expr(qc_score_units_expr("tk")).alias("score_units"),
        )
        .withColumn("neg_units", -F.col("score_units"))
    )
    return greedy_pack(
        scored,
        budget,
        extra_cols=(("score_units", "long"),),
        shard_docs=shard_docs,
        order_cols=("neg_units", "doc_id"),
    )


def group_sample(
    documents: DataFrame,
    k: int = P.GROUP_SAMPLE_K,
    salt: str = P.GROUP_SAMPLE_SALT,
) -> DataFrame:
    """Fixed-size deterministic per-source sample: the k documents per
    source with the smallest salted 60-bit hash — the fixed-COUNT
    complement of stratified_sample's fixed-RATE keep (use this for
    "give me 1000 docs from every source for eyeballing/eval", where a
    rate would under-sample small sources and over-sample big ones).

    The hash order makes the sample reproducible on any engine and
    partitioning, and uniform-without-replacement within each source.
    Scale shape: the rank-≤-k predicate over the per-source window is
    rewritten by Spark's WindowGroupLimit to a per-partition partial
    top-k BEFORE the shuffle, so no task ever sorts a whole source —
    the same physical shape as a grouped TakeOrdered."""
    h = portable_hash60(
        F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        documents.select("doc_id", "source", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .select("source", "doc_id", "sample_rank")
    )


def pack_efficiency(documents: DataFrame) -> DataFrame:
    """Packing efficiency report per source: packs, docs, token totals,
    capacity (packs × budget) and the fill rate — the utilization
    number a training-data pipeline watches when tuning the sequence
    budget (low fill = wasted padding, oversize docs = truncation
    pressure upstream).

    A pack-output-sized aggregation on top of pack_sequences; adds one
    source-keyed rollup to the packing plan."""
    packs = pack_sequences(documents)
    budget = P.PACK_BUDGET_TOKENS
    return (
        packs.groupBy("source")
        .agg(
            F.countDistinct("shard", "pack_id").alias("n_packs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").alias("max_doc_tokens"),
        )
        .select(
            "source",
            "n_packs",
            "n_docs",
            "total_tokens",
            "max_doc_tokens",
            (F.col("n_packs") * budget).alias("capacity_tokens"),
            F.expr(
                f"floor(total_tokens / cast(n_packs * {budget} as double) * 1e6 + 0.5) / 1e6"
            ).alias("fill_rate"),
        )
    )


def length_batches(
    documents: DataFrame, batch_docs: int = P.LB_BATCH_DOCS
) -> DataFrame:
    """Length-bucketed dynamic batching report — the padding-waste
    calculator behind every trainer's group-by-length sampler (fairseq
    LengthGroupedSampler / HF group_by_length; public API semantics).
    A padded batch costs n_docs·max_len tokens; batching in arrival
    order pads every short doc up to the batch's longest, while
    batching in length order co-locates similar lengths. The report
    emits both strategies' per-batch fill so the waste delta is a
    number, not folklore: strategy, source, batch_id, n_docs, max_len,
    sum_len, pad_waste, utilization.

    Deterministic: 'arrival' = doc_id order; 'length_sorted' =
    (n_tokens DESC, doc_id). batch_id = floor(rank/batch_docs) within
    the source group.

    Scale shape: the ranking windows are keyed BY SOURCE — parallel
    across groups, sequential within (pack_sequences' distribution
    unit) — so there is no global sort; each strategy is one window +
    one (source, batch) groupBy over a 3-column projection of the
    corpus. Zero-token docs never reach a loader and are filtered."""
    d = documents.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.expr(f"size({_TOKENS})").cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    parts = []
    for strat, order in (
        ("arrival", [F.col("doc_id")]),
        ("length_sorted", [F.desc("n_tokens"), F.col("doc_id")]),
    ):
        w = Window.partitionBy("source").orderBy(*order)
        parts.append(
            d.withColumn("rn", F.row_number().over(w)).select(
                F.lit(strat).alias("strategy"),
                "source",
                F.floor((F.col("rn") - 1) / F.lit(float(batch_docs))).alias(
                    "batch_id"
                ),
                "n_tokens",
            )
        )
    u = parts[0].unionByName(parts[1])
    padded = F.count(F.lit(1)) * F.max("n_tokens")
    return (
        u.groupBy("strategy", "source", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
            (padded - F.sum("n_tokens")).alias("pad_waste"),
            F.expr(
                "floor(sum(n_tokens) / cast(count(1) * max(n_tokens) as double)"
                " * 1e6 + 0.5) / 1e6"
            ).alias("utilization"),
        )
    )


def epoch_shuffle(documents: DataFrame, epochs: int = 2) -> DataFrame:
    """Deterministic per-epoch training order: every epoch is an exact
    permutation of the corpus keyed by a portable hash, so any worker,
    any restart, and any engine derives the SAME order (the data-order
    reproducibility contract training runs need for loss-curve
    comparisons; epoch salts make successive epochs independent
    permutations).

    shuffle_pos is the exact GLOBAL rank under (h, doc_id) — computed
    WITHOUT a global single-reducer window: the hash's top 8 bits form
    256 buckets that are order-PREFIXES of the full sort key, so
    rank = (docs in lower buckets — a 256·epochs-row cumulative offset,
    broadcast back) + row_number within the (epoch, bucket) group (a
    KEYED window, parallel across buckets). The oracle computes the
    same rank with a plain global window — same rows, different
    machine shape (the scalable two-level rank pattern).
    """
    e = documents.select("doc_id").crossJoin(
        F.broadcast(
            documents.sparkSession.range(epochs).select(
                F.col("id").cast("int").alias("epoch")
            )
        )
    )
    h = portable_hash60(
        F.concat(
            F.lit("shuf:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    d = e.select("doc_id", "epoch", h.alias("h")).withColumn(
        "bucket", F.shiftright("h", 52).cast("int")
    )
    counts = d.groupBy("epoch", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "epoch",
        "bucket",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("offset"),
    )
    win = Window.partitionBy("epoch", "bucket").orderBy("h", "doc_id")
    return (
        d.join(F.broadcast(offsets), ["epoch", "bucket"])
        .withColumn("rn", F.row_number().over(win))
        .select(
            "epoch",
            "doc_id",
            (F.col("offset") + F.col("rn")).cast("long").alias("shuffle_pos"),
        )
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/long-context
    prep step (LangChain/LlamaIndex text splitters' semantics on the
    word tokenizer): chunks of ``chunk_tokens`` starting every
    ``stride`` tokens (overlap = chunk_tokens − stride), the final
    chunk allowed short but never empty. One tokenize + one posexplode
    of the start sequence + a slice rejoin — per-row array algebra,
    zero shuffles, the _segments shape with overlap."""
    return (
        documents.where(F.col("text").isNotNull())
        .select("doc_id", F.expr(_TOKENS).alias("t"))
        .where(F.expr("size(t)") >= 1)
        .select(
            "doc_id",
            F.expr("size(t)").cast("long").alias("n_tokens"),
            F.posexplode(
                F.expr(f"sequence(1, size(t), {stride})")
            ).alias("chunk_no", "start_token"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "chunk_no",
            F.col("start_token").cast("long").alias("start_token"),
            F.least(
                F.lit(chunk_tokens),
                F.col("n_tokens") - F.col("start_token") + 1,
            ).cast("long").alias("chunk_len"),
            F.expr(f"array_join(slice(t, start_token, {chunk_tokens}), ' ')").alias(
                "chunk"
            ),
        )
    )


def data_split(
    documents: DataFrame, train_pct: int = 80, valid_pct: int = 10
) -> DataFrame:
    """Deterministic train/valid/test assignment + the balance report:
    split = bucket of a salted portable doc_id hash (stable under
    repartitioning, engines, and reruns — the stratified_sample rule
    applied to the split axis), reported per (source, split) with exact
    counts and 6dp shares. Row-local hash test, one small rollup; the
    assignment never needs a shuffle and joins back to any table by
    doc_id."""
    bucket = F.pmod(
        portable_hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + valid_pct, "valid")
        .otherwise("test")
    )
    d = documents.select("doc_id", "source", split.alias("split"))
    per_source = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (
        d.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(per_source, "source")
        .select(
            "source",
            "split",
            "n_docs",
            F.expr(
                "floor(n_docs / cast(n_src as double) * 1e6 + 0.5) / 1e6"
            ).alias("share"),
        )
    )
