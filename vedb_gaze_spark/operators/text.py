"""Text-analysis operators for large-scale training-data pipelines.

First-class engine components alongside the gaze operators (SURVEY §2.G):
language ID, quality scoring, token counting, winnowing fingerprints.
Everything is JVM-side string/regex algebra — no Python UDFs — so the
scan→project pipeline whole-stage-codegens and scales linearly with
document count; nothing here shuffles except the final fingerprint
distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import (
    TOKENS_SQL as _TOKENS,
    portable_hash60,
    portable_hash60_sql,
    spread_scan,
    spread_scan_scatter,
)
from vedb_gaze_spark.plans import params as P


def token_count(documents: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex
    (letters runs | digit runs | single other symbol)."""
    return documents.select(
        "doc_id",
        F.expr("size(split(trim(text), '\\\\s+'))").alias("ws_tokens"),
        F.expr(
            r"size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0))"
        ).alias("bpe_tokens"),
    )


def quality_cols() -> dict[str, Column]:
    """Per-row quality-metric Column builders over `text` — the single
    source of truth shared by the text_quality face and the fused
    curation projection (plans/pipeline.py, PERF_NOTES r14). Values are
    what the pre-r14 two-step select produced after CollapseProject
    inlined the intermediate counts: identical expression trees, so
    outputs are bit-identical. Repeated _TOKENS references all sit at
    projection level, where subexpression elimination collapses them to
    one regex pass per row."""
    sw = ", ".join(f"'{s}'" for s in P.STOPWORDS)
    n_chars = F.length("text")
    n_tokens = F.expr(f"size({_TOKENS})")
    n_stop = F.expr(f"size(filter({_TOKENS}, t -> t IN ({sw})))")
    n_clean = F.expr("length(regexp_replace(lower(text), '[^a-z0-9 ]', ''))")
    n_alnum = F.expr("length(regexp_replace(lower(text), '[^a-z0-9]', ''))")
    # every ratio is CASE-guarded on its denominator so the builders are
    # TOTAL functions: when the fused curation projection's gate
    # predicate pushes down past the metric projection, ANSI mode
    # evaluates these on EVERY row — including zero-token docs, where an
    # unguarded division is a DIVIDE_BY_ZERO crash (found r14 with a
    # planted empty doc; the testdata corpus has none). Guarded and
    # unguarded values are identical on every doc the faces emit.
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens)
    punct_ratio = F.when(n_chars > 0, (n_chars - n_clean) / n_chars)
    mean_word_len = F.when(n_tokens > 0, n_alnum / n_tokens)
    quality = (
        0.4 * stop_ratio
        + 0.3 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.3 * F.least(mean_word_len / 8.0, F.lit(1.0))
    ) * (1.0 - punct_ratio)
    # floor(x*1e6+0.5), not round(x, 6): Spark's round() allocates a
    # BigDecimal per row AND rounds the double's exact binary expansion
    # (HALF_UP), which disagrees with DuckDB's round() on .5-boundary
    # doubles — two sf0.1 docs sat exactly on a quality tie (PERF_NOTES
    # r14). The floor form is the repo convention (functions/core.py:
    # cents): identical IEEE double ops on both engines, equal always.
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return {
        "n_tokens": n_tokens,
        "stop_ratio": r6(stop_ratio),
        "punct_ratio": r6(punct_ratio),
        "mean_word_len": r6(mean_word_len),
        "quality": r6(quality),
    }


def text_quality(documents: DataFrame) -> DataFrame:
    """Quality scoring: length, stopword ratio, punctuation ratio, mean
    word length, combined into one deterministic score in [0,1]."""
    q = quality_cols()
    return documents.where(q["n_tokens"] > 0).select(
        "doc_id", *(c.alias(name) for name, c in q.items())
    )


def lang_pred_col() -> Column:
    """Per-row language-ID Column (marker-stopword argmax) — shared by
    the lang_id face and the fused curation projection."""
    counts = {
        lang: F.expr(
            f"size(filter({_TOKENS}, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        )
        for lang, markers in P.LANG_MARKERS.items()
    }
    c_en, c_de, c_es = counts["en"], counts["de"], counts["es"]
    return (
        F.when((c_de > c_en) & (c_de > c_es), "de")
        .when((c_es > c_en) & (c_es > c_de), "es")
        .otherwise("en")
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Language ID by marker-stopword counts (n-gram/stopword heuristic):
    argmax over per-language marker hits, ties resolved by listing order."""
    return documents.select("doc_id", lang_pred_col().alias("pred_lang"))


def shingles(documents: DataFrame, k: int = P.SHINGLE_K) -> DataFrame:
    """Distinct lowercase character k-shingles with position — shared
    substrate for fingerprinting and every near-dup operator. Spark's
    sequence() runs DESCENDING when end < start, so short docs are fenced
    out explicitly (DuckDB's generate_series just returns empty)."""
    return (
        documents.select("doc_id", F.lower("text").alias("t"))
        .where(F.length("t") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(f"transform(sequence(1, length(t)-{k - 1}), i -> substring(t, i, {k}))")
            ).alias("pos", "sh"),
        )
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Winnowing fingerprints: k-shingle hashes, then the minimum hash in
    every sliding window of WINNOW_WINDOW positions, deduplicated. The
    standard local document fingerprint (Schleimer et al.'s winnowing);
    window-min is a per-document ROWS frame — partition key doc_id scales
    with the corpus."""
    # scatter-spread (not aligned): the hashing pass parallelizes off
    # the single-split scan while the Window KEEPS its doc_id exchange,
    # which is the reuse point winnow_overlap's two fps branches share
    sh = shingles(spread_scan_scatter(documents, "doc_id")).withColumn(
        "h", portable_hash60("sh")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(P.WINNOW_WINDOW - 1), 0)
    )
    return (
        sh.withColumn("fp", F.min("h").over(w))
        .where(F.col("pos") >= P.WINNOW_WINDOW - 1)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_overlap(
    documents: DataFrame,
    max_df: int = P.WINNOW_MAX_DF,
    min_shared: int = P.WINNOW_MIN_SHARED,
) -> DataFrame:
    """MOSS-style pairwise overlap report over winnowing fingerprints
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003 §4 — the plagiarism/
    boilerplate detector built on doc_fingerprint): document pairs
    ranked by shared fingerprints, with containment = shared over the
    smaller doc's fingerprint count.

    Scale shape: fingerprints present in more than max_df documents are
    dropped BEFORE pairing — MOSS's own "ignore matches in too many
    documents" rule, and the hot-bucket bound (a fingerprint shared by
    B docs would otherwise emit B² pair rows; after the cap the pair
    fan-out per fingerprint is ≤ max_df²). The pair build is the
    dedup_exact shape: equi self-join on the fingerprint key (uniform
    60-bit hashes — no skew by construction after the cap), one
    pair-keyed rollup, two doc-keyed joins for the per-doc counts.
    Exact integers end-to-end; containment rounded 6dp at the boundary."""
    fps = doc_fingerprint(documents)
    df_ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("fp")
    )
    kept = fps.join(df_ok, "fp")
    # denominators over the SAME capped set: containment is "of the
    # informative (non-ubiquitous) fingerprints, how many are shared"
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(
            per_doc.select(
                F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
            ),
            "doc_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "floor(n_shared / cast(least(n_fp_a, n_fp_b) as double)"
                " * 1e6 + 0.5) / 1e6"
            ).alias("containment"),
        )
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of each document's character distribution — the
    zero-dependency perplexity proxy a quality-filtering pipeline uses to
    drop degenerate text (low entropy = repeated boilerplate, high =
    random noise). H = −Σ p·log2 p over characters, plus the character
    count and alphabet size.

    Characters come from split(text, '') — identical to per-byte on this
    ASCII corpus; a UTF-8 corpus would see code points, which is usually
    the better unit anyway. Two aggregations over the (doc, char) key:
    map-side partials collapse each partition's character counts first,
    so shuffle volume is O(docs × alphabet), not O(corpus chars)."""
    ch = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
    ).where(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.partitionBy("doc_id")
    p = F.col("k") / F.sum("k").over(w)
    term = p * F.log2(p)
    per = cnt.withColumn("term", term)
    return per.groupBy("doc_id").agg(
        F.sum("k").alias("n_chars"),
        F.count(F.lit(1)).alias("n_alphabet"),
        (F.floor(-F.sum("term") * 1e6 + 0.5) / 1e6).alias("entropy_bits"),
    )


_STOP_RE = "\\\\b(" + "|".join(P.STOPWORDS) + ")\\\\b"


def scrub_stopwords(documents: DataFrame) -> DataFrame:
    """Boilerplate-token scrubbing — the redaction/cleaning shape of a
    training-data pipeline (PII scrub, boilerplate strip) on the tokens
    this corpus actually contains: remove stopword tokens, report the
    removal count and the md5 of the normalized cleaned text. Pure JVM
    regex algebra; the same RE runs identically under Java regex and
    DuckDB's RE2 (word-boundary + alternation only)."""
    clean = F.expr(
        f"trim(regexp_replace(regexp_replace(lower(text), '{_STOP_RE}', ''),"
        " ' +', ' '))"
    )
    n_removed = F.expr(
        f"size(regexp_extract_all(lower(text), '{_STOP_RE}', 0))"
    )
    return documents.select(
        "doc_id",
        n_removed.alias("n_removed"),
        F.md5(clean).alias("clean_md5"),
    )


def ngram_topk(documents: DataFrame, n: int = 2, k: int = 25) -> DataFrame:
    """Corpus-wide top-k word n-grams — the vocabulary/boilerplate
    analysis pass a training-data pipeline runs before choosing filters
    (and the classic map-side-combine showcase: per-partition partial
    counts collapse the n-gram stream before the only shuffle, and the
    final top-k is a TakeOrdered heap over the aggregated vocabulary,
    never a full sort). Ties break lexicographically so the cut is
    deterministic on any engine.

    The gram array is a zip_with chain over n shifted slices, not
    transform(sequence, i -> slice(toks, i, n)): the latter re-ran the
    tokenizer regex once per gram position (lambda bodies are CSE scope
    boundaries — PERF_NOTES r14), the former keeps every toks reference
    at projection level. 5.4 s → sub-second at sf0.1, grams identical."""
    # sequence(1, 0) DESCENDS in Spark (see shingles); fence short docs out
    m = f"size({_TOKENS}) - {n - 1}"
    chain = f"slice({_TOKENS}, 1, {m})"
    for j in range(2, n + 1):
        chain = (
            f"zip_with({chain}, slice({_TOKENS}, {j}, {m}),"
            f" (x, y) -> concat(x, ' ', y))"
        )
    grams = documents.select(
        F.explode(
            F.expr(
                f"CASE WHEN size({_TOKENS}) >= {n} THEN {chain} "
                f"ELSE array() END"
            )
        ).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "ngram")
        .limit(k)
    )


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII redaction — the privacy-scrub pass every training-data
    pipeline runs before anything else sees the text: emails, phone
    numbers, and IPv4 literals replaced with typed tokens, with per-class
    match counts for the curation report.

    Patterns are applied SEQUENTIALLY, each counted on the text as the
    previous scrub left it (so a phone never double-counts as an IP once
    redacted), and stay within the regex subset Java and RE2 share
    (no lookaround, no backrefs) so the oracle runs the identical
    automaton. Pure JVM regexp algebra — per-doc, no shuffle, codegens
    with the scan."""
    counts, clean = pii_cols()
    return documents.select(
        "doc_id",
        *(c.alias(name) for name, c in counts.items()),
        clean.alias("clean_text"),
    )


def pii_cols() -> tuple[dict[str, Column], Column]:
    """Per-row PII Column builders (per-class counts on the sequentially
    scrubbed text, plus the scrubbed text itself) — shared by the
    pii_scrub face and the fused curation projection."""
    t = F.col("text")
    counts: dict[str, Column] = {}
    for pat, tok, name in P.PII_PATTERNS:
        counts[name] = F.regexp_count(t, F.lit(pat))
        t = F.regexp_replace(t, pat, tok)
    return counts, t


def repetition_score(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition gates: the fraction of tokens consumed by
    the single most frequent word and the duplicate fraction of word
    2-grams — the standard boilerplate/low-diversity filters for web
    corpora (Rae et al. 2021's repetition rules, re-expressed over this
    corpus's token streams).

    Both scores are PER-ROW array expressions — no explode, no shuffle,
    one scan. Expression form matters 11× here (PERF_NOTES r14): the
    tokenizer regex must never be referenced INSIDE a lambda body,
    because subexpression elimination is projection-level only — the
    original transform(distinct, t -> filter(toks, ...)) form re-ran
    regexp_extract_all per outer element (O(distinct) regex passes per
    doc, 7.4 s at sf0.1). Token mode is a single-pass max-run-length
    aggregate over the SORTED tokens (equal to the max count, ties
    irrelevant); 2-grams zip adjacent slices. Every toks reference now
    sits at projection level where CSE collapses them (0.66 s, values
    bit-identical). Docs with no tokens are fenced out (the curation
    gate upstream already drops empty text)."""
    top, dup = repetition_cols()
    return (
        documents.where(F.expr(f"size({_TOKENS})") >= 1)
        .select(
            "doc_id",
            top.alias("top_word_frac"),
            dup.alias("dup_2gram_frac"),
        )
    )


def repetition_cols() -> tuple[Column, Column]:
    """Per-row (top_word_frac, dup_2gram_frac) Column builders — shared
    by the repetition_score face and the fused curation projection. The
    caller fences out zero-token docs (size(_TOKENS) >= 1)."""
    n = f"size({_TOKENS})"
    top = (
        f"aggregate(array_sort({_TOKENS}),"
        " named_struct('prev', cast(null as string), 'run', 0, 'best', 0),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'run', CASE WHEN x <=> a.prev THEN a.run + 1 ELSE 1 END,"
        "   'best', greatest(a.best,"
        "     CASE WHEN x <=> a.prev THEN a.run + 1 ELSE 1 END)),"
        " a -> a.best)"
    )
    grams = (
        f"zip_with(slice({_TOKENS}, 1, {n} - 1), slice({_TOKENS}, 2, {n} - 1),"
        f" (x, y) -> concat(x, ' ', y))"
    )
    dup = (
        f"CASE WHEN {n} >= 2 THEN "
        f"floor((1.0 - size(array_distinct({grams})) / cast({n} - 1 as double))"
        f" * 1e6 + 0.5) / 1e6 ELSE 0.0d END"
    )
    # CASE-guarded like quality_cols' ratios: pushed-down gate
    # predicates evaluate this on zero-token rows under ANSI
    return (
        F.expr(
            f"CASE WHEN {n} >= 1 THEN "
            f"floor({top} / cast({n} as double) * 1e6 + 0.5) / 1e6 END"
        ),
        F.expr(dup),
    )


def bm25_search(documents: DataFrame, query: tuple = P.BM25_QUERY) -> DataFrame:
    """BM25 top-k retrieval for a literal keyword query (Okapi BM25,
    k1/b at the standard defaults). One scan computes per-doc tf for
    each query term plus doc length; ONE global aggregate yields N,
    avgdl, and every term's df; the single-row stats join back by
    broadcast, so scoring is scan -> agg -> broadcast-join -> top-k —
    no per-term shuffle, term count only widens the projection.

    Floats: idf/score are computed with an identical literal expression
    order on both engines and rounded to 6 dp (ln differs in the last
    ulp across libm implementations)."""
    tf_cols = [
        F.expr(f"size(filter({_TOKENS}, t -> t = '{t}'))").alias(f"tf{i}")
        for i, t in enumerate(query)
    ]
    d = documents.select("doc_id", F.expr(f"size({_TOKENS})").alias("dl"), *tf_cols)
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query))
        ],
    )
    k1, b = P.BM25_K1, P.BM25_B
    scored = d.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        tf = F.col(f"tf{i}").cast("double")
        term = idf * (
            tf
            * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
        )
        score = term if score is None else score + term
    ranked = scored.select(
        "doc_id", "dl", F.round(score, 6).alias("score")
    ).where(F.col("score") > 0)
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps,
    # no single-partition shuffle); the row_number window then runs on the
    # k survivors only.
    top = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(P.BM25_TOPK)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "dl", "score"
    )


def lm_score(documents: DataFrame) -> DataFrame:
    """Unigram-LM cross-entropy per document — the CCNet-style quality
    filter (Wenzek et al. 2020) with the LM trained on the corpus
    itself in the same plan: P(w) = (count+1)/(N+V) Laplace-smoothed,
    doc score = -mean log P over its tokens (lower = more typical).

    Determinism trick: per-WORD log-probs are quantized to integer
    micro-nats (floor(ln(p)·1e6 + 0.5)) in the tiny vocabulary table
    BEFORE the per-doc sum, so the corpus-sized aggregation sums exact
    integers — order-independent at any parallelism — and the one
    ln() per distinct word is rounding-absorbed.

    Scale note: the log-prob table has one row per DISTINCT corpus
    token — corpus-dependent and unbounded (10^9+ on web-scale text) —
    so it must NOT carry a forced broadcast hint. The word-keyed join
    is left to AQE: broadcast when the runtime size is small, shuffle
    hash join on the uniform word key otherwise. Only the 2-row global
    stats table is force-broadcast."""
    toks = documents.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("word")
    )
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    stats = wc.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    logq = (
        wc.crossJoin(F.broadcast(stats))
        .select(
            "word",
            F.floor(
                F.log((F.col("cnt") + 1.0) / (F.col("n_total") + F.col("vocab")))
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("logq"),
        )
    )
    return (
        toks.join(logq, "word")
        .groupBy("doc_id")
        .agg(F.sum("logq").alias("s"), F.count(F.lit(1)).alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(-F.col("s") / (1e6 * F.col("n_tokens")), 6).alias(
                "cross_entropy"
            ),
        )
    )


def tfidf_keywords(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf (ln N/df),
    ties broken lexicographically. The keyword-extraction pass of a
    curation/indexing pipeline.

    Plan shape: distinct per-doc term frequencies in one groupBy; the
    per-doc top-k window partitions on doc_id, so every stage keys on
    doc or word — corpus scans never meet a corpus-sized shuffle that
    isn't the tf groupBy itself.

    Scale note: the document-frequency table is vocabulary-sized (one
    row per distinct corpus token, unbounded at web scale), so the
    tf⋈df join carries no forced broadcast hint — AQE broadcasts when
    the runtime size is small and otherwise shuffle-joins on the word
    key, which the tf groupBy already partitioned on (the exchange is
    reused). Only the 1-row n_docs scalar is force-broadcast."""
    tf = (
        documents.select("doc_id", F.explode(F.expr(_TOKENS)).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select("doc_id").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "word", "tfidf")
    )


def bm25_search_indexed(
    spark, prefix: str, query: tuple = P.BM25_QUERY
) -> DataFrame:
    """BM25 top-k retrieval against the STORED inverted index
    (sources/bucketing.py:write_bm25_index) — identical output to
    bm25_search over the same corpus (parity-pinned), different cost
    model: the postings scan is bucket-pruned to the query terms'
    buckets (plan-pinned SelectedBucketsCount), so a query reads its
    terms' postings lists, never the corpus. Per-term idf comes from
    the stored df table via the same pruned probe; the 1-row stats
    table broadcasts.

    The score algebra, rounding, and tie-breaks are bm25_search's,
    term-summed via a pivot on the pruned postings (docs missing a
    term contribute tf = 0 exactly as the scan form's filter() does)."""
    terms = list(query)
    post = (
        spark.table(f"{prefix}_postings")
        .where(F.col("word").isin(terms))
    )
    dfreq = (
        spark.table(f"{prefix}_df").where(F.col("word").isin(terms))
    )
    stats = spark.table(f"{prefix}_stats")
    scored = (
        post.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
    )
    k1, b = P.BM25_K1, P.BM25_B
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    term_score = idf * (
        tf
        * F.lit(k1 + 1.0)
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    # per-term scores sum per doc in the terms' literal order (a fixed
    # fold, like the scan form) so float addition order is identical:
    # pivot to tf columns per term, then the same left-to-right sum
    per_term = scored.select(
        "doc_id", "dl", "word", term_score.alias("ts")
    )
    agg = per_term.groupBy("doc_id", "dl").pivot("word", terms).agg(
        F.first("ts")
    )
    total = None
    for t in terms:
        c = F.coalesce(F.col(f"`{t}`"), F.lit(0.0))
        total = c if total is None else total + c
    ranked = agg.select(
        "doc_id", "dl", F.round(total, 6).alias("score")
    ).where(F.col("score") > 0)
    top = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(P.BM25_TOPK)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "dl", "score"
    )


def hash_embed(documents: DataFrame, dims: int = 64) -> DataFrame:
    """Model-free document embeddings by signed feature hashing
    (Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
    Learning"): every token adds ±1 (sign from a second hash bit) to
    one of ``dims`` buckets; the signed-count vector is L2-normalized.

    Bridges the documents table to the embedding-operator family —
    ann_cosine_topk / semdedup / ann_pq run on hash_embed output
    unchanged (composition pinned in tests) — giving a semantic-ish
    dedup path that needs no trained model.

    Exactness: bucket counts are exact integers; the norm is sqrt of
    an integer, so both engines divide the same doubles (rounded to
    6dp at the boundary).

    Plan (the dedup_simhash shape): explode the token stream ONCE —
    each token's two md5s are computed exactly once — and fold it with
    a single whole-stage-codegen groupBy carrying ``dims`` conditional
    integer sums; the vector assembles from the aggregate columns. One
    uniform doc_id-keyed shuffle whose payload is ``dims`` longs per
    doc. The previous zero-shuffle form built the vector with a
    per-row transform(sequence(dims), b -> aggregate(tokens, ...)):
    higher-order functions evaluate INTERPRETED and CollapseProject
    inlined the md5 chain into all ``dims`` aggregates — measured 74 s
    at sf0.1 vs ~1 s for this form (the multimodal_phash_dedup lesson,
    PERF_NOTES r5)."""
    sgn = "concat('sgn:', t)"
    toks = (
        spread_scan(documents, "doc_id")
        .where(F.col("text").isNotNull())
        .where(F.expr(f"size({_TOKENS})") >= 1)
        .select("doc_id", F.explode(F.expr(_TOKENS)).alias("t"))
        .select(
            "doc_id",
            F.expr(f"cast({portable_hash60_sql('t')} % {dims} as int)").alias("b"),
            F.expr(
                f"cast({portable_hash60_sql(sgn)} % 2 * 2 - 1 as long)"
            ).alias("s"),
        )
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("b") == i, F.col("s")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"c{i}")
            for i in range(dims)
        ]
    )
    return (
        sums.select(
            "doc_id", F.array(*[f"c{i}" for i in range(dims)]).alias("c")
        )
        .select(
            "doc_id",
            F.expr(
                "sqrt(aggregate(c, 0L, (acc, x) -> acc + x * x))"
            ).alias("nrm"),
            "c",
        )
        .where(F.col("nrm") > 0)
        .select(
            "doc_id",
            F.expr(
                "transform(c, x -> floor(x / nrm * 1e6 + 0.5) / 1e6)"
            ).alias("embedding"),
        )
    )


def lm_score_bigram(documents: DataFrame) -> DataFrame:
    """Interpolated bigram-LM cross-entropy per document — the stronger
    CCNet-style quality signal (Jelinek-Mercer smoothing: λ·ML bigram +
    (1−λ)·Laplace unigram, both trained on the corpus in the same
    plan). Lower = more corpus-typical; repeated boilerplate phrases
    score much lower than lm_score's unigram model can express, which
    is why production pipelines filter on an n-gram LM, not unigrams.

    Determinism: the interpolated log-prob is quantized to integer
    micro-nats per DISTINCT (prev, word) in the model table BEFORE the
    corpus-sized sum — the lm_score trick, one ln() per distinct
    bigram. First tokens (no predecessor) take the unigram micro-nat
    table. Both model tables are vocabulary-sized — NO forced
    broadcast (the r4 lesson); AQE chooses the join strategy.

    One posexplode, one per-doc lag window (uniform doc_id key), the
    model aggregations, and a doc_id rollup of exact integers.
    """
    toks = documents.select(
        "doc_id", F.posexplode(F.expr(_TOKENS)).alias("i", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    stream = toks.withColumn("prev", F.lag("word").over(w))
    # unigram model (identical to lm_score's table)
    wc = stream.groupBy("word").agg(F.count(F.lit(1)).alias("cu"))
    stats = wc.agg(
        F.sum("cu").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    uni = wc.crossJoin(F.broadcast(stats)).select(
        "word",
        "cu",
        F.floor(
            F.log((F.col("cu") + 1.0) / (F.col("n_total") + F.col("vocab")))
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("logq_u"),
        (F.col("n_total") + F.col("vocab")).alias("denom_u"),
    )
    # bigram ML counts: c2(prev, word) and c1s(prev) = bigram starts
    big = stream.where(F.col("prev").isNotNull())
    c2 = big.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("c2"))
    c1s = big.groupBy("prev").agg(F.count(F.lit(1)).alias("c1s"))
    lam = P.LM2_LAMBDA
    bi = (
        c2.join(c1s, "prev")
        .join(uni.select("word", "cu", "denom_u"), "word")
        .select(
            "prev",
            "word",
            F.floor(
                F.log(
                    F.lit(lam) * F.col("c2") / F.col("c1s")
                    + F.lit(1.0 - lam)
                    * (F.col("cu") + 1.0)
                    / F.col("denom_u")
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("logq_b"),
        )
    )
    first = (
        stream.where(F.col("prev").isNull())
        .join(uni.select("word", "logq_u"), "word")
        .select("doc_id", F.col("logq_u").alias("lq"))
    )
    rest = big.join(bi, ["prev", "word"]).select(
        "doc_id", F.col("logq_b").alias("lq")
    )
    return (
        first.unionByName(rest)
        .groupBy("doc_id")
        .agg(F.sum("lq").alias("s"), F.count(F.lit(1)).alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(-F.col("s") / (1e6 * F.col("n_tokens")), 6).alias(
                "cross_entropy"
            ),
        )
    )


def _doc_grams(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): each document's DISTINCT word n-grams as 60-bit
    portable hashes — the gram relation behind ngram_novelty and the
    frozen gram index (write_gram_index / novelty_vs_index)."""
    return (
        # scatter-spread (r14): gram build + per-gram md5 off the scan
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
        .select("doc_id", portable_hash60("ng").alias("g"))
    )


def write_gram_index(
    documents: DataFrame,
    table: str,
    n: int = P.NOVELTY_NGRAM,
    n_buckets: int = 32,
    since: int = -1,
) -> None:
    """Freeze a corpus's distinct gram hashes as a bucketed managed
    table — the stored-index side of novelty_vs_index. Bucketing by g
    means every later probe join reads the corpus-sized side
    PRE-PARTITIONED (zero Exchange above its scan, plan-pinned): the
    nightly novelty gate re-shuffles only the incoming batch, never
    the index (the write_doc_sets_bucketed / bm25 index pattern).

    `since` stamps each gram's admission batch (-1 = the base build):
    append_gram_index writes later batches with their batch id, so a
    replayed streaming scorer can reconstruct the exact prior-corpus
    view (`since < batch_id`) — the batch-id-versioned idempotency
    contract of streaming/maintenance.py, carried in a column instead
    of a directory version because grams hash uniformly (every bucket
    is touched by every batch, so partition-scoped overwrite would
    degenerate to a full rewrite; append-only is the right merge for
    an immutable gram SET)."""
    (
        _doc_grams(documents, n)
        .select("g")
        .distinct()
        .select("g", F.lit(int(since)).cast("long").alias("since"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "g")
        .sortBy("g")
        .saveAsTable(table)
    )


def append_gram_index(
    documents: DataFrame,
    table: str,
    n: int = P.NOVELTY_NGRAM,
    n_buckets: int = 32,
    since: int = 0,
) -> None:
    """Merge a batch's NEW distinct grams into an existing bucketed
    gram index WITHOUT rewriting it — the incremental-maintenance twin
    of write_gram_index (the dedup_minhash_incremental pattern: the
    nightly intake gate advances the index by O(batch), never O(index)).

    One anti-join (batch grams LEFT ANTI stored grams — the index side
    reads bucketed, exchange-free) selects only grams absent from the
    index; the append adds new files per bucket under the SAME bucket
    spec, so every pre-existing index file stays byte-identical
    (pytest-pinned) and later probe joins remain exchange-free over
    the union of files. Idempotent by construction: replaying a batch
    whose append committed anti-joins to zero fresh grams. The `since`
    stamp (see write_gram_index) lets a replayed scorer exclude the
    batch's own grams from its prior-corpus view."""
    spark = documents.sparkSession
    fresh = (
        _doc_grams(documents, n)
        .select("g")
        .distinct()
        .join(spark.table(table).select("g"), "g", "left_anti")
        .select("g", F.lit(int(since)).cast("long").alias("since"))
    )
    (
        fresh.write.mode("append")
        .bucketBy(n_buckets, "g")
        .sortBy("g")
        .saveAsTable(table)
    )


def novelty_vs_index(
    documents: DataFrame, index: DataFrame, n: int = P.NOVELTY_NGRAM
) -> DataFrame:
    """Novelty of NEW documents against a FROZEN corpus gram index
    (write_gram_index): per document, the fraction of its distinct
    n-grams absent from the index — the intake-gate complement of
    ngram_novelty's within-corpus first-occurrence form (score a
    crawl/delivery batch against yesterday's corpus without touching
    it). Left join on the uniform hashed gram key — with the bucketed
    index the corpus side joins exchange-free — then one doc_id
    rollup of exact integers."""
    grams = _doc_grams(documents, n)
    hit = index.select("g", F.lit(1).alias("seen"))
    return (
        grams.join(hit, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_new",
            F.expr(
                "floor(n_new / cast(n_grams as double) * 1e6 + 0.5) / 1e6"
            ).alias("novelty"),
        )
    )


def ngram_novelty(
    documents: DataFrame, n: int = P.NOVELTY_NGRAM
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct n-grams whose FIRST corpus occurrence (minimum doc_id over
    all documents containing the gram) is this document — the
    "new-information" curation signal that separates template spam
    (novelty ~0 after the first copy) from genuinely fresh content, and
    the doc-level complement of line_dedup's first-occurrence keep rule.

    Scale shape: NO corpus-sized join — the naive form joins the
    first-occurrence table back onto the whole gram stream; here both
    sides collapse to DOC-level aggregates first (per-doc gram counts;
    per-gram min doc_id re-aggregated into per-doc first-ownership
    counts — every stage map-side-combines over uniform hashed-gram /
    doc_id keys) and the final join carries one row per document.
    Novelty is an exact integer ratio rounded 6dp at the boundary."""
    grams = _doc_grams(documents, n)
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    owned = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    return (
        per_doc.join(owned, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_first",
            F.expr(
                "floor(n_first / cast(n_grams as double) * 1e6 + 0.5) / 1e6"
            ).alias("novelty"),
        )
    )


def pmi_bigrams(
    documents: DataFrame,
    k: int = P.PMI_TOPK,
    min_count: int = P.PMI_MIN_COUNT,
) -> DataFrame:
    """Top-k adjacent-token collocations by pointwise mutual information
    (Church & Hanks 1990): pmi(a,b) = ln(p(a,b) / (p(a)·p(b))) with
    p(a,b) = c2/M (bigram count over total bigrams) and p(·) = c1/N
    (unigram counts over total tokens) — the corpus-level phrase miner
    (multi-word expressions, boilerplate signatures) beside ngram_topk's
    raw frequency view.

    Determinism: all counts are exact integers; pmi evaluates as ONE
    ln() over the product of three ratios written IDENTICALLY on both
    engines — (c2/M)·(N/c1a)·(N/c1b), each division double, left
    associative — then quantized to micro-nats (the lm_score trick)
    BEFORE ranking, so the (pmi, a, b) order is engine-identical. (The
    integer form c2·N² overflows int64 at web-scale token counts —
    the ratios never leave double range.) Scale shape: one posexplode
    + per-doc lag window (uniform doc_id key), two map-side-combining
    groupBys over short token keys, count-scalar cross-joins, and a
    TakeOrdered top-k — the frequency floor (min_count) prunes the
    rank input to the collocation head, never the corpus."""
    toks = documents.select(
        "doc_id", F.posexplode(F.expr(_TOKENS)).alias("i", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    stream = toks.withColumn("prev", F.lag("word").over(w))
    uni = stream.groupBy("word").agg(F.count(F.lit(1)).alias("c1"))
    totals = uni.agg(
        F.sum("c1").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    big = stream.where(F.col("prev").isNotNull())
    c2 = (
        big.groupBy("prev", "word")
        .agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") >= min_count)
    )
    m_tot = big.agg(F.count(F.lit(1)).alias("m_bigrams"))
    scored = (
        c2.join(
            uni.select(F.col("word").alias("prev"), F.col("c1").alias("c1a")),
            "prev",
        )
        .join(uni.select("word", F.col("c1").alias("c1b")), "word")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(m_tot))
        .select(
            F.col("prev").alias("w1"),
            F.col("word").alias("w2"),
            "c2",
            "c1a",
            "c1b",
            F.floor(
                F.expr(
                    "ln((cast(c2 as double) / m_bigrams)"
                    " * (cast(n_tokens as double) / c1a)"
                    " * (cast(n_tokens as double) / c1b))"
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("pmi_units"),
        )
    )
    top = scored.orderBy(F.desc("pmi_units"), "w1", "w2").limit(k)
    wr = Window.orderBy(F.desc("pmi_units"), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(wr)).select(
        "rank", "w1", "w2", "c2", "pmi_units"
    )


def token_zipf_fit(documents: DataFrame) -> DataFrame:
    """Zipf rank-frequency diagnostic (Zipf 1949; Piantadosi 2014
    review): least-squares slope of ln(freq) on ln(rank) over the word
    vocabulary — the one-number sanity check that a corpus's token
    distribution looks like natural language (slope ≈ −1) rather than
    template spam (flat head) or near-duplicate floods (step cliffs).

    Exactness: per-word ln terms quantize to micro-units FIRST; the
    regression sums (Σx, Σy, Σxy, Σx²) are then exact integer sums of
    integer products — order-free — and only the final closed-form
    slope/intercept divisions are floats, rounded 6dp (the micro-nat
    discipline applied to least squares). Scale: everything after the
    one corpus-sized word rollup is VOCABULARY-sized; the rank window
    sorts the vocabulary only (documented bound, ≪ corpus)."""
    wc = (
        documents.where(F.col("text").isNotNull())
        .select(F.explode(F.expr(_TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wr = Window.orderBy(F.desc("freq"), "word")
    pts = wc.withColumn("rank", F.row_number().over(wr)).select(
        F.expr("cast(floor(ln(cast(rank as double)) * 1e6 + 0.5) as long)").alias("x"),
        F.expr("cast(floor(ln(cast(freq as double)) * 1e6 + 0.5) as long)").alias("y"),
    )
    # Overflow discipline (r9): the second-moment sums and the
    # closed-form cross terms (n·sxx, sx², n·sxy, sx·sy) leave int64
    # range once the vocabulary passes ~10⁴–10⁵ types (x ≈ ln(V)·1e6,
    # so sx² ≈ V²·ln²(V)·1e12), so they accumulate as decimal(38,0)
    # here and HUGEINT in the DuckDB mirror — each per-term product
    # still fits int64 (ln(10⁹)²·1e12 < 2⁶³), only the SUMS widen.
    # Both engines cast the exact integer numerator/denominator to
    # double before the one division, so the result doubles are
    # bit-identical (nearest-rounding of the same exact integers).
    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    _num = (
        "(cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy)"
    )
    _den = (
        "(cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx)"
    )
    return agg.select(
        F.col("n").alias("n_types"),
        F.expr(
            f"floor(cast({_num} as double) / cast({_den} as double)"
            " * 1e6 + 0.5) / 1e6"
        ).alias("zipf_slope"),
        F.expr(
            f"floor((sy - cast({_num} as double) / cast({_den} as double)"
            " * sx) / cast(n as double) + 0.5) / 1e6"
        ).alias("zipf_intercept"),
    )


def heaps_law(documents: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth report (Heaps 1978): distinct word
    types vs corpus size at nested doc_id prefixes (10/25/50/100%) —
    the curve whose flattening reveals near-duplicate content (dup
    floods add tokens but no types) and whose slope calibrates
    hash/vocab sizing before a full tokenizer train.

    One explode, one conditional aggregate — each prefix is a FILTERed
    count over the same scan, never a per-prefix job; the doc_id bound
    joins in as a broadcast scalar (no driver collect). doc_id prefixes
    (not random samples) keep the report deterministic and the SQL
    mirror exact."""
    toks = (
        # scatter-spread (r14): both global aggs re-read this subtree
        spread_scan_scatter(documents, "doc_id")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.expr(_TOKENS)).alias("word"))
    )
    mxdf = toks.agg(F.max("doc_id").alias("mx"))
    t = toks.crossJoin(F.broadcast(mxdf))
    aggs = []
    for pct in (10, 25, 50, 100):
        cond = F.col("doc_id") <= F.expr(f"cast(floor(mx * {pct} / 100.0) as bigint)")
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"tok_{pct}"))
        aggs.append(
            F.count_distinct(F.when(cond, F.col("word"))).alias(f"typ_{pct}")
        )
    wide = t.agg(*aggs)
    parts = []
    for pct in (10, 25, 50, 100):
        parts.append(
            wide.select(
                F.lit(pct).alias("prefix_pct"),
                F.col(f"tok_{pct}").cast("long").alias("n_tokens"),
                F.col(f"typ_{pct}").cast("long").alias("n_types"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _nb_model_frames(documents: DataFrame, alpha: int = 1):
    """The NB model as three vocabulary-sized DataFrames — the ONE
    definition both the batch face and the frozen-model streaming
    scorer (streaming/corpus.py:nb_lang_model) derive from, so their
    micro-nat integers are identical by construction."""
    toks = (
        documents.where(F.col("text").isNotNull())
        .select("doc_id", "lang", F.explode(F.expr(_TOKENS)).alias("word"))
    )
    langs = toks.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    vocab = toks.agg(F.count_distinct("word").alias("v"))
    lw = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    # model tables: micro-nat log-likelihoods from exact integers
    model = (
        lw.join(F.broadcast(langs.select("lang", "n_tok")), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("mlang"),
            "word",
            F.expr(
                f"cast(floor(ln((c + {alpha}) /"
                f" cast(n_tok + {alpha} * v as double)) * 1e6) as long)"
            ).alias("logp"),
        )
    )
    floor_ = (
        langs.crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("mlang"),
            F.expr(
                f"cast(floor(ln({alpha} /"
                f" cast(n_tok + {alpha} * v as double)) * 1e6) as long)"
            ).alias("logp0"),
        )
    )
    total_docs = documents.where(F.col("text").isNotNull()).select(
        F.count(F.lit(1)).alias("nd")
    )
    prior = (
        langs.crossJoin(F.broadcast(total_docs))
        .select(
            F.col("lang").alias("mlang"),
            F.expr(
                "cast(floor(ln(n_docs / cast(nd as double)) * 1e6) as long)"
            ).alias("logprior"),
        )
    )
    return toks, langs, model, floor_, prior


def nb_lang_id(documents: DataFrame, alpha: int = 1) -> DataFrame:
    """Trained Naive-Bayes language identifier (the fastText-LID shape
    reduced to its exactly-reproducible core; McCallum & Nigam 1998
    multinomial NB): class-conditional unigram log-probabilities with
    Laplace smoothing are trained IN-PLAN from the labeled corpus (the
    lm_score discipline, per language), and every document is scored
    argmax_l [ log P(l) + Σ_tokens log P(w|l) ].

    Unlike quality_classifier_trained (gradient floats → rows-only),
    EVERY number here is derived from exact integer counts: log terms
    quantize to micro-nats, per-doc sums are exact longs, and argmax
    ties break lexicographically — so a TRAINED MULTICLASS CLASSIFIER
    is fully SQL-oracled, train and inference both hash-gated.

    Scale shape: training = one (lang, word) rollup + one lang rollup
    (vocabulary-sized model tables, joined back — never collected);
    scoring = doc-token stream × |langs| (a bounded fan-out join on the
    model table), one (doc, lang) rollup, one doc-keyed window for the
    argmax. Unseen (lang, word) pairs take the smoothing floor via the
    left join's null branch.

    Honesty note (measured): the bench corpus draws every language's
    text from ONE shared token pool — there is NO lexical language
    signal, so accuracy here sits at the class-prior rate (0.47 at
    sf0.01 ≈ en's 0.44 doc share; binarized NB measured worse, 0.34).
    The operator's correctness is pinned on a planted corpus with
    per-language vocabularies (accuracy 1.0, tests/test_corpus.py);
    on the bench corpus the value is the hash-gated train+inference
    plan, not the headline number."""
    toks, langs, model, floor_, prior = _nb_model_frames(documents, alpha)
    # score every doc against every language: bounded fan-out on langs
    cand = toks.crossJoin(
        F.broadcast(langs.select(F.col("lang").alias("mlang")))
    )
    # model is (lang × vocabulary)-sized — NOT broadcast (an unbounded
    # broadcast at real vocabulary scale); the shuffle join on
    # (mlang, word) is the scale path, and AQE still elects a broadcast
    # on its own when the trained model happens to be small. Only the
    # langs-sized floor_/prior tables carry the hint.
    scored = (
        cand.join(model, ["mlang", "word"], "left")
        .join(F.broadcast(floor_), "mlang")
        .select(
            "doc_id",
            "lang",
            "mlang",
            F.coalesce("logp", "logp0").alias("term"),
        )
        .groupBy("doc_id", "lang", "mlang")
        .agg(F.sum("term").alias("loglik"))
        .join(F.broadcast(prior), "mlang")
        .select(
            "doc_id",
            "lang",
            "mlang",
            (F.col("loglik") + F.col("logprior")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "mlang")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("mlang").alias("pred_lang"),
            F.col("score").alias("score_micro_nats"),
            (F.col("mlang") == F.col("lang")).alias("correct"),
        )
    )


def lm_score_trigram(documents: DataFrame) -> DataFrame:
    """Interpolated TRIGRAM-LM cross-entropy per document — one more
    Jelinek-Mercer level on lm_score_bigram (Jelinek & Mercer 1980;
    Chen & Goodman 1999 §2.4's recursive interpolation): p₃ = λ₃·ML
    trigram + (1−λ₃)·p₂, where p₂ is the bigram operator's identical
    interpolated model. Longer context separates templated boilerplate
    from fluent text even harder than bigrams — the reason production
    perplexity filters use a 5-gram KenLM; this is that shape's exact,
    oracle-checkable 3-gram form.

    Determinism: the lm_score discipline one level deeper — ONE ln per
    distinct trigram, quantized to integer micro-nats BEFORE the
    corpus-sized sum; both engines evaluate the identical literal-λ
    double expression. Token 1 takes the unigram table, token 2 the
    bigram table, the rest the trigram table; all three model tables
    are vocabulary/bigram/trigram-type-sized — no forced broadcasts.

    Scale: one posexplode, two lag windows on the SAME doc-keyed sort,
    three model rollups, one doc rollup of exact longs."""
    toks = documents.select(
        "doc_id", F.posexplode(F.expr(_TOKENS)).alias("i", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    stream = toks.withColumn("prev", F.lag("word").over(w)).withColumn(
        "prev2", F.lag("word", 2).over(w)
    )
    wc = stream.groupBy("word").agg(F.count(F.lit(1)).alias("cu"))
    stats = wc.agg(
        F.sum("cu").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    uni = wc.crossJoin(F.broadcast(stats)).select(
        "word",
        "cu",
        F.floor(
            F.log((F.col("cu") + 1.0) / (F.col("n_total") + F.col("vocab")))
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("logq_u"),
        (F.col("n_total") + F.col("vocab")).alias("denom_u"),
    )
    big = stream.where(F.col("prev").isNotNull())
    c2 = big.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("c2"))
    c1s = big.groupBy("prev").agg(F.count(F.lit(1)).alias("c1s"))
    lam2 = P.LM2_LAMBDA
    p2expr = (
        F.lit(lam2) * F.col("c2") / F.col("c1s")
        + F.lit(1.0 - lam2) * (F.col("cu") + 1.0) / F.col("denom_u")
    )
    bi = (
        c2.join(c1s, "prev")
        .join(uni.select("word", "cu", "denom_u"), "word")
        .select(
            "prev",
            "word",
            F.floor(F.log(p2expr) * 1e6 + 0.5).cast("long").alias("logq_b"),
            p2expr.alias("p2"),
        )
    )
    tri_stream = stream.where(F.col("prev2").isNotNull())
    c3 = tri_stream.groupBy("prev2", "prev", "word").agg(
        F.count(F.lit(1)).alias("c3")
    )
    c2s = tri_stream.groupBy("prev2", "prev").agg(
        F.count(F.lit(1)).alias("c2s")
    )
    lam3 = P.LM3_LAMBDA
    tri = (
        c3.join(c2s, ["prev2", "prev"])
        .join(bi.select("prev", "word", "p2"), ["prev", "word"])
        .select(
            "prev2",
            "prev",
            "word",
            F.floor(
                F.log(
                    F.lit(lam3) * F.col("c3") / F.col("c2s")
                    + F.lit(1.0 - lam3) * F.col("p2")
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("logq_t"),
        )
    )
    first = (
        stream.where(F.col("prev").isNull())
        .join(uni.select("word", "logq_u"), "word")
        .select("doc_id", F.col("logq_u").alias("lq"))
    )
    second = (
        stream.where(F.col("prev").isNotNull() & F.col("prev2").isNull())
        .join(bi.select("prev", "word", "logq_b"), ["prev", "word"])
        .select("doc_id", F.col("logq_b").alias("lq"))
    )
    rest = tri_stream.join(tri, ["prev2", "prev", "word"]).select(
        "doc_id", F.col("logq_t").alias("lq")
    )
    return (
        first.unionByName(second)
        .unionByName(rest)
        .groupBy("doc_id")
        .agg(F.sum("lq").alias("s"), F.count(F.lit(1)).alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(-F.col("s") / (1e6 * F.col("n_tokens")), 6).alias(
                "cross_entropy"
            ),
        )
    )
