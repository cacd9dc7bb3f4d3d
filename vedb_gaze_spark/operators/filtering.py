"""Corpus quality-filter operators: the published web-corpus filter
recipes re-expressed as single-scan Spark plans (SURVEY §2.G family).

- ``gopher_rules``: the Gopher quality heuristics (Rae et al. 2021,
  "Scaling Language Models", Table A1) — word-count bounds, mean word
  length, symbol ratio, required stopwords, repetition gates — folded
  into one decision table with a first-failing-rule label.
- ``c4_clean``: C4-style line-level cleaning (Raffel et al. 2020 §2.2):
  per-line keep predicates, order-preserving document rebuild, and a
  minimum-surviving-lines document gate.
- ``quality_classifier``: a fastText-style linear classifier
  (Joulin et al. 2017) over hashed bag-of-words features with a
  deterministic hash-derived weight table — the shape of the
  "GPT-3/LLaMA quality classifier" stage with a reproducible model.
- ``ccnet_ppl_buckets``: CCNet's perplexity tertiles (Wenzek et al.
  2020) — head/middle/tail per language over the unigram-LM
  cross-entropy from :func:`text.lm_score`.

Every rule computation is a per-row JVM array/string expression — no
explode, no Python, no shuffle except where a corpus-level statistic is
semantically required (the LM table in ``ccnet_ppl_buckets``), so the
filters whole-stage-codegen and scale linearly with document count.

Reference parity: the reference engine has no web-corpus curation
surface (its cleaning family is signal-level, vedb_gaze/marker_parsing
.py:53); these operators are the training-data-pipeline extension the
brief calls for, with thresholds calibrated on the synthetic corpus so
every gate is live (params.py documents each choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import TOKENS_SQL as _TOKS, portable_hash60_sql
from vedb_gaze_spark.plans import params as P


def _round6(expr: str) -> str:
    """floor(x*1e6+0.5)/1e6 — the cross-engine rounding used everywhere
    a double crosses the oracle boundary (identical in DuckDB)."""
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


def gopher_rules(documents: DataFrame) -> DataFrame:
    """Gopher quality decision table: per-doc signals plus keep flag and
    the FIRST failing rule's name (NULL when kept).

    Rule order (Rae et al. 2021 Table A1, adapted thresholds in
    params.py): word-count bounds → mean-word-length band → symbol
    ratio → required stopwords → top-word fraction → duplicate-2gram
    fraction → duplicate-line fraction. All signals are per-row array
    expressions over the token stream; the whole operator is one scan
    with zero shuffles.

    Cost discipline (the hash_embed/pHash lesson, PERF_NOTES): the
    token array is materialized ONCE as a named column — Catalyst's
    CollapseProject refuses to duplicate a non-cheap alias like
    regexp_extract_all, so every signal reads the same array. Writing
    the tokenizer inline instead put a fresh regex evaluation inside
    each lambda (element_at(tokenize(text), i) per gram index —
    O(tokens) regex passes per row; measured 7.3 s at sf0.1 against
    1.2 s for this form). The top-word count is a linear fold over the
    sorted array, not the O(n²) distinct×filter textbook form.
    """
    segs = (
        f"transform(sequence(0, cast(ceil(size(t) / {P.LINE_DEDUP_WORDS}.0) as int) - 1),"
        f" i -> array_join(slice(t, i * {P.LINE_DEDUP_WORDS} + 1, {P.LINE_DEDUP_WORDS}), ' '))"
    )
    grams = (
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    top = (
        "aggregate(array_sort(t),"
        " named_struct('prev', '', 'run', 0, 'best', 0),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x = acc.prev, acc.run + 1, 1),"
        "   'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1))),"
        " acc -> acc.best)"
    )
    sw = ", ".join(f"'{s}'" for s in P.STOPWORDS)
    base = documents.where(F.col("text").isNotNull()).select(
        "doc_id", "text", F.expr(_TOKS).alias("t")
    )
    d = base.select(
        "doc_id",
        F.expr("size(t)").alias("n_words"),
        F.expr(f"size(filter(t, x -> x IN ({sw})))").alias("n_stop"),
        F.expr(
            _round6(
                "length(regexp_replace(lower(text), '[^a-z0-9]', ''))"
                " / cast(size(t) as double)"
            )
        ).alias("mean_word_len"),
        F.expr(
            _round6(
                "(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '')))"
                " / cast(length(text) as double)"
            )
        ).alias("symbol_ratio"),
        F.expr(_round6(f"{top} / cast(size(t) as double)")).alias(
            "top_word_frac"
        ),
        F.expr(
            "CASE WHEN size(t) >= 2 THEN "
            + _round6(
                f"1.0 - size(array_distinct({grams})) / cast(size(t) - 1 as double)"
            )
            + " ELSE 0.0d END"
        ).alias("dup_2gram_frac"),
        F.expr(
            _round6(
                f"1.0 - size(array_distinct({segs})) / cast(size({segs}) as double)"
            )
        ).alias("dup_line_frac"),
    ).where(F.col("n_words") >= 1)
    fail = (
        F.when(
            (F.col("n_words") < P.GOPHER_MIN_WORDS)
            | (F.col("n_words") > P.GOPHER_MAX_WORDS),
            "n_words",
        )
        .when(
            (F.col("mean_word_len") < P.GOPHER_WORD_LEN_LO)
            | (F.col("mean_word_len") > P.GOPHER_WORD_LEN_HI),
            "word_len",
        )
        .when(F.col("symbol_ratio") > P.GOPHER_MAX_SYMBOL, "symbol")
        .when(F.col("n_stop") < P.GOPHER_MIN_STOP, "stopwords")
        .when(F.col("top_word_frac") > P.GOPHER_MAX_TOP_WORD, "top_word")
        .when(F.col("dup_2gram_frac") > P.GOPHER_MAX_DUP_2GRAM, "dup_2gram")
        .when(F.col("dup_line_frac") > P.GOPHER_MAX_DUP_LINE, "dup_line")
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_stop",
        "mean_word_len",
        "symbol_ratio",
        "top_word_frac",
        "dup_2gram_frac",
        "dup_line_frac",
        fail.isNull().alias("keep"),
        fail.alias("fail_reason"),
    )


def c4_clean(documents: DataFrame) -> DataFrame:
    """C4 line-level cleaning: segment the document into lines (the
    fixed word-chunk segmentation shared with line_dedup — the corpus
    has no newlines), keep a line iff it has ≥ C4_MIN_LINE_WORDS words
    and no boilerplate marker, rebuild the document order-preserving,
    and gate on ≥ C4_MIN_LINES surviving lines.

    The line predicates and the rebuild are ONE per-row filter +
    array_join — C4's per-line pass costs zero shuffles here, vs the
    explode → filter → groupBy(doc) shape a naive port would use
    (which re-shuffles the whole corpus on doc_id).

    Tokenization, segmentation and the kept-lines filter are each
    materialized ONCE as named columns (non-cheap aliases CollapseProject
    won't duplicate — the gopher_rules cost discipline); the four
    consumers of `kept` read an attribute, not four filter() copies.
    """
    segs = (
        f"transform(sequence(0, cast(ceil(size(t) / {P.LINE_DEDUP_WORDS}.0) as int) - 1),"
        f" i -> array_join(slice(t, i * {P.LINE_DEDUP_WORDS} + 1, {P.LINE_DEDUP_WORDS}), ' '))"
    )
    kept = (
        f"filter(segs, s -> size(split(s, ' ')) >= {P.C4_MIN_LINE_WORDS}"
        f" AND NOT array_contains(split(s, ' '), '{P.C4_BOILERPLATE}'))"
    )
    return (
        documents.where(F.col("text").isNotNull())
        .select("doc_id", F.expr(_TOKS).alias("t"))
        .where(F.expr("size(t)") >= 1)
        .select("doc_id", F.expr(segs).alias("segs"))
        .select("doc_id", "segs", F.expr(kept).alias("k"))
        .select(
            "doc_id",
            F.expr("size(segs)").alias("n_lines"),
            F.expr("size(k)").alias("n_lines_kept"),
            F.expr(
                "CASE WHEN size(k) > 0 THEN array_join(k, ' ') END"
            ).alias("clean_text"),
            F.expr(
                "aggregate(k, 0, (acc, s) -> acc + size(split(s, ' ')))"
            ).alias("n_words_clean"),
            (F.expr("size(k)") >= P.C4_MIN_LINES).alias("kept"),
        )
    )


def qc_score_units_expr(arr: str = "tk") -> str:
    """The classifier's integer score as a SQL fragment over a
    materialized token-array column — the ONE definition of the model
    shared by quality_classifier and curriculum_pack (pass a column
    NAME, never an inline tokenizer expression: see the r6 PERF_NOTES
    inline-tokenizer rule)."""
    nw = 2 * P.QC_SCALE + 1
    bucket = f"({portable_hash60_sql('t')} % {P.QC_BUCKETS})"
    salted = f"concat('qcw:', cast({bucket} as string))"
    weight = f"({portable_hash60_sql(salted)} % {nw} - {P.QC_SCALE})"
    return f"cast(aggregate({arr}, 0L, (acc, t) -> acc + {weight}) as long)"


def quality_classifier(documents: DataFrame) -> DataFrame:
    """fastText-style linear quality classifier over hashed bag-of-words.

    Each token hashes to one of QC_BUCKETS feature buckets; the bucket
    weight is derived from the SAME portable hash (md5-based, identical
    in DuckDB) so the "model" is a deterministic fixed-size function,
    not a table: w(b) = h60('qcw:'||b) % (2·QC_SCALE+1) − QC_SCALE ∈
    [−QC_SCALE, QC_SCALE] micro-units. Doc score = Σ w(bucket(t)) /
    (QC_SCALE·n_tokens) ∈ [−1, 1]; label = score > 0.

    Scale shape: the weight function replaces the weight-vector
    broadcast a real model would ship (fixed-size, like dsir_select's
    feature table — scale-correct by construction), and scoring is a
    per-row aggregate over the token array — one scan, zero shuffles,
    exact integer sums. A production swap loads real weights as a
    QC_BUCKETS-row broadcast and keeps the identical plan.
    """
    return (
        documents.where(F.col("text").isNotNull())
        .select("doc_id", F.expr(_TOKS).alias("tk"))
        .where(F.expr("size(tk)") >= 1)
        .select(
            "doc_id",
            F.expr("size(tk)").alias("n_tokens"),
            F.expr(qc_score_units_expr("tk")).alias("score_units"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "score_units",
            F.expr(
                _round6(f"score_units / ({P.QC_SCALE}.0 * n_tokens)")
            ).alias("score"),
        )
        .withColumn("label", F.col("score") > 0.0)
    )


def ccnet_ppl_buckets(documents: DataFrame) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets per language (Wenzek
    et al. 2020 §4.3): rank documents by unigram-LM cross-entropy
    (text.lm_score — lower = more LM-typical) within each language and
    split into tertiles.

    The tertile is NTILE over (lang, cross_entropy, doc_id) — exact and
    oracle-identical. Scale note: a per-language window sorts each
    language on one task chain; at web scale swap the exact NTILE for
    threshold bucketing against per-language approx tertile cutoffs
    (two tiny aggregates + a broadcast compare — same output schema,
    approximate boundaries), which CCNet itself does with sampled
    thresholds.
    """
    from vedb_gaze_spark.operators.text import lm_score

    scored = lm_score(documents).join(
        documents.select("doc_id", "lang"), "doc_id"
    )
    tile = F.ntile(P.CCNET_BUCKETS).over(
        Window.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    )
    return scored.select(
        "doc_id",
        "lang",
        "cross_entropy",
        tile.alias("tertile"),
    ).withColumn(
        "bucket",
        F.when(F.col("tertile") == 1, "head")
        .when(F.col("tertile") == 2, "middle")
        .otherwise("tail"),
    )


def ccnet_ppl_threshold(documents: DataFrame) -> DataFrame:
    """The documented SCALE path for ccnet_ppl_buckets (r6 verdict #8):
    per-language tertile CUTOFF VALUES from one aggregation, then a
    broadcast compare — what CCNet itself does (Wenzek et al. 2020
    compute bucket thresholds once and ship them with the model) —
    instead of the exact NTILE, whose per-language window sorts each
    language's full doc list on one task chain.

    Cutoffs are EXACT order statistics, but computed from a
    count-of-counts histogram per (lang, cross_entropy) — the
    corpus_stats/key_skew_report median shape: the histogram is bounded
    by distinct 6dp cross-entropy values, its cumulative window is
    metadata-sized, and c_i = min CE with cum ≥ ceil(i·n/3). Bucket
    assignment is then a per-row compare against the O(languages)
    broadcast cutoff table: head iff ce ≤ c1, middle iff ce ≤ c2, else
    tail. Ties AT a cutoff all take the lower bucket (value-determined
    — NTILE instead splits tied docs by doc_id), so on distinct
    cross-entropies this is ROW-IDENTICAL to ccnet_ppl_buckets
    (pytest-pinned: threshold tertile == min NTILE tertile over each
    tied (lang, ce) group).

    The lm_score scan runs twice (once under the histogram, once under
    the final compare) — DataFrame reuse is not plan reuse (the r4
    corpus_pipeline lesson); at scale you persist the scored
    projection or read it from the stored lm_score table, and the
    operator's contract is unchanged."""
    from vedb_gaze_spark.operators.text import lm_score

    scored = lm_score(documents).join(
        documents.select("doc_id", "lang"), "doc_id"
    )
    hist = scored.groupBy("lang", "cross_entropy").agg(
        F.count(F.lit(1)).alias("freq")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("cross_entropy")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = hist.select(
        "lang",
        "cross_entropy",
        F.sum("freq").over(wcum).alias("cum"),
        F.sum("freq").over(Window.partitionBy("lang")).alias("n"),
    )
    cuts = cums.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("cross_entropy"))
        ).alias("c1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("cross_entropy")
            )
        ).alias("c2"),
    )
    tert = (
        F.when(F.col("cross_entropy") <= F.col("c1"), F.lit(1))
        .when(F.col("cross_entropy") <= F.col("c2"), F.lit(2))
        .otherwise(F.lit(3))
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "cross_entropy",
        tert.alias("tertile"),
        F.when(tert == 1, "head")
        .when(tert == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def filter_funnel(documents: DataFrame) -> DataFrame:
    """Per-source filter funnel: how many documents survive each quality
    gate (Gopher rules, C4 cleaning, the hashed classifier) and their
    conjunction — the curation dashboard's first table, and the input
    to deciding which gate to tune per source.

    Composes the three published-recipe filters by doc_id joins over
    their SHARED base (text non-null, ≥1 token — each filter re-derives
    it identically, so the inner joins lose nothing) and aggregates per
    source. Three scans of one string column + doc_id-keyed joins AQE
    is free to broadcast or co-shuffle; the report output is
    O(sources). A report operator, not a hot-path one — the per-doc
    decision tables it joins are themselves single-scan zero-shuffle
    plans."""
    base = documents.where(F.col("text").isNotNull()).where(
        F.expr(f"size({_TOKS})") >= 1
    ).select("doc_id", "source")
    g = gopher_rules(documents).select("doc_id", F.col("keep").alias("g"))
    c = c4_clean(documents).select("doc_id", F.col("kept").alias("c"))
    q = quality_classifier(documents).select(
        "doc_id", F.col("label").alias("q")
    )
    joined = base.join(g, "doc_id").join(c, "doc_id").join(q, "doc_id")
    cnt = lambda col: F.sum(F.when(F.col(col), 1).otherwise(0))  # noqa: E731
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt("g").alias("n_gopher"),
            cnt("c").alias("n_c4"),
            cnt("q").alias("n_classifier"),
            F.sum(
                F.when(F.col("g") & F.col("c") & F.col("q"), 1).otherwise(0)
            ).alias("n_all"),
        )
        .select(
            "source",
            "n_docs",
            "n_gopher",
            "n_c4",
            "n_classifier",
            "n_all",
            F.expr(_round6("n_all / cast(n_docs as double)")).alias(
                "survival_rate"
            ),
        )
    )


# --- trained quality classifier (logistic distillation of the rules) -----

_QCT_FEATS = (
    ("f_words", "cast(least(n_words, 1000) as long)"),
    ("f_wlen", "cast(floor(mean_word_len * 100) as long)"),
    ("f_sym", "cast(floor(symbol_ratio * 1000) as long)"),
    ("f_stop", "cast(least(n_stop, 100) * 10 as long)"),
    ("f_top", "cast(floor(top_word_frac * 1000) as long)"),
    ("f_d2g", "cast(floor(dup_2gram_frac * 1000) as long)"),
    ("f_dline", "cast(floor(dup_line_frac * 1000) as long)"),
)


def quality_classifier_train(
    documents: DataFrame, epochs: int = 12, lr: float = 2.0
) -> tuple[list[float], list[float], list[float], list[int]]:
    """Distributed full-batch logistic regression distilling the Gopher
    rule decision (gopher_rules.keep) into a trained linear scorer over
    the rules' own integer-quantized signals — the CCNet/fastText move
    of replacing a hand rule set with a trained model, with the
    TRAINING loop distributed (one corpus pass per epoch, model-state
    collects only; MLlib's LogisticRegression aggregates gradients the
    same way).

    Integer-exact determinism: features are integers; per-doc residual
    (σ(w·x̂)−y) and log-loss quantize to micro-units BEFORE aggregation,
    so every per-epoch sum is an exact long (order-free — the repo's
    micro-nat discipline applied to SGD), and the whole training run is
    bit-reproducible on any partitioning. Standardization constants
    come from exact integer Σx / Σx² rollups. The driver holds only
    (w, μ, σ, loss) — 8+8+8+epochs floats.

    Scale notes: each epoch scans the PERSISTED 9-column integer
    feature frame (built once from gopher_rules), never the raw text;
    full-batch GD is the exactness-friendly reference loop — the
    production tune at 100 TB is minibatch sampling per epoch on the
    same plan. Returns (weights incl. bias at index 0, mu, sd,
    micro-nat loss per epoch)."""
    import math

    g = gopher_rules(documents)
    feats = g.select(
        "doc_id",
        F.col("keep").cast("int").alias("y"),
        *[F.expr(e).alias(n) for n, e in _QCT_FEATS],
    ).persist()
    d = len(_QCT_FEATS)
    names = [n for n, _ in _QCT_FEATS]

    stats = feats.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(n).alias(f"s_{n}") for n in names],
        *[F.sum(F.col(n) * F.col(n)).alias(f"ss_{n}") for n in names],
    ).collect()[0]
    n = stats["n"]
    mu = [stats[f"s_{m}"] / n for m in names]
    sd = []
    for j, m in enumerate(names):
        var = stats[f"ss_{m}"] / n - mu[j] * mu[j]
        sd.append(math.sqrt(var) if var > 0 else 1.0)

    w = [0.0] * (d + 1)  # w[0] = bias
    losses: list[int] = []
    for _ in range(epochs):
        z = " + ".join(
            [repr(w[0])]
            + [
                f"{w[j + 1]!r} * ((cast({m} as double) - {mu[j]!r}) / {sd[j]!r})"
                for j, m in enumerate(names)
            ]
        )
        p = f"(1.0 / (1.0 + exp(-({z}))))"
        r_units = f"cast(floor(({p} - cast(y as double)) * 1e6 + 0.5) as long)"
        loss_units = (
            f"cast(floor(-(cast(y as double) * ln({p} + 1e-12)"
            f" + (1.0 - cast(y as double)) * ln(1.0 - {p} + 1e-12))"
            f" * 1e6 + 0.5) as long)"
        )
        # r15 (guide §4.4): evaluate the sigmoid residual ONCE per row
        # in a projection under the aggregate — HashAggregate does not
        # CSE across aggregate expressions, so referencing r_units in
        # all 8 sums re-evaluated exp() 8× per row (and bloated the
        # generated method). Same expressions, same floor quantization,
        # bit-identical sums; measured 5.3 → 5.0 s isolated on the
        # trained face. (The broadcast-params flavor that would also
        # amortize the per-epoch codegen is a measured NEGATIVE:
        # 5.8 → 8.5 s — the per-epoch 1-row BroadcastNestedLoopJoin
        # stage costs more than the compile it saves.)
        row = (
            feats.select(
                *names,
                F.expr(r_units).alias("__r"),
                F.expr(loss_units).alias("__l"),
            )
            .agg(
                F.sum("__r").alias("sr"),
                *[F.sum(F.col("__r") * F.col(m)).alias(f"g_{m}") for m in names],
                F.sum("__l").alias("loss"),
            )
            .collect()[0]
        )
        sr = row["sr"] / 1e6
        w[0] -= lr * sr / n
        for j, m in enumerate(names):
            grad = (row[f"g_{m}"] / 1e6 - mu[j] * sr) / sd[j] / n
            w[j + 1] -= lr * grad
        losses.append(int(row["loss"]))
    feats.unpersist()
    return w, mu, sd, losses


def quality_classifier_trained(
    documents: DataFrame, epochs: int = 12, lr: float = 2.0
) -> DataFrame:
    """Scoring face of the distilled classifier: per-doc trained
    probability, predicted label, the rule label it was trained to
    imitate, and the agreement flag. Rows-only registry entry (the
    trained weights are float model state, like the Lloyd's family);
    determinism + loss-monotonicity + accuracy-floor pytest-pinned.
    A LINEAR scorer cannot express the rules' 7-way AND exactly —
    measured ceiling ≈ 0.71 accuracy at sf0.01 vs the 0.5 majority
    baseline — which is the honest distillation gap (CCNet keeps the
    LM + rules for the same reason); the operator's contribution is
    the exact-integer distributed training loop."""
    w, mu, sd, _ = quality_classifier_train(documents, epochs, lr)
    return quality_classifier_score(documents, w, mu, sd)


def quality_classifier_sampled(
    documents: DataFrame,
    epochs: int = 12,
    lr: float = 2.0,
    sample_mod: int = P.QC_SAMPLE_MOD,
) -> DataFrame:
    """The 100 TB training-cost answer for the distilled classifier
    (r8 verdict #6): full-batch GD is epochs × corpus passes; here the
    TRAINING loop runs on a deterministic salted doc_id-hash sample
    (keep iff hash(salt‖doc_id) % mod == 0 — the stratified_sample /
    dedup_recall row-local gate: stateless, shuffle-free, identical on
    any engine or partitioning), and the FULL corpus is scored in one
    pass with the frozen weights. At mod=4 that is 12 quarter-corpus
    training passes + 1 full scoring pass ≈ 4 full-corpus passes of
    I/O vs full-batch's 13 — and the gap widens linearly with mod.

    The sample is unbiased for the loss surface (per-doc gradients,
    no cross-doc terms), and training inherits quality_classifier_
    train's exact-integer determinism unchanged — the sampled run is
    bit-reproducible too, just over fewer rows. Accuracy-vs-full-batch
    is pytest-pinned on the bench corpus (tests/test_filtering.py).
    Rows-only registry entry (trained float weights, like the Lloyd's
    family)."""
    from vedb_gaze_spark.functions.core import portable_hash60

    sample = documents.where(
        portable_hash60(
            F.concat(
                F.lit(P.QC_SAMPLE_SALT + ":"), F.col("doc_id").cast("string")
            )
        )
        % sample_mod
        == 0
    )
    w, mu, sd, _ = quality_classifier_train(sample, epochs, lr)
    return quality_classifier_score(documents, w, mu, sd)


def quality_classifier_score(
    documents: DataFrame,
    w: list[float],
    mu: list[float],
    sd: list[float],
) -> DataFrame:
    """Scoring half with FROZEN weights — row-local expressions over
    gopher_rules' one-scan signal plan, so it composes UNCHANGED over a
    document stream (the gopher_rules/frame-detection streaming
    pattern; tests pin streamed ≡ batch row-for-row). The ONE
    definition the trained batch face and the streaming scorer share."""
    g = gopher_rules(documents)
    feats = g.select(
        "doc_id",
        F.col("keep").alias("label_rules"),
        *[F.expr(e).alias(n) for n, e in _QCT_FEATS],
    )
    names = [n for n, _ in _QCT_FEATS]
    z = " + ".join(
        [repr(w[0])]
        + [
            f"{w[j + 1]!r} * ((cast({m} as double) - {mu[j]!r}) / {sd[j]!r})"
            for j, m in enumerate(names)
        ]
    )
    p = f"(1.0 / (1.0 + exp(-({z}))))"
    return feats.select(
        "doc_id",
        F.expr(f"floor({p} * 1e6 + 0.5) / 1e6").alias("score_trained"),
        F.expr(f"{p} > 0.5").alias("pred"),
        "label_rules",
        F.expr(f"({p} > 0.5) = label_rules").alias("agrees"),
    )
