"""Semantic properties of the corpus-composition family (r4) — the
invariants the oracle comparison can't express: packing feasibility,
dedup conservation, sampling determinism, sketch accuracy."""

import pyspark.sql.functions as F
import pytest

from vedb_gaze_spark.operators import corpus, text
from vedb_gaze_spark.plans import params as P
from vedb_gaze_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    df = load_table(spark, "documents", sf_dir).cache()
    yield df
    # cached plans substitute into IDENTICAL subtrees of later tests in
    # the shared session (e.g. test_plans' ReusedExchange pins see an
    # InMemoryTableScan instead of the file scan) — clear on teardown
    spark.catalog.clearCache()


def test_line_dedup_conserves_distinct_segments(spark, documents):
    """Every distinct segment survives exactly once across the corpus:
    sum(kept) == |distinct segments|, and no document is dropped."""
    out = corpus.line_dedup(documents).cache()
    assert out.count() == documents.count()
    w = P.LINE_DEDUP_WORDS
    n_distinct = (
        documents.select(F.split(F.trim("text"), r"\s+").alias("ws"))
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(ws) / {w}.0) as int) - 1),"
                    f" i -> array_join(slice(ws, i * {w} + 1, {w}), ' '))"
                )
            ).alias("seg")
        )
        .distinct()
        .count()
    )
    kept = out.agg(F.sum("kept_segments")).collect()[0][0]
    assert kept == n_distinct
    # a doc_id that appears twice would double-keep; totals bound kept
    bad = out.where(F.col("kept_segments") > F.col("total_segments")).count()
    assert bad == 0


def test_pack_sequences_feasible_and_ordered(spark, documents):
    out = corpus.pack_sequences(documents).cache()
    assert out.count() == documents.count()
    budget = P.PACK_BUDGET_TOKENS
    # the shard bound is DEFAULT-ON and actually subdivides this corpus
    assert out.select("shard").distinct().count() > 1
    # shard membership is the data-independent doc_id range
    assert (
        out.where(
            F.col("shard") != F.expr(f"doc_id div {P.PACK_SHARD_DOCS}")
        ).count()
        == 0
    )
    # every pack fits the budget unless it is a single over-budget doc
    packs = (
        out.groupBy("source", "shard", "pack_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n"))
        .where((F.col("tot") > budget) & (F.col("n") > 1))
    )
    assert packs.count() == 0
    # pack ids are contiguous from 0 and non-decreasing in doc_id order
    # within each (source, shard) group
    per_grp = (
        out.groupBy("source", "shard")
        .agg(
            F.min("pack_id").alias("mn"),
            F.max("pack_id").alias("mx"),
            F.countDistinct("pack_id").alias("k"),
        )
        .collect()
    )
    for r in per_grp:
        assert r["mn"] == 0 and r["k"] == r["mx"] + 1
    rows = out.orderBy("source", "shard", "doc_id").collect()
    last = {}
    for r in rows:
        prev = last.get((r["source"], r["shard"]), 0)
        assert r["pack_id"] >= prev
        last[(r["source"], r["shard"])] = r["pack_id"]


def test_greedy_pack_shard_equivalence(spark, documents):
    """shard_docs bounds the per-task Arrow batch (the 100 TB hot-source
    guard): packing each (source, shard) independently must equal
    whole-source packing of that shard's rows started fresh — proven by
    packing with source key 'source#shard' through the UNSHARDED kernel
    and comparing row-for-row. (pack_sequences and corpus_pipeline run
    this bound DEFAULT-ON at P.PACK_SHARD_DOCS; this property is what
    makes the bound semantics-free.)"""
    budget = P.PACK_BUDGET_TOKENS
    toks = documents.select(
        "source",
        "doc_id",
        F.expr("size(split(trim(text), '\\\\s+'))").cast("long").alias("n_tokens"),
    )
    n = 400  # doc_id-range shard width, chosen to give several shards
    sharded = {
        (r["source"], r["shard"], r["doc_id"]): (r["n_tokens"], r["pack_id"])
        for r in corpus.greedy_pack(toks, budget, shard_docs=n).collect()
    }
    assert sharded
    # reference: run the plain kernel with the shard baked into the key
    ref_in = toks.withColumn(
        "source",
        F.concat_ws("#", "source", (F.col("doc_id") - F.col("doc_id") % n) / n),
    )
    ref = {}
    for r in corpus.greedy_pack(ref_in, budget).collect():
        src, shard = r["source"].split("#")
        ref[(src, int(float(shard)), r["doc_id"])] = (r["n_tokens"], r["pack_id"])
    assert sharded == ref
    # several shards actually exist (the guard is exercised, not vacuous)
    assert len({(s, sh) for s, sh, _ in sharded}) > len({s for s, _, _ in sharded})


def test_stratified_sample_rates_and_determinism(spark, documents):
    out = corpus.stratified_sample(documents).cache()
    again = {tuple(r) for r in corpus.stratified_sample(documents).collect()}
    assert {tuple(r) for r in out.collect()} == again  # rerun-identical
    totals = {r["lang"]: r["n"] for r in documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, rate in P.SAMPLE_RATES.items():
        n = totals.get(lang, 0)
        if n < 50:
            continue
        frac = got.get(lang, 0) / n
        # binomial 5-sigma bound around the target rate
        sigma = (rate * (1 - rate) / n) ** 0.5
        assert abs(frac - rate) < 5 * sigma + 1e-9, (lang, frac, rate, n)


def test_hll_estimate_within_sketch_error(spark, sf_dir):
    events = load_table(spark, "events", sf_dir)
    rows = corpus.hll_distinct(events).collect()
    assert rows
    for r in rows:
        # standard error 1.04/sqrt(512) ~ 4.6%; allow 4 sigma
        assert r["rel_error"] < 0.20, r


def test_decontaminate_flags_planted_overlap(spark):
    base = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (0, base),                                   # benchmark (0 % 13 == 0)
            (1, "clean text " + " ".join(f"x{i}" for i in range(20))),
            (2, "prefix " + " ".join(f"w{i}" for i in range(8)) + " suffix"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_overlap"] for r in corpus.decontaminate(docs).collect()}
    assert 2 in out and out[2] >= 1   # shares w0..w7 with the benchmark doc
    assert 1 not in out               # disjoint vocabulary


def test_bm25_ranks_term_rich_docs(spark, documents):
    out = text.bm25_search(documents).collect()
    assert 0 < len(out) <= P.BM25_TOPK
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    ranks = [r["rank"] for r in out]
    assert ranks == list(range(1, len(out) + 1))
    # the top hit must actually contain a query term
    top_doc = documents.where(F.col("doc_id") == out[0]["doc_id"]).collect()[0]
    assert any(t in top_doc["text"].lower() for t in P.BM25_QUERY)


def test_corpus_pipeline_semantics_and_single_chain(spark, sf_dir, documents):
    """End-to-end assembly invariants: no benchmark or contaminated docs
    survive, weights match the lang rates, packs are feasible — and the
    plan stays ONE linear chain (3 corpus scans: benchmark n-grams,
    contamination probe, the train chain; no mid-plan recompute)."""
    from vedb_gaze_spark.plans.pipeline import corpus_pipeline

    # plan-shape pin on the EXECUTED (AQE-final) plan of a fresh read,
    # planned against the module's cached `documents` (the scans show as
    # InMemoryTableScan over the FileScan; the spread gate gives the same
    # verdict with or without that cache): 3 corpus reads (benchmark
    # n-grams, contamination probe, train chain), no mid-plan recompute
    fresh = corpus_pipeline(load_table(spark, "documents", sf_dir))
    fresh.count()
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 3
    # the scatter spread of the compact documents scan puts one exchange
    # on each of the 2 branches that read it; the chain's own shuffles
    # keep their bound of 6
    spread = plan.count("Exchange hashpartitioning(xxhash64(doc_id")
    assert spread == 2
    assert plan.count("Exchange hash") - spread <= 6

    out = corpus_pipeline(documents).cache()
    rows = out.collect()
    assert rows
    ids = {r["doc_id"] for r in rows}
    assert not any(i % P.DECONTAM_BENCH_MOD == 0 for i in ids)
    flagged = {r["doc_id"] for r in corpus.decontaminate(documents).collect()}
    assert not (ids & flagged)
    langs = {r["doc_id"]: r["lang"] for r in documents.select("doc_id", "lang").collect()}
    for r in rows:
        assert abs(r["weight"] - round(1.0 / P.SAMPLE_RATES[langs[r["doc_id"]]], 6)) < 1e-9
    over = (
        out.groupBy("source", "shard", "pack_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n"))
        .where((F.col("tot") > P.PACK_BUDGET_TOKENS) & (F.col("n") > 1))
        .count()
    )
    assert over == 0


def test_corpus_pipeline_novelty_gates_and_stays_bounded(
    spark, sf_dir, documents
):
    """The novelty-gated assembly: every surviving doc clears
    P.NOVELTY_MIN with the score ngram_novelty assigns it over the
    non-benchmark pool, survivors are a subset of corpus_pipeline's
    (the gate only removes), and the plan holds at 5 corpus scans
    (benchmark n-grams, contamination probe, the two novelty rollups,
    the train chain — the pool-not-train novelty scoring keeps the
    decontamination subtree out of the novelty branch, 9 scans
    otherwise)."""
    from vedb_gaze_spark.operators.text import ngram_novelty
    from vedb_gaze_spark.plans.pipeline import (
        corpus_pipeline,
        corpus_pipeline_novelty,
    )

    fresh = corpus_pipeline_novelty(load_table(spark, "documents", sf_dir))
    fresh.count()
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 5, plan.count("FileScan")

    out = corpus_pipeline_novelty(documents).collect()
    assert out
    pool = documents.where(F.col("doc_id") % P.DECONTAM_BENCH_MOD != 0)
    nov = {r["doc_id"]: r["novelty"] for r in ngram_novelty(pool).collect()}
    got_ids = {r["doc_id"] for r in out}
    for r in out:
        assert r["novelty"] == nov[r["doc_id"]]
        assert r["novelty"] >= P.NOVELTY_MIN
    # NOT a subset pin vs corpus_pipeline: dropping a low-novelty
    # segment OWNER before line_dedup can revive a doc the ungated
    # pipeline fully deduped. The gate's contract is exactly: no
    # sub-threshold (or unscorable) doc ever survives…
    low = {d for d, v in nov.items() if v < P.NOVELTY_MIN}
    assert not (got_ids & low)
    # …and it actually bites: some doc the ungated pipeline keeps is
    # low-novelty and gone here
    base_ids = {r["doc_id"] for r in corpus_pipeline(documents).collect()}
    assert base_ids & low


def test_cms_never_underestimates_and_finds_all_heavy_hitters(spark, documents):
    """CMS guarantee: estimate >= exact for every word, so every TRUE
    heavy hitter is reported (no false negatives); with w=16 against a
    31-word vocabulary, collisions must produce at least one visible
    overcount."""
    out = corpus.cms_heavy_hitters(documents).collect()
    assert out
    assert all(r["overcount"] >= 0 for r in out)
    reported = {r["word"] for r in out}
    wc = (
        documents.select(F.explode(F.expr(corpus._TOKENS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = wc.agg(F.sum("n")).collect()[0][0]
    true_hh = {
        r["w"] for r in wc.collect() if r["n"] >= P.CMS_HH_FRAC * total
    }
    assert true_hh <= reported
    assert any(r["overcount"] > 0 for r in out)  # w=16 forces collisions


def test_dedup_substring_planted_spans(spark):
    """Planted duplicates pin the span semantics independent of the
    oracle: a 12-token run shared by two docs at different offsets must
    come back as exactly one maximal span per occurrence (positions of
    the covered rolling grams), unique text must yield nothing, and a
    within-doc repeat must be caught too."""
    from vedb_gaze_spark.operators.corpus import dedup_substring

    shared = " ".join(f"dup{i}" for i in range(12))        # 12 tokens
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            # doc 0: shared run at tokens 5..16
            (0, uniq("a", 5) + " " + shared + " " + uniq("b", 4)),
            # doc 1: shared run at tokens 0..11
            (1, shared + " " + uniq("c", 9)),
            # doc 2: all-unique text, no spans
            (2, uniq("d", 30)),
            # doc 3: internal repeat — same 8-gram at 0..7 and 10..17
            (3, uniq("e", 8) + " x1 x2 " + uniq("e", 8) + " " + uniq("f", 3)),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup_substring(docs, min_len=8).collect()
    }
    assert rows == {
        (0, 5, 16, 12),
        (1, 0, 11, 12),
        (3, 0, 7, 8),
        (3, 10, 17, 8),
    }, rows


def test_multimodal_phash_planted_near_dups(spark):
    """pHash banding recall is EXACT for r < bands (pigeonhole): an
    identical payload pair must surface at hamming 0, a payload
    perturbed enough to flip ≤2 dHash bits must surface with its true
    distance, and a reversed payload (hash far away) must not pair."""
    from vedb_gaze_spark.operators.multimodal import multimodal_phash_dedup

    base = "".join(chr(65 + (i * 7) % 26) for i in range(400))
    # perturb the i=4 sampled byte (position (4*400)//16 = 100): base
    # neighbors are s[3]='F'(70), s[4]='Y'(89), s[5]='R'(82); replacing
    # s[4] with 'P'(80) keeps bit3 (70>80 still false) and flips bit4
    # (80>82 false, was 89>82 true) → true Hamming distance exactly 1
    mid = list(base)
    mid[100] = "P"
    perturbed = "".join(mid)
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),            # exact dup of 0
            (2, perturbed),       # near dup of 0/1
            (3, base[::-1]),      # structurally different
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_a, r.doc_b): r.hamming for r in multimodal_phash_dedup(docs).collect()}
    assert rows.get((0, 1)) == 0
    assert (2, 3) not in rows and (0, 3) not in rows and (1, 3) not in rows
    # banding recall is exact at r=1 < bands: the pair MUST be found
    assert rows.get((0, 2)) == 1
    assert rows.get((1, 2)) == 1


def test_corpus_pipeline_mixed_upsamples_to_the_mix(spark, sf_dir, documents):
    """The mixture composition: every doc's copy count must be exactly
    floor(e) or floor(e)+1 for its language's epochs e (so scarce
    domains genuinely upsample, e < 1 domains thin out), copies pack
    adjacently in (doc_id, epoch) order with feasible packs, weights
    are 1/e, and the whole thing is deterministic across reruns."""
    from collections import Counter

    from vedb_gaze_spark.operators import corpus
    from vedb_gaze_spark.plans.pipeline import corpus_pipeline_mixed

    out = corpus_pipeline_mixed(documents).cache()
    rows = out.collect()
    assert rows
    again = {tuple(r) for r in corpus_pipeline_mixed(documents).collect()}
    assert {tuple(r) for r in rows} == again  # deterministic
    epochs = {
        r["lang"]: r["epochs"] for r in corpus.mix_plan(documents).collect()
    }
    langs = {
        r["doc_id"]: r["lang"]
        for r in documents.select("doc_id", "lang").collect()
    }
    copies = Counter(r["doc_id"] for r in rows)
    import math

    for doc_id, k in copies.items():
        e = epochs[langs[doc_id]]
        assert k in (math.floor(e), math.floor(e) + 1), (doc_id, e, k)
    # upsampling actually happened: some doc has more than one copy
    assert max(copies.values()) > 1
    # and each copy carries the inverse-epoch weight
    for r in rows[:50]:
        assert abs(r["weight"] - round(1.0 / epochs[langs[r["doc_id"]]], 6)) < 1e-9
    # copies are adjacent: epochs of one doc in one shard are 0..k-1
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    for doc_id, eps in by_doc.items():
        assert sorted(eps) == list(range(len(eps))), doc_id
    # feasibility, per (source, shard, pack)
    pk = Counter()
    for r in rows:
        pk[(r["source"], r["shard"], r["pack_id"])] += r["n_tokens"]
    from vedb_gaze_spark.plans import params as P

    singles = Counter(
        (r["source"], r["shard"], r["pack_id"]) for r in rows
    )
    for key, tot in pk.items():
        assert tot <= P.PACK_BUDGET_TOKENS or singles[key] == 1, key


# --- r6b additions: bloom / containment / cross-source / stats / ----------
# --- curriculum -----------------------------------------------------------


def test_bloom_decontaminate_no_false_negatives(spark, documents):
    """Bloom membership can only ADD flags: every doc the exact n-gram
    join flags is bloom-flagged, with n_flagged >= the exact overlap
    count (a benchmark n-gram's own probe positions are set by
    construction, so true positives cannot be missed)."""
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in corpus.decontaminate(documents).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged"]
        for r in corpus.bloom_decontaminate(documents).collect()
    }
    assert set(exact) <= set(bloom)
    for d, n in exact.items():
        assert bloom[d] >= n
    # the structure is USEFULLY lossy on this corpus: at least one
    # deterministic false positive distinguishes it from the exact join
    assert len(bloom) > len(exact)


def test_minhash_containment_embedded_doc_scores_one(spark):
    """A benchmark doc verbatim-embedded in a larger training doc has
    containment exactly 1.0 — the asymmetric-measure property that
    motivates containment over Jaccard (which is diluted to ~0.5 here
    and would fall below the same threshold as the padding grows)."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    train_text = (
        "pad1 pad2 pad3 pad4 pad5 " + bench_text + " tail1 tail2 tail3 tail4"
    )
    docs = spark.createDataFrame(
        [(0, bench_text), (1, train_text)], "doc_id long, text string"
    )
    out = corpus.minhash_containment(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["bench_doc_id"], r["doc_id"]) == (0, 1)
    assert r["containment"] == 1.0
    assert r["n_common"] == r["n_bench"]


def test_winnow_overlap_matches_reference_and_caps_ubiquitous(spark):
    """MOSS-style pair report: (a) exact match against a pure-Python
    winnowing + pairing reference on planted docs (two docs sharing a
    long verbatim passage must pair with high containment; unrelated
    docs must not); (b) a fingerprint present in every doc (shared
    boilerplate) is dropped by the max_df cap and creates NO pairs."""
    import hashlib

    from vedb_gaze_spark.operators.text import winnow_overlap

    def hash60_py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, "intro words here " + shared + " closing remark one"),
        (1, "other opening text " + shared + " different ending two"),
        (2, "zx qv wm kj catalyst optimizer rewrites logical plans"),
        (3, "bn pf yt rd parquet footers prune row groups early"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def fps_of(text, k=P.SHINGLE_K, w=P.WINNOW_WINDOW):
        t = text.lower()
        hs = [hash60_py(t[i : i + k]) for i in range(len(t) - k + 1)]
        out = set()
        for i in range(w - 1, len(hs)):
            out.add(min(hs[i - w + 1 : i + 1]))
        return out

    ref_fps = {d: fps_of(t) for d, t in rows}
    # cap: drop fps in > max_df docs (use the operator's default)
    df_cnt = {}
    for s in ref_fps.values():
        for f in s:
            df_cnt[f] = df_cnt.get(f, 0) + 1
    kept = {
        d: {f for f in s if df_cnt[f] <= P.WINNOW_MAX_DF}
        for d, s in ref_fps.items()
    }
    import math

    want = {}
    ids = sorted(kept)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            n = len(kept[a] & kept[b])
            if n >= P.WINNOW_MIN_SHARED:
                c = math.floor(
                    n / min(len(kept[a]), len(kept[b])) * 1e6 + 0.5
                ) / 1e6
                want[(a, b)] = (n, len(kept[a]), len(kept[b]), c)

    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_fp_a, r.n_fp_b, r.containment)
        for r in winnow_overlap(docs).collect()
    }
    assert got == want
    assert (0, 1) in got and got[(0, 1)][3] > 0.3
    assert not any(2 in p or 3 in p for p in got)

    # ubiquitous-fingerprint cap: the same boilerplate in EVERY doc of a
    # >max_df corpus pairs nothing through that passage
    many = spark.createDataFrame(
        [(i, f"unique{i} opener " + shared + f" tail{i}") for i in range(
            P.WINNOW_MAX_DF + 2
        )],
        "doc_id long, text string",
    )
    pairs = winnow_overlap(many, max_df=1).collect()
    assert pairs == []


def test_cross_source_dedup_drops_only_worse_ranked(spark, documents):
    """Every dropped doc's surviving counterpart is strictly better
    under (rank, source), the pair really is a verified near-dup pair,
    and within-source duplicates are never dropped."""
    from vedb_gaze_spark.operators.dedup import dedup_minhash_lsh

    def rank(src):
        return P.SOURCE_RANK.get(src, P.SOURCE_RANK_DEFAULT)

    pairs = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in dedup_minhash_lsh(documents).collect()
    }
    out = corpus.cross_source_dedup(documents).collect()
    assert out
    for r in out:
        assert r["source"] != r["keep_source"]
        assert (rank(r["keep_source"]), r["keep_source"]) < (
            rank(r["source"]), r["source"]
        )
        assert frozenset((r["doc_id"], r["keep_doc_id"])) in pairs
        assert r["n_better"] >= 1


def test_corpus_stats_matches_pandas(spark, documents):
    """Per-source totals and the exact lower median agree with a direct
    pandas computation on the same rows."""
    import re

    pdf = documents.toPandas()
    pdf = pdf[pdf["text"].notna()].copy()
    pdf["n_toks"] = pdf["text"].map(
        lambda t: len(re.findall(r"[a-z0-9]+", t.lower()))
    )
    out = {r["source"]: r for r in corpus.corpus_stats(documents).collect()}
    for src, g in pdf.groupby("source"):
        r = out[src]
        assert r["n_docs"] == len(g)
        assert r["n_langs"] == g["lang"].nunique()
        assert r["total_tokens"] == int(g["n_toks"].sum())
        assert r["total_chars"] == int(g["text"].str.len().sum())
        ordered = g.sort_values(["n_toks", "doc_id"])["n_toks"].tolist()
        assert r["median_tokens"] == ordered[(len(ordered) + 1) // 2 - 1]


def test_curriculum_pack_orders_by_quality_and_respects_budget(
    spark, documents
):
    """Within every (source, shard) group: pack fill never exceeds the
    budget (unless a single doc alone does), and pack_id is monotone in
    the curriculum order (-score_units, doc_id) — cleanest docs land in
    the earliest packs."""
    rows = corpus.curriculum_pack(documents).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault((r["source"], r["shard"]), []).append(r)
    budget = P.PACK_BUDGET_TOKENS
    assert by_group
    for g in by_group.values():
        g.sort(key=lambda r: (-r["score_units"], r["doc_id"]))
        prev_pack, fill = -1, 0
        for r in g:
            assert r["pack_id"] >= prev_pack  # monotone along the order
            if r["pack_id"] == prev_pack:
                fill += r["n_tokens"]
                assert fill <= budget
            else:
                assert r["pack_id"] == prev_pack + 1
                prev_pack, fill = r["pack_id"], r["n_tokens"]


def test_mix_plan_temperature_flattens_toward_uniform(spark, sf_dir):
    """Temperature semantics: alpha=1 reproduces natural token shares
    (up to the 1e-9 quantization); alpha<1 strictly RAISES the scarcest
    language's share and lowers the most abundant one's — the
    low-resource upweighting the rule exists for. Shares always sum to
    ~1."""
    from vedb_gaze_spark.operators.corpus import mix_plan_temperature
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    nat = {r.lang: r for r in mix_plan_temperature(docs, alpha=1.0).collect()}
    cool = {r.lang: r for r in mix_plan_temperature(docs, alpha=0.3).collect()}
    assert set(nat) == set(cool) and len(nat) >= 2
    total = sum(r.avail_tokens for r in nat.values())
    for lang, r in nat.items():
        assert abs(r.share - r.avail_tokens / total) < 1e-5, (lang, r)
    assert abs(sum(r.share for r in cool.values()) - 1.0) < 1e-4
    scarce = min(nat, key=lambda l: nat[l].avail_tokens)
    rich = max(nat, key=lambda l: nat[l].avail_tokens)
    assert cool[scarce].share > nat[scarce].share, (scarce, cool[scarce])
    assert cool[rich].share < nat[rich].share, (rich, cool[rich])


def test_length_batches_sorted_strategy_reduces_padding(spark, sf_dir):
    """The operator's reason to exist, as an assertion: per source, the
    length-sorted strategy never pads MORE than arrival order in total,
    and strictly less overall on the bench corpus. Also pins the batch
    geometry: every batch holds exactly batch_docs docs except the last
    per (strategy, source), and utilization = sum/(n·max) on every row."""
    from vedb_gaze_spark.operators import corpus
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    rows = corpus.length_batches(
        load_table(spark, "documents", sf_dir)
    ).collect()
    waste = {}
    by_group = {}
    for r in rows:
        waste[r.strategy] = waste.get(r.strategy, 0) + r.pad_waste
        by_group.setdefault((r.strategy, r.source), []).append(r)
        assert r.pad_waste == r.n_docs * r.max_len - r.sum_len
        got = r.sum_len / (r.n_docs * r.max_len)
        import math

        assert r.utilization == math.floor(got * 1e6 + 0.5) / 1e6
    assert waste["length_sorted"] < waste["arrival"], waste
    for (strat, src), batches in by_group.items():
        batches.sort(key=lambda r: r.batch_id)
        for r in batches[:-1]:
            assert r.n_docs == P.LB_BATCH_DOCS, (strat, src, r)


def test_epoch_shuffle_is_per_epoch_permutation(spark, sf_dir):
    """Each epoch's shuffle_pos is an exact permutation of 1..N (the
    two-level bucket-offset rank is dense and collision-free), and
    different epochs produce different orders (salted hashes)."""
    from vedb_gaze_spark.operators import corpus
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    rows = corpus.epoch_shuffle(docs, epochs=2).collect()
    n = docs.count()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = r.shuffle_pos
    assert set(by_epoch) == {0, 1}
    for e, m in by_epoch.items():
        assert sorted(m.values()) == list(range(1, n + 1)), e
    assert by_epoch[0] != by_epoch[1]


def test_nb_lang_id_recovers_planted_vocabularies(spark):
    """Planted corpus with DISJOINT per-language vocabularies (plus a
    shared function-word pool): multinomial NB must identify every
    document — the mechanism pin behind the honesty note in the
    operator (the bench corpus has no lexical language signal, so the
    bench face measures the plan, not a headline accuracy)."""
    from vedb_gaze_spark.operators import text as T

    vocab = {
        "aa": ["haus", "katze", "hund", "berg"],
        "bb": ["maison", "chat", "chien", "montagne"],
        "cc": ["casa", "gato", "perro", "montana"],
    }
    shared = ["the", "of", "and"]
    rows = []
    i = 0
    for lang, words in vocab.items():
        for k in range(40):
            toks = [words[(k + j) % len(words)] for j in range(10)] + [
                shared[(k + j) % 3] for j in range(3)
            ]
            rows.append((i, " ".join(toks), lang))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = T.nb_lang_id(docs).collect()
    assert len(out) == 120
    assert all(r.correct for r in out)


def test_funnel_windowed_bounded_by_unwindowed_and_markov_rows_normalize(
    spark, sf_dir
):
    """(a) The windowed funnel is bounded above stage-for-stage by the
    unwindowed funnel (tightening a constraint can only lose users) and
    the window BINDS on the bench events (strictly fewer windowed
    conversions); (b) event_markov rows normalize: per from_type, Σn =
    n_from and Σp ≈ 1 within quantization (≤ #rows·1e-6)."""
    from vedb_gaze_spark.operators import analytics
    from vedb_gaze_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    wrow = analytics.funnel_windowed(ev).collect()[0]
    urow = analytics.funnel_conversion(ev).collect()[0]
    assert wrow.stage_view == urow.stage_view
    assert wrow.stage_click_w <= urow.stage_click
    assert wrow.stage_purchase_w <= urow.stage_purchase
    assert wrow.stage_purchase_w < urow.stage_purchase, (wrow, urow)

    rows = analytics.event_markov(ev).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for ft, rs in by_from.items():
        assert sum(r.n for r in rs) == rs[0].n_from
        assert abs(sum(r.p for r in rs) - 1.0) <= len(rs) * 1e-6, ft


def test_chunk_documents_covers_with_overlap(spark, sf_dir):
    """Chunking pins: (a) chunk starts advance by stride with
    chunk_no dense from 0; (b) every token index is covered by ≥ 1
    chunk and consecutive chunks overlap by chunk_tokens − stride
    (where a next chunk exists); (c) rejoining chunk 0's words equals
    the doc's first chunk_len words (lossless slices)."""
    from vedb_gaze_spark.operators import corpus
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    rows = corpus.chunk_documents(docs, chunk_tokens=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_no)
        assert [c.chunk_no for c in chunks] == list(range(len(chunks)))
        for i, c in enumerate(chunks):
            assert c.start_token == 1 + i * 48
            assert c.chunk_len >= 1
            assert len(c.chunk.split(" ")) == c.chunk_len
        # coverage: last chunk reaches the end
        last = chunks[-1]
        n = last.start_token + last.chunk_len - 1
        assert all(c.start_token <= n for c in chunks)


def test_trade_hits_deterministic_and_sane(spark, sf_dir):
    """HITS pins: (a) bit-reproducible across runs (integer sums + exact
    max normalization); (b) every customer carries a hub score and every
    supplier an authority score, all in (0, 1e6] with the max at exactly
    1e6 per side; (c) node ids round-trip the typed encoding."""
    from vedb_gaze_spark.operators import graph
    from vedb_gaze_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    od = load_table(spark, "orders", sf_dir)
    r1 = sorted(map(tuple, graph.trade_hits(li, od).collect()))
    r2 = sorted(map(tuple, graph.trade_hits(li, od).collect()))
    assert r1 == r2 and len(r1) > 0
    by_kind = {}
    for node_id, kind, entity_key, score in r1:
        assert node_id // 2 == entity_key
        assert (node_id % 2 == 0) == (kind == "customer")
        assert 0 < score <= 1_000_000, (node_id, score)
        by_kind.setdefault(kind, []).append(score)
    assert max(by_kind["customer"]) == 1_000_000
    assert max(by_kind["supplier"]) == 1_000_000


def test_lm_score_trigram_rewards_longer_context(spark):
    """Planted corpus isolating what ONLY a trigram model can see: the
    training docs are the two 3-word templates "a b x" and "b a y", so
    the probe "a b a" consists ENTIRELY of seen bigrams (ab, ba) while
    its trigram (a,b,a) never occurs. The bigram model therefore rates
    the novel-order probe nearly as typical as the verbatim template,
    but the trigram model must (a) score verbatim strictly below the
    novel-order probe and (b) separate them by a wider margin than the
    bigram model — the longer context is the operator's reason to
    exist. (A fully-shuffled probe would NOT show this: unseen bigrams
    already floor the bigram model, and JM interpolation compresses the
    trigram's extra penalty — measured 0.54 vs 1.24 nats — so the pin
    targets the seen-bigrams/novel-trigram regime.)"""
    from vedb_gaze_spark.operators import text as T

    rows = []
    for i in range(40):
        rows.append((2 * i, "a b x"))
        rows.append((2 * i + 1, "b a y"))
    rows.append((1000, "a b x"))   # verbatim template
    rows.append((1001, "a b a"))   # all bigrams seen, trigram novel
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    tri = {r.doc_id: r.cross_entropy for r in T.lm_score_trigram(docs).collect()}
    bi = {r.doc_id: r.cross_entropy for r in T.lm_score_bigram(docs).collect()}
    assert tri[1000] < tri[1001]
    gap_tri = tri[1001] - tri[1000]
    gap_bi = bi[1001] - bi[1000]
    assert gap_tri > gap_bi, (gap_tri, gap_bi)


def test_token_zipf_fit_large_vocab_no_int64_overflow(spark):
    """r9 overflow regression pin (ADVICE r8): with x,y = ln·1e6
    micro-units, the closed-form cross terms n·sxx and sx² pass 2⁶³
    once the vocabulary exceeds ~10⁴ types — int64 arithmetic silently
    wraps in Spark (wrong slope) and raises in DuckDB (broken engine
    parity). The fix widens the second moments to decimal(38,0) /
    HUGEINT; this test plants a 12 000-type Zipf corpus (n·sxx ≈ 3·10²²
    — firmly past the wrap point) and pins (a) exact Spark↔DuckDB
    agreement and (b) the recovered slope against an independent
    numpy least-squares fit of the same quantized points."""
    import duckdb
    import math

    import numpy as np
    import pandas as pd

    from vedb_gaze_spark.operators import text as T
    from vedb_gaze_spark.plans import oracles

    V, C = 12_000, 12_000
    toks = []
    for r in range(1, V + 1):
        toks.extend([f"w{r}"] * max(1, C // r))
    docs_py, chunk = [], 2_000
    for i in range(0, len(toks), chunk):
        docs_py.append((i // chunk, " ".join(toks[i : i + chunk])))
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")

    got = T.token_zipf_fit(docs).collect()[0]
    assert got.n_types == V

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs_py, columns=["doc_id", "text"]))
    want = con.execute(oracles.TOKEN_ZIPF_FIT).df().iloc[0]
    assert int(want.n_types) == V
    assert got.zipf_slope == want.zipf_slope, (got.zipf_slope, want.zipf_slope)
    assert got.zipf_intercept == want.zipf_intercept

    # independent fit on the same micro-unit-quantized (ln rank, ln freq)
    freqs = sorted((max(1, C // r) for r in range(1, V + 1)), reverse=True)
    x = np.array(
        [math.floor(math.log(i + 1) * 1e6 + 0.5) for i in range(V)]
    ) / 1e6
    y = np.array(
        [math.floor(math.log(f) * 1e6 + 0.5) for f in freqs]
    ) / 1e6
    slope = np.polyfit(x, y, 1)[0]
    assert abs(got.zipf_slope - slope) < 1e-4, (got.zipf_slope, slope)
    assert -1.3 < got.zipf_slope < -0.7


def test_candidate_fanout_slope_lsh_stays_pair_proportional(spark, sf_dir):
    """The MECHANISM behind the PERF_NOTES 10x slope table, pinned
    deterministically (counts, not wall time): on a copy-correlated
    corpus (every doc + 3 near-dup copies — each shingle's df ~4x),
    exact PPJoin's candidate fanout grows superlinearly (a shared
    shingle with df=d fans out O(d^2)) while banded-LSH candidates stay
    proportional to TRUE pairs (signature buckets, not shared
    shingles). This is why the LSH family is the declared 100 TB path
    and the sampled gates exist for the exact family."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import (
        _band_keys,
        _candidate_pairs,
        _doc_sets,
        _minhash_signatures,
        _prefix_shingles,
        dedup_ngram_jaccard,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    base = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text"
    )
    # 3 extra near-dup copies per doc: one deterministic token junked
    copies = [base]
    for k in (1, 2, 3):
        copies.append(
            base.select(
                (F.col("doc_id") * 10 + k).alias("doc_id"),
                F.concat(
                    F.expr(
                        "array_join(slice(split(text, ' '), 1, "
                        "size(split(text, ' ')) - 1), ' ')"
                    ),
                    F.lit(f" junk{k}"),
                ).alias("text"),
            )
        )
    corp = copies[0].select(
        (F.col("doc_id") * 10).alias("doc_id"), "text"
    ).unionByName(copies[1]).unionByName(copies[2]).unionByName(copies[3])

    def counts(docs):
        ds = _doc_sets(docs)
        pp = _candidate_pairs(
            _prefix_shingles(ds, P.JACCARD_THRESHOLD), P.JACCARD_THRESHOLD
        ).count()
        e = _band_keys(_minhash_signatures(ds))
        lsh = (
            e.alias("a")
            .join(e.alias("b"), "band_key")
            .where(F.expr("a.doc_id < b.doc_id"))
            .select(F.expr("a.doc_id"), F.expr("b.doc_id"))
            .distinct()
            .count()
        )
        true = dedup_ngram_jaccard(docs).count()
        return pp, lsh, true

    pp_b, lsh_b, true_b = counts(base)
    pp_c, lsh_c, true_c = counts(corp)
    # the copy corpus has real near-dup structure to find
    assert true_c >= 4 * max(true_b, 1)
    # exact PPJoin candidates grow ~df^2: a 4x copy-correlated corpus
    # multiplies every shingle's document frequency by 4, so candidate
    # fanout lands near 16x (measured 4,364 -> 70,153 = 16.1x), far
    # above the 4x a linear kernel would pay
    assert pp_c > 8 * pp_b, (pp_b, pp_c)
    # banded-LSH candidates stay proportional to TRUE pairs (bucket
    # collisions, not shared-shingle fanout): measured 2.7x true pairs
    # on the copy corpus vs PPJoin's ~20x
    assert lsh_c <= 3.0 * true_c, (lsh_c, true_c)
    assert pp_c > 5.0 * lsh_c, (pp_c, lsh_c)
    # and the verified LSH OUTPUT keeps high recall on the copy pairs
    # (16 perms / 4 bands at J~0.9: ~1.4% per-pair miss rate)
    from vedb_gaze_spark.operators.dedup import dedup_minhash_lsh

    assert dedup_minhash_lsh(corp).count() >= 0.9 * true_c
