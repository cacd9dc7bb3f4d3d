"""Physical-plan assertions (SURVEY §5.4 / §6): the optimizations the
100 TB design depends on must be visible in `.explain` output — pushdown
reaching the parquet scan, pruned read schemas, broadcast dim joins, and
whole-stage codegen over the expression work. A regression here is a
silent 100× at scale even when results stay correct."""

import pytest

from vedb_gaze_spark.plans.queries import QUERIES


def plan(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir)._sc._jvm.PythonSQLUtils.explainString(
        QUERIES[name](spark, sf_dir)._jdf.queryExecution(), "formatted"
    )


def fmt(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize(
    "name,frag",
    [
        # selective predicates must reach the parquet reader
        ("q6_revenue", "PushedFilters: ["),
        ("time_slice", "PushedFilters: ["),
        # dim joins must be broadcast, not shuffled
        ("q3_shipping_priority", "BroadcastHashJoin"),
        ("q5_local_supplier", "BroadcastHashJoin"),
    ],
)
def test_plan_contains(spark, sf_dir, name, frag):
    assert frag in fmt(QUERIES[name](spark, sf_dir)), f"{name}: missing {frag}"


def test_no_row_python_udfs(spark, sf_dir):
    # Python on the hot path is only ever Arrow-batched (ArrowEvalPython /
    # FlatMapGroupsInPandas); a row-at-a-time BatchEvalPython anywhere is a
    # 10-100x regression at scale.
    for name, q in QUERIES.items():
        assert "BatchEvalPython" not in fmt(q(spark, sf_dir)), name


def test_codegen_covers_aggregation(spark, sf_dir):
    # AQE's pre-execution plan hides codegen annotations; run the job and
    # inspect the executed plan.
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd stages render as "*(n) HashAggregate..." in the final plan
    assert "*(" in s and "HashAggregate" in s


def test_q6_pushes_real_filters(spark, sf_dir):
    s = fmt(QUERIES["q6_revenue"](spark, sf_dir))
    scan = s[s.index("PushedFilters"):]
    assert "l_shipdate" in scan[: scan.index("]")]
    assert "l_discount" in scan[: scan.index("]")]


def test_q1_prunes_columns(spark, sf_dir):
    # Q1 touches 7 of lineitem's 16 columns; the scan must not read the rest
    s = fmt(QUERIES["q1_pricing_summary"](spark, sf_dir))
    i = s.index("ReadSchema")
    read = s[i : s.index("\n", i)]
    assert "l_comment" not in read and "l_orderkey" not in read


def test_no_cartesian_products(spark, sf_dir):
    # every registered query must avoid accidental cross joins; the pair
    # generators (dedup/ann) are bucketed equi-joins by construction
    for name, q in QUERIES.items():
        s = fmt(q(spark, sf_dir))
        assert "CartesianProduct" not in s, name


def test_q7_prefilters_both_nation_roles(spark, sf_dir):
    """Q7's `n_name IN (A, B)` is implied by the (A,B)|(B,A) disjunction;
    it must be applied to BOTH broadcast nation aliases so non-qualifying
    fact rows (~23/25 at uniform nation mix) die at their first dim join
    instead of riding through supplier→orders→customer."""
    s = fmt(QUERIES["q7_volume_shipping"](spark, sf_dir))
    # both scans of the nation dim must carry the two-nation IN filter
    assert s.count("n_name") >= 2
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*n_name[^\]]*\]", s)
    assert len(pushed) >= 2, s


def test_q3_broadcasts_only_the_dim(spark, sf_dir):
    """q3 must carry exactly ONE explicit broadcast hint (filtered
    customer). Hinting the date-filtered orders side — fact-sized at
    100 TB — forces a fact-table broadcast no matter the scale; AQE may
    still CHOOSE to broadcast it at small SF, which is fine."""
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_text_scores_never_force_vocabulary_broadcasts(spark, sf_dir):
    """lm_score and tfidf_keywords join the corpus token stream against
    a table with one row per DISTINCT corpus token — corpus-dependent
    and unbounded (10^9+ at web scale). A forced broadcast hint on that
    join is a driver/executor OOM at 100×, so each query may hint ONLY
    its scalar global-stats table (1-2 rows): exactly one ResolvedHint,
    and AQE decides the word-keyed join at runtime. Same contract for
    corpus_pipeline's contamination anti-join (contamination-rate-
    dependent): its only hint is decontaminate's bounded benchmark
    n-gram set."""
    for name in ("lm_score", "tfidf_keywords", "corpus_pipeline"):
        df = QUERIES[name](spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 1, (name, analyzed)


@pytest.mark.parametrize(
    "name", ["ann_cosine_topk", "ann_lsh", "ann_ivf", "ann_ivf_trained"]
)
def test_ann_prunes_before_window(spark, sf_dir, name):
    """Every ANN variant must reduce scored rows partition-locally (the
    MapInPandas prune) before the per-query ranking window — without it,
    all scored rows shuffle onto q keys. Formatted plans print top-down,
    so the prune (a child of the window) appears AFTER the Window line."""
    s = fmt(QUERIES[name](spark, sf_dir))
    assert "MapInPandas" in s, s
    assert s.index("Window") < s.rindex("MapInPandas"), (
        f"{name}: prune must sit below the ranking window"
    )


def test_embedding_lsh_is_subset_with_measured_recall(spark, sf_dir):
    """dedup_embedding_lsh emits only exact pairs (subset of the exact
    operator — every survivor is rescored with the same cosine) and its
    recall on the test data matches the measured design point (~0.73 at
    this adversarially-loose threshold; see params.DEDUP_LSH_*)."""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {
        (r.vec_a, r.vec_b) for r in similarity.dedup_embedding_cosine(emb).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b) for r in similarity.dedup_embedding_lsh(emb).collect()
    }
    assert lsh <= exact, "LSH emitted a non-exact pair"
    assert len(lsh) >= 0.6 * len(exact), (len(lsh), len(exact))


def test_ann_lsh_multiprobe_lifts_recall_and_stays_exact(spark, sf_dir):
    """Multi-probe (Hamming-1) ann_lsh must (a) never return a pair the
    single-probe form could 'invent' — every returned cosine equals the
    brute-force cosine of those ids (exact rerank), (b) reach at least
    the single-probe recall vs the exact top-3, and (c) fill k rows per
    query on this data."""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    exact = similarity.ann_cosine_topk(emb, k=3).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    single = similarity.ann_lsh(emb, multiprobe=False).collect()
    multi = similarity.ann_lsh(emb, multiprobe=True).collect()
    s_pairs = {(r.query_id, r.neighbor_id) for r in single}
    m_pairs = {(r.query_id, r.neighbor_id) for r in multi}
    recall_s = len(s_pairs & exact_pairs) / len(exact_pairs)
    recall_m = len(m_pairs & exact_pairs) / len(exact_pairs)
    assert recall_m >= recall_s, (recall_m, recall_s)
    # every query fills its k=3 slots under multi-probe on this data
    from collections import Counter

    per_q = Counter(r.query_id for r in multi)
    assert all(v == 3 for v in per_q.values()), per_q
    # exactness: multi-probe cosines match the brute-force cosine of the
    # same (query, neighbor) ids computed by the exact operator's scorer
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    for r in multi:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        c = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cosine - round(c, 6)) <= 1e-6, r


def test_dedup_reuses_doc_set_exchange(spark, sf_dir):
    """The md5 pass over every shingle occurrence is the dominant dedup
    scan cost; all consuming branches (prefix stream, doc frequencies,
    sizes, verification arrays, minhash signatures) must derive from ONE
    _doc_sets exchange. ReusedExchange in the executed plan is the
    proof; its absence means the corpus is being re-hashed per branch."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        s = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in s, name


def test_r6b_scale_shapes(spark, sf_dir):
    """Scale-shape pins for the r6b corpus family: cross_source_dedup
    must inherit the LSH kernel's single-corpus-hash property (its
    executed plan keeps ReusedExchange), and bloom_decontaminate's
    Bloom bit set must reach the probe join as a BROADCAST (a shuffle
    join on pos would re-shuffle the corpus n-gram stream against a
    structure that is ≤ m rows by construction)."""
    df = QUERIES["cross_source_dedup"](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in s

    df = QUERIES["bloom_decontaminate"](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in s

    # group_sample's rank-<=-k predicate must be pushed into a
    # per-partition partial top-k (WindowGroupLimit) — without it the
    # window sorts every source's full doc list on one task
    df = QUERIES["group_sample"](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in s


def test_corpus_stats_median_is_histogram_not_full_sort(spark, sf_dir):
    """corpus_stats' exact median must come from the count-of-counts
    histogram (bounded by distinct token counts per source), never a
    row_number window over every document of a source — source is the
    lowest-cardinality key in the schema, so a partitionBy(source) sort
    of the doc relation is the hot-partition shape at scale (r6 verdict
    'what's wrong' #2). Pin: no row_number in the executed plan; every
    Window node sits above the histogram aggregation."""
    df = QUERIES["corpus_stats"](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in s, "median fell back to a per-doc rank window"
    # both windows (cumulative + per-source total) run over the
    # (source, n_toks) histogram, i.e. below them sits a HashAggregate
    # keyed by source AND n_toks — not the raw doc relation
    assert "Window" in s and "n_toks" in s


def test_no_driver_collect_in_operators():
    """No registered query may materialize DATA on the driver: a
    .collect() inside an operator is a corpus-sized driver OOM at 100 TB.
    Allowed sites: the trainers' task-partials combine, which collects
    one model-sized partial per task (the MLlib aggregate-collect
    pattern), and named model-state collects, never rows of the
    corpus."""
    import pathlib

    allowed = (
        # the one task-partials combine behind every trainer: one
        # fixed-size model partial per task (k·dim sums, k counts; for
        # k-means|| also the task's ≤≈l candidate rows), never rows
        "def _task_partials",
        # Lloyd's IVF training: the k init vectors (first_k)
        "def ivf_train_centroids",
        # static benchmark n-gram set for streaming decontamination:
        # collects O(eval-suite) n-grams once, never corpus rows
        "def bench_ngram_set",
        # frozen DSIR feature table: collects ≤ DSIR_BUCKETS fixed-size
        # model rows once (the streaming scorer's broadcast model)
        "def dsir_lr_table",
        # tar-shard writer: collects one STATS row per shard to drive
        # the write job; payloads never leave the executors
        "def write_tar_shards",
        # BPE merge training: collects ONE (pair, count) row per merge
        # round — the argmax of a full aggregation, i.e. model state,
        # exactly the ivf/k-means iterative pattern
        "def bpe_train",
        # PQ codebook training: the k_sub init vectors
        "def pq_train",
        # cluster-maintenance fold: collects the DISTINCT bucket ids
        # touched by a micro-batch — bounded by n_buckets (a config
        # constant), the partition-pruning driver loop, not data
        "def process",
        # frozen CCNet scoring model: collects the micro-nat unigram LM
        # (model state — the streaming analog of shipping a KenLM
        # binary per worker) and O(languages) tertile boundary keys
        "def ccnet_model",
        # IVF serving's description of what a serve reads: collects the
        # DISTINCT probed cell ids of a query batch (≤ n_cells ints);
        # not on the serve path, which prunes through the kernel's own
        # broadcast probe (dynamic partition pruning), never rows
        "def probed_codes",
        # stored-index model loads: the index's ONE coarse-quantizer,
        # codebook or SQ8 stats row (model state the codes were encoded
        # against), read by the servers once per job and by the appends
        # before encoding a new batch, never rows
        "def _read_cents",
        "def _read_books",
        "def _read_stats",
        # SQ8 scalar-quantizer training: collects per-dim (min, max) —
        # EMB_DIM rows of model state, the same class as the Lloyd's
        # trainers' centroid collects
        "def sq8_stats",
        # Z-order rectangle reader: the persisted grid-geometry row
        # (bits/min/max — partition METADATA, the probed-cells pattern)
        "def read_zorder_pruned",
        # label-separation serving centroid load (r10): the stored
        # labels-sized centroid model (the _read_cents collect class),
        # once per job, never data rows
        "def _load",
        # k-means|| init: the seed vector, and the first k vectors when
        # a degenerate corpus leaves fewer than k candidates
        "def _kmeanspar_init",
        # stats-manifest reader: collects the overlapping FILE LIST
        # from the manifest (file-skipping metadata — the Delta/Iceberg
        # log-read decision), never data rows
        "def read_stats_pruned",
        # distilled-classifier training: per-epoch exact-integer
        # gradient/loss rollups and the standardization stats — model
        # state (the MLlib LogisticRegression aggregate-collect loop)
        "def quality_classifier_train",
        # unigram-LM tokenizer training: seed vocabulary, char set, and
        # per-EM-step Viterbi piece counts — vocabulary-sized model
        # state (the bpe_train collect class)
        "def unigram_train",
        # stats-store growth: loads the OLD manifest rows (file-skipping
        # metadata, manifest-sized — the Delta log read) to union with
        # the new files' stats; never data rows
        "def append_stats_layout",
        # frozen NB language-ID model: collects the vocabulary-sized
        # model tables (the ccnet_model collect class)
        "def nb_lang_model",
        # training-order store (r9): the offsets sidecar and touched-
        # bucket lists are 256·epochs METADATA rows (the two-level
        # rank's broadcast side) — counts/offsets arithmetic happens
        # driver-side on purpose; order rows never collect
        "def _write_epoch_offsets",
        "def write_epoch_order",
        "def append_epoch_order",
        # pldata sink (r11): collects one STATS row per recording to
        # drive the write job — the write_tar_shards collect class;
        # datum payloads never leave the executors
        "def write_pldata_recordings",
    )
    root = pathlib.Path(__file__).resolve().parent.parent / "vedb_gaze_spark"
    hits = []
    for py in root.rglob("*.py"):
        # opt-in tracks the allowlisted def's indent so a nested helper
        # def inside it doesn't clear the opt-in, while the next def at
        # the same or shallower indent does
        optin_indent = None
        for lineno, line in enumerate(py.read_text().splitlines(), 1):
            stripped = line.lstrip()
            if stripped.startswith("def "):
                indent = len(line) - len(stripped)
                if stripped.startswith(allowed):
                    optin_indent = indent
                elif optin_indent is not None and indent <= optin_indent:
                    optin_indent = None
            in_optin = optin_indent is not None
            code = line.split("#", 1)[0]
            if ".collect()" in code and not in_optin:
                hits.append(f"{py.name}:{lineno}: {line.strip()}")
    assert not hits, "driver-side collect in operator code:\n" + "\n".join(hits)


def test_aqe_splits_skewed_join(spark, sf_dir):
    """Injected hot key: 60% of lineitem rows collapse onto one join key.
    With AQE skew handling tuned to the test data volume, the executed
    sort-merge join must mark the hot partition as skew-split
    (isSkew=true) — the runtime re-plan SURVEY §4 relies on instead of
    manual salting for skewed equi-joins at 100 TB."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    hot = F.when(F.col("l_orderkey") % 10 < 6, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    # repartition first: a skewed reduce partition is split by MAP-OUTPUT
    # ranges, so the join's shuffle needs >1 mapper (the test file is one
    # parquet row group = one scan task; a real 100 TB table has
    # thousands of mappers and hits the same rule for free)
    a = li.select(hot.alias("k"), "l_quantity").repartition(16)
    b = li.select(hot.alias("k"), "l_extendedprice").repartition(16)
    saved = {
        c: spark.conf.get(c)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        joined = a.join(b, "k").agg(
            F.sum(F.col("l_quantity") + F.col("l_extendedprice")).alias("s")
        )
        joined.collect()
        s = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in s, s
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on user_id must sort-merge-join with ZERO
    Exchange operators — the co-location contract SURVEY §4 relies on for
    every fact-fact join at scale."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.bucketing import read_bucketed, write_bucketed
    from vedb_gaze_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckets LOCATION '{tmp_path}/wh'")
    ev = load_table(spark, "events", sf_dir)
    write_bucketed(ev.where(F.col("event_type") == "view"), "buckets.ev_view")
    write_bucketed(ev.where(F.col("event_type") == "click"), "buckets.ev_click")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at sf the small side would auto-broadcast; disable it so the
        # plan shows what a fact-fact join does at 100 TB, where neither
        # side broadcasts and only bucketing avoids the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = read_bucketed(spark, "buckets.ev_view").select("user_id", "event_id", "value")
        b = read_bucketed(spark, "buckets.ev_click").select("user_id", "ts")
        joined = a.join(b, "user_id").groupBy("user_id").agg(F.sum("value"))
        joined.collect()
        s = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in s, s
        assert "SortMergeJoin" in s, s
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS buckets.ev_view")
        spark.sql("DROP TABLE IF EXISTS buckets.ev_click")
        spark.sql("DROP DATABASE IF EXISTS buckets")


def test_jaccard_grid_autosizes_with_cluster_and_corpus(spark):
    """The verify grid must be DERIVED, not hardcoded: it grows with the
    configured reduce parallelism (finer grid on a bigger cluster) and
    with the corpus (bounded per-cell doc-set payload at any scale)."""
    from vedb_gaze_spark.operators.dedup import _verify_grid_size

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        g32 = _verify_grid_size(spark)
        spark.conf.set("spark.sql.shuffle.partitions", "2048")
        g2048 = _verify_grid_size(spark)
        assert g32 < g2048, (g32, g2048)
        # memory ceiling: 10 M docs needs a grid bounding 2n/G cell payload
        big = _verify_grid_size(spark, n_docs=10_000_000)
        assert big >= 2 * 10_000_000 / 20_000
        # small corpus on a small cluster still gets a sane grid
        assert _verify_grid_size(spark, n_docs=500) >= 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_jaccard_verify_strategies_agree(spark, sf_dir):
    """The two verification physical strategies (grid cogroup for
    dedup_ngram_jaccard, equi-join for the MinHash operators) implement
    ONE semantics — identical (doc_a, doc_b, jaccard) sets on the same
    candidates. Both score through _exact_jaccard, so a divergence means
    a pairing bug in exactly one path."""
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    ds = dedup._doc_sets(docs)
    pairs = dedup._candidate_pairs(
        dedup._prefix_shingles(ds, P.JACCARD_THRESHOLD), P.JACCARD_THRESHOLD
    )
    grid = {
        tuple(r)
        for r in dedup._verify_jaccard_grid(pairs, ds, docs.count()).collect()
    }
    join = {tuple(r) for r in dedup._verify_jaccard(pairs, ds).collect()}
    assert grid == join
    assert len(grid) > 0


def test_sampled_recall_pairs_are_full_pairs_restricted_to_sample(
    spark, sf_dir
):
    """The unbiasedness argument in dedup_recall(sample_mod=...) rests on
    pair-level outcomes being independent of which OTHER docs are present:
    each kernel's pair set on the sampled sub-corpus must equal its
    full-corpus pair set restricted to pairs whose BOTH endpoints were
    sampled. (For PPJoin the df-ordered prefix filter shifts under
    sampling, but the filters are lossless, so the exact output set is
    invariant; for LSH, signatures and band keys are per-document.)"""
    from pyspark.sql import functions as F

    from vedb_gaze_spark.functions.core import portable_hash60
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    kept = docs.where(
        portable_hash60(
            F.concat(
                F.lit(P.RECALL_SAMPLE_SALT + ":"), F.col("doc_id").cast("string")
            )
        )
        % P.RECALL_SAMPLE_MOD
        == 0
    )
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 < len(kept_ids) < docs.count()
    for kernel in (dedup.dedup_ngram_jaccard, dedup.dedup_minhash_lsh):
        full = {
            (r.doc_a, r.doc_b)
            for r in kernel(docs).select("doc_a", "doc_b").collect()
        }
        sampled = {
            (r.doc_a, r.doc_b)
            for r in kernel(kept).select("doc_a", "doc_b").collect()
        }
        restricted = {
            (a, b) for a, b in full if a in kept_ids and b in kept_ids
        }
        assert sampled == restricted, kernel.__name__


def test_dedup_agreement_sampled_face(spark, sf_dir):
    """The r11 gated face dedup_agreement(sample_mod=m) must be EXACTLY
    the unsampled matrix computed over the hash-gated sub-corpus (same
    salt/mod as dedup_recall_sampled, so the two sampled measurements
    share one sub-corpus), and the exact operator API must still emit
    the full |methods choose 2| grid with sane set-Jaccard bounds."""
    from pyspark.sql import functions as F

    from vedb_gaze_spark.functions.core import portable_hash60
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    kept = docs.where(
        portable_hash60(
            F.concat(
                F.lit(P.RECALL_SAMPLE_SALT + ":"), F.col("doc_id").cast("string")
            )
        )
        % P.RECALL_SAMPLE_MOD
        == 0
    )
    sampled = {tuple(r) for r in
               dedup.dedup_agreement(docs, sample_mod=P.RECALL_SAMPLE_MOD).collect()}
    manual = {tuple(r) for r in dedup.dedup_agreement(kept).collect()}
    assert sampled == manual
    full = dedup.dedup_agreement(docs).collect()
    assert len(full) == 3  # 3 kernels -> 3 ordered method pairs
    for r in full:
        assert r.method_a < r.method_b
        assert 0 <= r.n_both <= min(r.n_a, r.n_b)
        assert 0.0 <= r.pair_jaccard <= 1.0


def test_minhash_pairs_subset_of_exact_ngram(spark, sf_dir):
    """Banded-LSH candidates can only MISS pairs, never invent them:
    dedup_minhash_lsh output must be a subset of the exact PPJoin
    operator's (here equal — LSH recall is 1 on the planted near-dups)."""
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    exact = {tuple(r) for r in dedup.dedup_ngram_jaccard(docs).collect()}
    lsh = {tuple(r) for r in dedup.dedup_minhash_lsh(docs).collect()}
    assert lsh <= exact
    assert len(lsh) > 0


def test_dedup_clusters_components(spark):
    """Min-label propagation must find exact components on a graph with a
    3-chain (needs >1 round: the min reaches the far end transitively), a
    lone pair, and a star — labels are component-min doc_ids."""
    from vedb_gaze_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (20, 22), (20, 23)],
        "doc_a long, doc_b long",
    )
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.dedup_clusters(None, pairs=pairs).collect()
    }
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 2), 11: (10, 2),
        20: (20, 4), 21: (20, 4), 22: (20, 4), 23: (20, 4),
    }


def test_dedup_prune_keeps_canonical_and_unique(spark):
    from vedb_gaze_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    kept = {
        r.doc_id: r.status
        for r in dedup.dedup_prune(
            docs, clusters=dedup.dedup_clusters(None, pairs=pairs)
        ).collect()
    }
    assert kept == {1: "canonical", 10: "canonical", 99: "unique"}


def test_new_relational_shapes_plan_pins(spark, sf_dir):
    """The r3 relational shapes must keep their defining physical form:
    Q4's EXISTS is a LEFT SEMI join (never a materializing inner join +
    distinct), Q16/Q22's NOT IN / NOT EXISTS are LEFT ANTI joins, and
    Q19's conjunctive hull reaches both parquet scans ahead of the
    disjunction."""
    s4 = fmt(QUERIES["q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in s4, s4
    s16 = fmt(QUERIES["q16_supplier_count"](spark, sf_dir))
    assert "LeftAnti" in s16, s16
    s22 = fmt(QUERIES["q22_sales_opportunity"](spark, sf_dir))
    assert "LeftAnti" in s22, s22
    s19 = fmt(QUERIES["q19_discounted_revenue"](spark, sf_dir))
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]+\]", s19)
    assert any("p_brand" in p for p in pushed), s19
    assert any("l_quantity" in p for p in pushed), s19


def test_bucketed_corpus_makes_doc_sets_shuffle_free(spark, sf_dir, tmp_path):
    """The doc-set build (groupBy doc_id over the exploded shingle
    stream) is the dominant shuffle of every text-dedup family. A corpus
    stored bucketed by doc_id feeds it pre-partitioned — explode and
    projection preserve partitioning — so the executed plan has ZERO
    Exchange operators: at 100 TB the full shingle stream never crosses
    the wire."""
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.sources.bucketing import write_bucketed
    from vedb_gaze_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS dbuckets LOCATION '{tmp_path}/wh'")
    docs = load_table(spark, "documents", sf_dir)
    write_bucketed(docs, "dbuckets.docs_bucketed", key="doc_id", n_buckets=8,
                   sort_by="doc_id")
    ds = dedup._doc_sets(spark.table("dbuckets.docs_bucketed"))
    ds.collect()
    s = ds._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in s, s
    # the same holds for every per-doc aggregation: HashPartitioning on
    # doc_id satisfies ClusteredDistribution(doc_id, c), so even the
    # entropy branch's (doc_id, char) groupBy + per-doc window run
    # without exchanging a row
    from vedb_gaze_spark.operators.text import char_entropy

    e = char_entropy(spark.table("dbuckets.docs_bucketed"))
    e.collect()
    se = e._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in se, se


def test_ngram_df_cap_is_subset_of_exact(spark, sf_dir):
    """Stop-shingle removal can only MISS pairs, never invent them:
    verification is identical full-set Jaccard, so capped output ⊆ exact
    output for ANY cap. (Recall under a cap is corpus-dependent — this
    synthetic corpus draws from a tiny template vocabulary, median
    shared-shingle df ≈ 67/500 docs, so a tight cap legitimately drops
    most pairs; on the 10× copy-corpus the same cap keeps 100% recall at
    a fraction of the exact run's cost — see PERF_NOTES.)"""
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    exact = {tuple(r) for r in dedup.dedup_ngram_jaccard(docs).collect()}
    capped = {
        tuple(r)
        for r in dedup.dedup_ngram_jaccard(docs, df_cap_frac=0.02).collect()
    }
    assert capped <= exact
    assert len(exact) > 0


def test_bucketed_doc_sets_make_verify_join_shuffle_free_on_doc_side(
    spark, sf_dir, tmp_path
):
    """The nightly-rerun dedup shape: doc sets persisted bucketed by
    doc_id. dedup_ngram_jaccard then skips the corpus hash and the
    doc_id exchange that builds the sets, so its executed bucketed plan
    carries at least two fewer shuffle Exchanges than the unbucketed
    plan over identical candidates (its grid verify still shuffles each
    doc set onto its cells). dedup_minhash_lsh's pair-verify equi-joins
    (doc_a and doc_b) probe the bucketed doc-set side without shuffling
    it, so its plan also loses Exchanges. Results must be identical to
    the unbucketed runs."""
    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.sources.bucketing import write_doc_sets_bucketed
    from vedb_gaze_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS vbuckets LOCATION '{tmp_path}/wh'")
    docs = load_table(spark, "documents", sf_dir)
    write_doc_sets_bucketed(docs, "vbuckets.doc_sets", n_buckets=8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the 100 TB regime: no broadcast, the join must co-locate
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def exchanges(df):
            df.collect()
            s = df._jdf.queryExecution().executedPlan().toString()
            # count shuffle Exchanges only (not Broadcast/ReusedExchange)
            import re

            return len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange hashpartitioning", s)), s

        plain = dedup.dedup_ngram_jaccard(docs)
        bucketed = dedup.dedup_ngram_jaccard(
            docs, doc_sets=spark.table("vbuckets.doc_sets")
        )
        n_plain, _ = exchanges(plain)
        n_bucketed, s_bucketed = exchanges(bucketed)
        assert n_bucketed <= n_plain - 2, (n_plain, n_bucketed, s_bucketed)
        assert "Bucketed: true" in s_bucketed, s_bucketed
        assert {tuple(r) for r in plain.collect()} == {
            tuple(r) for r in bucketed.collect()
        }
        # minhash rerun over the same persisted layout: also fewer
        # shuffles, same pairs
        mh_plain = dedup.dedup_minhash_lsh(docs)
        mh_bucketed = dedup.dedup_minhash_lsh(
            docs, doc_sets=spark.table("vbuckets.doc_sets")
        )
        m_plain, _ = exchanges(mh_plain)
        m_bucketed, s_mb = exchanges(mh_bucketed)
        assert m_bucketed < m_plain, (m_plain, m_bucketed, s_mb)
        assert {tuple(r) for r in mh_plain.collect()} == {
            tuple(r) for r in mh_bucketed.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS vbuckets.doc_sets")
        spark.sql("DROP DATABASE IF EXISTS vbuckets")


def test_bucketed_pairs_make_verify_probe_single_shuffle(
    spark, sf_dir, tmp_path
):
    """The repeated-verify shape (SURVEY §7, r4 verdict item #6):
    candidate pairs persisted bucketed by doc_a + doc sets bucketed by
    doc_id leave exactly ONE shuffle in the whole verify plan — the
    re-key of joined rows onto doc_b. The doc_a probe is bucket-to-
    bucket (no Exchange on either side) and the doc-set side never
    exchanges anywhere. Results identical to the in-plan candidates."""
    import re

    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.sources.bucketing import (
        write_doc_sets_bucketed,
        write_pairs_bucketed,
    )
    from vedb_gaze_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS pbuckets LOCATION '{tmp_path}/wh'")
    docs = load_table(spark, "documents", sf_dir)
    write_doc_sets_bucketed(docs, "pbuckets.doc_sets", n_buckets=8)
    ds = spark.table("pbuckets.doc_sets")
    pre = dedup._prefix_shingles(ds, 0.5)
    cand = dedup._candidate_pairs(pre, 0.5)
    write_pairs_bucketed(cand, "pbuckets.cand", n_buckets=8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = dedup._verify_jaccard(spark.table("pbuckets.cand"), ds)
        probe.collect()
        s = probe._jdf.queryExecution().executedPlan().toString()
        # AQE's toString appends the pre-adaptive "Initial Plan" section,
        # which would double-count — measure the executed Final Plan only
        final = s.split("== Initial Plan ==", 1)[0]
        n_shuffle = len(
            re.findall(r"(?<!Broadcast)(?<!Reused)Exchange hashpartitioning", final)
        )
        assert n_shuffle == 1, (n_shuffle, s)
        assert "hashpartitioning(doc_b" in final, s  # the one shuffle is doc_b
        assert final.count("Bucketed: true") == 3, s  # all three scans
        got = {tuple(r) for r in probe.collect()}
        want = {tuple(r) for r in dedup._verify_jaccard(cand, ds).collect()}
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS pbuckets.cand")
        spark.sql("DROP TABLE IF EXISTS pbuckets.doc_sets")
        spark.sql("DROP DATABASE IF EXISTS pbuckets")


def test_ann_lsh_multiprobe_recall_on_planted_near_duplicates(spark):
    """The high-similarity regime the docstring argues from arithmetic,
    measured: plant one cos≥0.9 near-duplicate per query in a uniform
    background corpus. Multi-probe must recover ≥60% of planted
    neighbors in the top-k and at least double the single-probe recall —
    the geometric claim ((1−θ/π)^8 ≈ 0.28 single / ≈ 0.68 with
    Hamming-1 probing at θ ≤ 26°) pinned with data."""
    import numpy as np

    from vedb_gaze_spark.operators import similarity

    rng = np.random.default_rng(11)
    dim, n_q, n_bg = 64, 80, 800

    def unit(x):
        return x / np.linalg.norm(x)

    queries = [unit(rng.standard_normal(dim)) for _ in range(n_q)]
    planted = []
    for q in queries:
        # perpendicular noise sized for cos = 1/sqrt(1+0.484²) ≈ 0.9001
        # — right at the regime boundary the docstring argues from
        n = rng.standard_normal(dim)
        n -= np.dot(n, q) * q
        v = unit(q + 0.484 * unit(n))
        assert np.dot(v, q) >= 0.9
        planted.append(v)
    rows = (
        [(i, [float(x) for x in queries[i]], 0) for i in range(n_q)]
        + [(n_q + i, [float(x) for x in planted[i]], 0) for i in range(n_q)]
        + [
            (n_q + n_q + j, [float(x) for x in unit(rng.standard_normal(dim))], 0)
            for j in range(n_bg)
        ]
    )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    def planted_recall(multiprobe):
        got = similarity.ann_lsh(
            emb, k=3, n_queries=n_q, multiprobe=multiprobe
        ).collect()
        hits = {
            r.query_id
            for r in got
            if r.neighbor_id == r.query_id + n_q
        }
        return len(hits) / n_q

    r_single = planted_recall(False)
    r_multi = planted_recall(True)
    assert r_multi >= 0.6, (r_single, r_multi)
    assert r_multi >= 2 * r_single, (r_single, r_multi)


def test_r4_relational_shapes_plan_pins(spark, sf_dir):
    """The r4 shapes keep their defining physical form: Q21's dual
    correlated subqueries are ONE per-order aggregate — a single
    lineitem scan, a LEFT SEMI against filtered orders, and NO two-key
    re-shuffle (the countDistinct expansion it was written to avoid);
    Q20's nested IN is a LEFT SEMI probe; Q9 broadcasts the name-class
    part dim and pushes its scan filters."""
    s21 = fmt(QUERIES["q21_suppliers_waiting"](spark, sf_dir))
    assert "LeftSemi" in s21, s21
    assert s21.count("lineitem.parquet") == 1, s21
    assert "hashpartitioning(l_orderkey#" in s21, s21
    assert "l_suppkey#" not in s21.split("hashpartitioning", 1)[1].split("]", 1)[0], s21
    s20 = fmt(QUERIES["q20_potential_promotion"](spark, sf_dir))
    assert "LeftSemi" in s20, s20
    s9 = fmt(QUERIES["q9_product_profit"](spark, sf_dir))
    assert "BroadcastHashJoin" in s9, s9
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", s9)
    assert any("p_name" in p for p in pushed), s9


def test_minhash_incremental_append_equals_full_recompute(spark, sf_dir):
    """Nightly-append invariant: dedup(old ∪ new) == dedup(old) ∪
    incremental(index(old), new). The incremental path derives the
    index side entirely from the stored doc-set table (no re-shingling
    of the old corpus) and must emit exactly the pairs touching the new
    batch, with identical exact-Jaccard scores."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import (
        _doc_sets,
        dedup_minhash_incremental,
        dedup_minhash_lsh,
    )
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)

    full = {tuple(r) for r in dedup_minhash_lsh(docs).collect()}
    old_pairs = {tuple(r) for r in dedup_minhash_lsh(old).collect()}
    inc = {
        tuple(r)
        for r in dedup_minhash_incremental(_doc_sets(old), new).collect()
    }
    assert old_pairs | inc == full
    assert not (old_pairs & inc)            # disjoint by construction
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert inc and all(
        (a in new_ids) or (b in new_ids) for a, b, *_ in inc
    )


def test_minhash_incremental_reingest_does_not_fan_out(spark, sf_dir):
    """Re-ingesting docs that already sit in the index (overlap between
    index and batch) must not duplicate doc-set rows: the stored row is
    replaced, every emitted pair appears exactly once, and the union
    with the old pairs still reconstructs the full recompute."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import (
        _doc_sets,
        dedup_minhash_incremental,
        dedup_minhash_lsh,
    )
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where(F.col("doc_id") % 5 != 0)
    # batch = the new fifth PLUS a re-ingest of some already-indexed docs
    batch = docs.where(
        (F.col("doc_id") % 5 == 0) | (F.col("doc_id") % 7 == 1)
    )
    inc_rows = dedup_minhash_incremental(_doc_sets(old), batch).collect()
    inc = {tuple(r) for r in inc_rows}
    assert len(inc_rows) == len(inc)  # exactly-once per pair, no fanout
    full = {tuple(r) for r in dedup_minhash_lsh(docs).collect()}
    old_pairs = {tuple(r) for r in dedup_minhash_lsh(old).collect()}
    assert old_pairs | inc == full


def test_clusters_incremental_bridge_new_disjoint(spark):
    """dedup_clusters_incremental on a hand-built graph covering every
    case class: a new pair BRIDGING two stored clusters (merged label =
    min across both, sizes added), a new doc ATTACHING to a stored
    cluster, a NEW-ONLY cluster, an untouched DISJOINT cluster
    (byte-identical row), and a new doc with a SMALLER id than the
    stored minimum (the merged cluster must adopt the new id)."""
    from vedb_gaze_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_incremental,
    )

    pairs_old = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (50, 51)],
        "doc_a long, doc_b long",
    )
    stored = dedup_clusters(None, pairs=pairs_old)
    new_pairs = spark.createDataFrame(
        [
            (3, 10),    # bridge: {1,2,3} ∪ {10,11} → label 1, size 5
            (30, 21),   # attach: 30 joins {20,21} → label 20, size 3
            (40, 41),   # new-only cluster → label 40, size 2
            (0, 51),    # smaller-than-min new doc → {50,51,0} label 0
        ],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters_incremental(stored, new_pairs).collect()
    }
    full = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(
            None, pairs=pairs_old.unionByName(new_pairs)
        ).collect()
    }
    assert got == full
    # the untouched cluster {20,21}? no — it was touched; {1,2,3,10,11}
    # spot checks on the case classes:
    by_doc = {d: (c, s) for d, c, s in got}
    assert by_doc[11] == (1, 5) and by_doc[1] == (1, 5)
    assert by_doc[30] == (20, 3)
    assert by_doc[40] == (40, 2) and by_doc[41] == (40, 2)
    assert by_doc[50] == (0, 3) and by_doc[0] == (0, 3)


def test_clusters_incremental_equals_full_recompute(spark, sf_dir):
    """End-to-end nightly-append pin on real data: stored clusters from
    the old corpus + the incremental batch's pairs must reproduce the
    full recompute exactly — labels AND sizes — completing the story
    dedup_minhash_incremental starts (r4 verdict item #4)."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import (
        _doc_sets,
        dedup_clusters,
        dedup_clusters_incremental,
        dedup_minhash_incremental,
        dedup_minhash_lsh,
    )
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    stored = dedup_clusters(old)
    inc_pairs = dedup_minhash_incremental(_doc_sets(old), new).select(
        "doc_a", "doc_b"
    )
    got = {
        tuple(r)
        for r in dedup_clusters_incremental(stored, inc_pairs).collect()
    }
    full = {tuple(r) for r in dedup_clusters(docs).collect()}
    assert got == full and got


def test_minhash_incremental_stored_band_keys_identical(spark, sf_dir):
    """The zero-recompute index form: with band keys PERSISTED at
    index-build time (write_band_keys_bucketed) the nightly run must
    emit byte-identical pairs to the derive-from-doc-sets form — on the
    plain append AND on a re-ingest batch (stored band keys of replaced
    docs must be anti-joined away exactly like their doc sets)."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import (
        _doc_sets,
        dedup_minhash_incremental,
    )
    from vedb_gaze_spark.sources.bucketing import write_band_keys_bucketed
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where(F.col("doc_id") % 5 != 0)
    ds_old = _doc_sets(old)
    write_band_keys_bucketed(ds_old, "bk_idx_t")
    stored = spark.table("bk_idx_t")
    for batch in (
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where((F.col("doc_id") % 5 == 0) | (F.col("doc_id") % 7 == 1)),
    ):
        derived = {
            tuple(r)
            for r in dedup_minhash_incremental(ds_old, batch).collect()
        }
        precomp = {
            tuple(r)
            for r in dedup_minhash_incremental(
                ds_old, batch, index_band_keys=stored
            ).collect()
        }
        assert derived == precomp and derived
    spark.sql("DROP TABLE IF EXISTS bk_idx_t")


def test_semdedup_semantics(spark, sf_dir):
    """SemDeDup invariants: every semantic-duplicate component lives in
    exactly one cell, keeps exactly one representative — the member with
    the LOWEST centroid dot (vec_id tie-break) — and its pair graph is
    the within-cell restriction of the exact embedding-cosine pair set
    (restricting to cells loses only cross-cell pairs, never invents
    one)."""
    from collections import defaultdict

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = similarity.semdedup(emb).collect()
    assert len(rows) > 0
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    exact_pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.dedup_embedding_cosine(emb).collect()
    }
    member_ids = {r.vec_id for r in rows}
    for cid, members in by_cluster.items():
        assert len({m.cell for m in members}) == 1, cid
        assert cid == min(m.vec_id for m in members), cid
        assert all(m.cluster_size == len(members) for m in members), cid
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1, cid
        want = min(members, key=lambda m: (m.cent_dot, m.vec_id))
        assert keepers[0].vec_id == want.vec_id, cid
    # every member sits on at least one within-cell exact pair, and every
    # such pair's endpoints land in the same component
    cell_of = {r.vec_id: r.cell for r in rows}
    cl_of = {r.vec_id: r.cluster_id for r in rows}
    for a, b in exact_pairs:
        if a in member_ids and b in member_ids and cell_of[a] == cell_of[b]:
            assert cl_of[a] == cl_of[b], (a, b)


def test_semdedup_trained_equals_fixed_on_literal_centroids(spark, sf_dir):
    """The trained variant differs from the fixed-literal variant ONLY
    in cell geometry: handing semdedup the fixed literals as if they
    were the trained input must reproduce the fixed decision table
    row-for-row. (That makes semdedup_trained's rows-only record
    trustworthy — the composition adds no semantics, and the k-means
    geometry has its own planted test in test_numerics.)"""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    fixed = {tuple(r) for r in similarity.semdedup(emb).collect()}
    via_param = {
        tuple(r)
        for r in similarity.semdedup(
            emb, centroids=[list(c) for c in P.IVF_CENTROIDS]
        ).collect()
    }
    assert fixed == via_param and fixed


def test_semdedup_trained_runs_with_trained_cells(spark, sf_dir):
    """semdedup_trained end-to-end on real data: trained cells partition
    the space, the decision table keeps exactly one representative per
    component (same invariant checks as the fixed variant)."""
    from collections import defaultdict

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = similarity.semdedup_trained(emb, iters=2).collect()
    assert len(rows) > 0
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for cid, members in by_cluster.items():
        assert len({m.cell for m in members}) == 1, cid
        assert sum(1 for m in members if m.keep) == 1, cid


def test_dsir_broadcasts_are_bounded_and_topk_is_heap(spark, sf_dir):
    """dsir_select's two explicit broadcasts are both BOUNDED tables
    (the 2-scalar totals row and the ≤n_buckets feature table — a
    model, not a vocabulary), so exactly two ResolvedHints are
    allowed; the selection must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort, and the corpus-side
    joins must not be sort-merge."""
    df = QUERIES["dsir_select"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed
    s = fmt(df)
    assert "TakeOrderedAndProject" in s, s
    assert "SortMergeJoin" not in s, s


def test_dedup_substring_no_forced_broadcasts(spark, sf_dir):
    """dedup_substring's duplicated-gram relation is corpus-dependent
    (unbounded at web scale): no forced broadcast hints anywhere — the
    gram-count join is AQE's call on the uniform 60-bit hash key."""
    df = QUERIES["dedup_substring"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed


def test_semdedup_no_forced_broadcasts(spark, sf_dir):
    """semdedup's pair scan stays (cell, block)-keyed MapInPandas GEMM
    and its component/size joins key on uniform ids — nothing
    corpus-sized may carry a forced broadcast hint (note: building the
    frame runs the eager CC loop; the hint check covers the final
    decision-table plan; the GEMM subtree sits behind the CC loop's
    checkpoint, so it never reappears here)."""
    df = QUERIES["semdedup"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed


def test_bm25_indexed_matches_scan_and_prunes_buckets(spark, sf_dir, tmp_path):
    """The stored inverted index must (a) return EXACTLY bm25_search's
    rows for the same corpus and query — same score doubles, same
    ranks — and (b) bucket-prune the postings probe: the executed scan
    reads only the query terms' buckets (SelectedBucketsCount k of n,
    k < n), the search-service contract at 100 TB."""
    from vedb_gaze_spark.operators.text import bm25_search, bm25_search_indexed
    from vedb_gaze_spark.sources.bucketing import write_bm25_index
    from vedb_gaze_spark.sources.tables import load_table

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bm25wh LOCATION '{tmp_path}/wh'"
    )
    docs = load_table(spark, "documents", sf_dir)
    try:
        write_bm25_index(docs, "bm25wh.idx")
        got_df = bm25_search_indexed(spark, "bm25wh.idx")
        got = [tuple(r) for r in got_df.collect()]
        want = [tuple(r) for r in bm25_search(docs).collect()]
        assert got == want and len(want) > 0
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.groups()
    finally:
        for t in ("idx_postings", "idx_df", "idx_stats"):
            spark.sql(f"DROP TABLE IF EXISTS bm25wh.{t}")
        spark.sql("DROP DATABASE IF EXISTS bm25wh")


def test_pq_encode_shape_and_recall(spark, sf_dir):
    """PQ codes are m cells in [0, k_sub); ADC+rerank recall vs the
    exact scan stays above the floor measured on this corpus (0.7 on
    near-uniform vectors — PQ-hostile data; real embedding clusters sit
    far higher), and the rerank emits TRUE cosines (bit-equal to the
    brute-force operator for every common pair)."""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = similarity.pq_train(emb, m=8, k_sub=16, iters=1)
    codes = similarity.pq_encode(emb, books).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])

    got = similarity.ann_pq(emb).collect()
    exact = similarity.ann_cosine_topk(emb).collect()
    gset = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in got}
    eset = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    common = set(gset) & set(eset)
    assert len(common) / len(eset) >= 0.5
    for pair in common:
        assert gset[pair] == eset[pair], pair


def test_ann_ivfpq_probes_cells_and_reranks_exactly(spark, sf_dir):
    """IVFADC pins: (a) every returned neighbor lives in one of its
    query's nprobe probed cells (the inverted-file contract — the scan
    never left the probe set); (b) rerank cosines are bit-equal to the
    brute-force operator on common pairs; (c) recall vs the exact scan
    clears the floor this layout reaches on near-uniform vectors with
    nprobe/n_cells coverage; (d) the probe meets the codes via an
    EQUI-JOIN on cell, never a cartesian (the IVF win over ann_pq's
    scan-all-codes)."""
    import numpy as np

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    df = similarity.ann_ivfpq(emb)
    got = df.collect()
    assert len(got) > 0

    C = np.array(P.IVF_CENTROIDS, dtype=np.float64)
    vecs = {
        r.vec_id: np.array(list(r.embedding), dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    nq = P.ANN_N_QUERIES
    probed = {
        q: set(np.argsort(-(vecs[q] @ C.T), kind="stable")[: P.IVF_PROBES])
        for q in range(nq)
        if q in vecs
    }
    for r in got:
        cell = int((vecs[r.neighbor_id] @ C.T).argmax())
        assert cell in probed[r.query_id], (r, cell)

    exact = similarity.ann_cosine_topk(emb).collect()
    gset = {(r.query_id, r.neighbor_id): r.cosine for r in got}
    eset = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    common = set(gset) & set(eset)
    # probe coverage bounds recall on this near-uniform corpus; the
    # floor is what nprobe/n_cells coverage yields with margin
    assert len(common) / len(eset) >= 0.2, len(common) / len(eset)
    for pair in common:
        assert gset[pair] == eset[pair], pair

    s = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s and "BroadcastNestedLoop" not in s


def test_ann_ivfpq_trained_override_identity_and_recall_floor(spark, sf_dir):
    """The full Jégou IVFADC recipe (trained coarse quantizer +
    residual PQ). Pins: (a) the coarse_centroids override handed
    P.IVF_CENTROIDS verbatim reproduces the fixed-literal ann_ivfpq
    row-for-row (the trained face differs ONLY in cell geometry);
    (b) trained cells clear the fixed-cell recall floor vs the exact
    scan on the bench vectors (Lloyd's balances probe coverage —
    measured 0.80 vs 0.42 at sf0.01)."""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    fixed = similarity.ann_ivfpq(emb).collect()
    override = similarity.ann_ivfpq(
        emb, coarse_centroids=[list(map(float, c)) for c in P.IVF_CENTROIDS]
    ).collect()
    assert sorted(map(tuple, fixed)) == sorted(map(tuple, override))

    trained = similarity.ann_ivfpq_trained(emb).collect()
    assert len(trained) > 0
    exact = similarity.ann_cosine_topk(emb).collect()
    eset = {(r.query_id, r.neighbor_id) for r in exact}
    r_fixed = len({(r.query_id, r.neighbor_id) for r in fixed} & eset)
    r_trained = len({(r.query_id, r.neighbor_id) for r in trained} & eset)
    assert r_trained >= r_fixed, (r_trained, r_fixed)
    # rerank emits TRUE cosines regardless of the trained geometry
    ecos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in trained:
        pair = (r.query_id, r.neighbor_id)
        if pair in ecos:
            assert r.cosine == ecos[pair], pair


def test_novelty_vs_index_semantics_and_bucketed_probe(spark, sf_dir):
    """Frozen-gram-index novelty: (a) scores match a set-arithmetic
    reference (distinct grams of the probe doc minus the stored corpus
    gram set); (b) with auto-broadcast off, the bucketed index side
    joins with ZERO Exchange above its scan — only the probe batch
    shuffles on g (one hashpartitioning(g) exchange in the whole plan)."""
    from vedb_gaze_spark.operators.text import (
        _doc_grams,
        novelty_vs_index,
        write_gram_index,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where("doc_id % 5 != 0")
    probe = docs.where("doc_id % 5 = 0")
    tbl = "novelty_gram_idx_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        write_gram_index(corpus, tbl)
        index = spark.table(tbl)

        corpus_grams = {r.g for r in index.collect()}
        ref = {}
        for r in _doc_grams(probe, P.NOVELTY_NGRAM).collect():
            ng, nn = ref.get(r.doc_id, (0, 0))
            ref[r.doc_id] = (ng + 1, nn + (0 if r.g in corpus_grams else 1))

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = novelty_vs_index(probe, spark.table(tbl))
            got = {r.doc_id: (r.n_grams, r.n_new, r.novelty) for r in df.collect()}
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        assert set(got) == set(ref)
        for d, (ng, nn) in ref.items():
            import math

            want_nov = math.floor(nn / ng * 1e6 + 0.5) / 1e6
            assert got[d] == (ng, nn, want_nov), (d, got[d], ref[d])

        # AQE's executedPlan string prints Final AND Initial sections;
        # assert on the final one only
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final
        import re

        assert len(re.findall(r"Exchange hashpartitioning\(g#", final)) == 1, final
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_append_gram_index_incremental_equals_rebuild(spark, sf_dir):
    """Incremental gram-index maintenance: (a) append_gram_index(old
    index, new batch) yields the SAME gram set as write_gram_index over
    old ∪ new; (b) every pre-existing index file is byte-identical
    after the append (O(batch) merge, never a rewrite); (c) probe
    scores against the grown index ≡ against the rebuilt index; (d)
    re-appending the same batch is a no-op (anti-join idempotency);
    (e) the grown multi-file table still reads Bucketed: true."""
    import hashlib
    import os

    from vedb_gaze_spark.operators.text import (
        append_gram_index,
        novelty_vs_index,
        write_gram_index,
    )
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where("doc_id % 5 in (1, 2)")
    new = docs.where("doc_id % 5 in (3, 4)")
    probe = docs.where("doc_id % 5 = 0")
    tbl, tbl_full = "gram_idx_inc_test", "gram_idx_full_test"
    for t in (tbl, tbl_full):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        write_gram_index(old, tbl)
        loc = (
            spark.sql(f"DESC FORMATTED {tbl}")
            .where("col_name = 'Location'")
            .collect()[0]["data_type"]
        ).replace("file:", "")

        def file_hashes():
            out = {}
            for root, _, files in os.walk(loc):
                for f in files:
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[p] = hashlib.sha256(fh.read()).hexdigest()
            return out

        before = file_hashes()
        append_gram_index(new, tbl, since=1)
        after = file_hashes()
        for p, h in before.items():
            assert after[p] == h, f"pre-existing file rewritten: {p}"
        assert len(after) > len(before)

        write_gram_index(old.unionByName(new), tbl_full)
        grown = {r.g for r in spark.table(tbl).collect()}
        full = {r.g for r in spark.table(tbl_full).collect()}
        assert grown == full and len(grown) > 0

        got = {
            tuple(r)
            for r in novelty_vs_index(probe, spark.table(tbl)).collect()
        }
        want = {
            tuple(r)
            for r in novelty_vs_index(probe, spark.table(tbl_full)).collect()
        }
        assert got == want and len(want) > 0

        n_before = spark.table(tbl).count()
        append_gram_index(new, tbl, since=2)
        assert spark.table(tbl).count() == n_before

        df = novelty_vs_index(probe, spark.table(tbl))
        final = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in final
    finally:
        for t in (tbl, tbl_full):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_sq8_recall_and_code_range(spark, sf_dir):
    """SQ8 pins: (a) 8-bit uniform scalar quantization is near-lossless
    at ANN granularity — the SQ8 top-k recovers ≥ 0.9 of the exact
    brute-force top-k on the bench vectors (FAISS QT_8bit behavior:
    per-dim reconstruction error ≤ range/510 barely moves a 64-dim
    cosine); (b) codes stay in [0, 255] with both endpoints attained
    (the encoder hits the full range, i.e. min→0 and max→255); (c) the
    plan keeps the broadcast-queries shape — no sort of the scored
    corpus, top-k arrives through the partial-prune + window."""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    got = similarity.ann_sq8(emb).collect()
    exact = similarity.ann_cosine_topk(emb).collect()
    gset = {(r.query_id, r.neighbor_id) for r in got}
    eset = {(r.query_id, r.neighbor_id) for r in exact}
    assert len(gset) == len(eset) == P.ANN_K * P.ANN_N_QUERIES
    recall = len(gset & eset) / len(eset)
    assert recall >= 0.9, recall

    stats = similarity.sq8_stats(emb)
    enc = similarity.sq8_encode(emb, stats)
    from pyspark.sql import functions as F

    rng = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert rng.lo == 0 and rng.hi == 255, (rng.lo, rng.hi)


def test_sq8_stats_empty_table_raises_clear_error(spark, sf_dir):
    """Degenerate-input pin (r13 ADVICE): sq8_stats over ZERO vectors
    must raise a clear ValueError at train time, not let the NULL
    min/max reach _sq8_code_sql and surface as a bare TypeError at
    plan-build time."""
    import pytest

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).where("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        similarity.sq8_stats(emb)


def test_kmeanspar_init_deterministic_and_improves_objective(spark, sf_dir):
    """k-means|| pins (Bahmani et al. 2012): (a) hash-derived coin flips
    make the whole train deterministic — two runs, identical centroids;
    (b) after the SAME Lloyd's refinement, the k-means|| start beats the
    naive first-k start on the spherical objective (mean max-dot) on the
    bench vectors; (c) every cell is non-empty (the balanced-quantizer
    property the init exists for); (d) the trained search face returns
    the full k·q rows with a sane recall floor. Recall at fixed nprobe
    is NOT pinned kpp ≥ first_k: on near-uniform vectors probe-set
    luck dominates (measured 0.60 vs 0.88 at sf0.01 while the objective
    still improves — quantizer quality and fixed-budget probe recall are
    different quantities)."""
    import numpy as np

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    c1 = similarity.ivf_train_centroids(emb, k=16, iters=3, init="kmeanspar")
    c2 = similarity.ivf_train_centroids(emb, k=16, iters=3, init="kmeanspar")
    assert c1 == c2

    c_first = similarity.ivf_train_centroids(emb, k=16, iters=3)
    vecs = np.stack(
        [
            np.array(list(r.embedding), dtype=np.float64)
            for r in emb.select("embedding").collect()
        ]
    )

    def obj(cents):
        return float((vecs @ np.array(cents).T).max(1).mean())

    assert obj(c1) > obj(c_first), (obj(c1), obj(c_first))
    assigned = (vecs @ np.array(c1).T).argmax(1)
    assert len(set(assigned.tolist())) == 16

    got = similarity.ann_ivf_trained(emb, init="kmeanspar").collect()
    assert len(got) == P.ANN_K * P.ANN_N_QUERIES
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_cosine_topk(emb).collect()
    }
    hits = sum((r.query_id, r.neighbor_id) in exact for r in got)
    assert hits / len(exact) >= 0.4, hits / len(exact)


# Candidate rows one k-means|| task returns in one round, 2·l for l = 32.
# Measured on the sf0.01 vectors: at most 35 (one task of ten 50-row
# Arrow batches) and at most 20 (64 tasks). A threshold against the
# running partial φ would let 93 rows through in the first round of
# that one task.
KMEANSPAR_CANDS_PER_TASK = 64


def test_kmeanspar_candidate_collect_is_bounded_per_task(
    spark, sf_dir, monkeypatch
):
    """Each k-means|| task thresholds its rows against its FINAL partial
    φ, so it returns at most ≈l candidates per round whatever its row
    count and Arrow batching, and the driver's exact predicate picks the
    same candidates at any width: 64 input partitions give the centroids
    of 1. Small Arrow batches make the 1-partition task fold many
    batches, which is where a running φ would let early rows through."""
    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    payloads = []
    combine = similarity._task_partials

    def spy(df, kernel):
        total, extras = combine(df, kernel)
        payloads.append([len(e[0]) for e in extras if e is not None])
        return total, extras

    monkeypatch.setattr(similarity, "_task_partials", spy)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "50")
        one = similarity.kmeanspar_init(emb.coalesce(1), k=16)
        one_rounds = [p for p in payloads if p]  # the weighting pass has none
        payloads.clear()
        wide = similarity.kmeanspar_init(emb.repartition(64, "vec_id"), k=16)
    finally:
        spark.conf.set(key, saved)
    wide_rounds = [p for p in payloads if p]
    assert wide == one
    assert [len(p) for p in one_rounds] == [1] * 4
    assert [len(p) for p in wide_rounds] == [64] * 4
    most = max(max(p) for p in one_rounds + wide_rounds)
    assert most <= KMEANSPAR_CANDS_PER_TASK, (one_rounds, wide_rounds)


def test_kmeanspar_init_keeps_the_callers_cache(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ivf_train_centroids(init="kmeanspar") persists its parsed vector
    relation for the Lloyd's iterations and runs the k-means|| init over
    it. Spark keeps one cache entry per plan, so an init that persisted
    and unpersisted the same plan would drop the caller's cache and every
    iteration would re-read the parquet. Here the relation must still be
    cached when the init returns, and the source file is deleted at that
    point: an iteration that read it would fail. The centroids equal a
    run over the undeleted file."""
    import os
    import shutil

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.sources.tables import load_table

    src = tmp_path / "embeddings.parquet"
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), src)
    want = similarity.ivf_train_centroids(
        load_table(spark, "embeddings", sf_dir), k=16, iters=2, init="kmeanspar"
    )

    init = similarity._kmeanspar_init
    cached = []

    def then_delete(v, k):
        cents = init(v, k=k)
        cached.append(v.storageLevel.useMemory)
        os.remove(src)
        return cents

    monkeypatch.setattr(similarity, "_kmeanspar_init", then_delete)
    got = similarity.ivf_train_centroids(
        load_table(spark, "embeddings", str(tmp_path)),
        k=16,
        iters=2,
        init="kmeanspar",
    )
    assert cached == [True]
    assert got == want


def test_task_partials_combine_ignores_task_order(spark):
    """similarity._task_partials sums the per-task partials in content
    order, not collect order: one frame built as a union of the same
    three one-partition chunks in two orders gives bit-identical PQ
    codebooks and PCA models, although the chunks are chosen so that
    the order of float addition matters (1e16 + 1 - 1e16)."""
    import numpy as np

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P

    assert (1e16 + 1.0) - 1e16 != (1e16 - 1e16) + 1.0
    d = P.EMB_DIM
    ramp = np.arange(d, dtype=np.float64) / d

    def chunk(rows):  # one partition (a local relation would be merged)
        rdd = spark.sparkContext.parallelize(
            [(i, [float(x) for x in v]) for i, v in rows], 1
        )
        return spark.createDataFrame(rdd, "vec_id long, embedding array<double>")

    chunks = [
        chunk([(0, np.full(d, 1e16)), (3, ramp)]),
        chunk([(1, 1.0 + ramp)]),
        chunk([(2, np.full(d, -1e16)), (4, 1.0 - ramp)]),
    ]
    a = chunks[0].union(chunks[1]).union(chunks[2])
    b = chunks[2].union(chunks[0]).union(chunks[1])
    assert a.rdd.getNumPartitions() == b.rdd.getNumPartitions() == 3

    assert similarity.pq_train(a, m=2, k_sub=1) == similarity.pq_train(
        b, m=2, k_sub=1
    )
    for x, y in zip(
        similarity.pca_train(a, d_out=4), similarity.pca_train(b, d_out=4)
    ):
        assert np.array_equal(x, y)


def test_epoch_shuffle_plan_has_no_single_partition_exchange(spark, sf_dir):
    """The two-level rank's reason to exist: the naive global
    row_number would plan an Exchange SinglePartition (every row
    through one reducer). The registered plan must rank through KEYED
    windows only — no SinglePartition anywhere, no cartesian."""
    from vedb_gaze_spark.operators import corpus
    from vedb_gaze_spark.sources.tables import load_table

    df = corpus.epoch_shuffle(load_table(spark, "documents", sf_dir))
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in s
    assert "CartesianProduct" not in s


def test_ann_ivf_sq8_probes_cells_and_scores_bit_equal(spark, sf_dir):
    """IVF+SQ8 pins: (a) every returned neighbor lives in one of its
    query's probed cells (the inverted-file contract); (b) on common
    (query, neighbor) pairs the ADC score is BIT-equal to the flat
    ann_sq8 scan (same decode expression — the cell only restricts the
    scan); (c) full k·q rows."""
    import numpy as np

    from vedb_gaze_spark.operators import similarity
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    got = similarity.ann_ivf_sq8(emb).collect()
    assert len(got) == P.ANN_K * P.ANN_N_QUERIES

    C = np.array(P.IVF_CENTROIDS, dtype=np.float64)
    vecs = {
        r.vec_id: np.array(list(r.embedding), dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }

    def dots(v):
        return np.round(v @ C.T, 6)

    probed = {
        q: set(np.argsort(-dots(vecs[q]), kind="stable")[: P.IVF_PROBES])
        for q in range(P.ANN_N_QUERIES)
        if q in vecs
    }
    for r in got:
        cell = int(dots(vecs[r.neighbor_id]).argmax())
        assert cell in probed[r.query_id], (r, cell)

    flat = {
        (r.query_id, r.neighbor_id): r.score_sq8
        for r in similarity.ann_sq8(emb).collect()
    }
    common = [r for r in got if (r.query_id, r.neighbor_id) in flat]
    assert common, "no overlap between IVF-restricted and flat top-k"
    for r in common:
        assert r.score_sq8 == flat[(r.query_id, r.neighbor_id)], r


def test_knn_label_accuracy_recovers_planted_clusters(spark):
    """kNN label report on PLANTED structure (the operator's reason to
    exist — the bench corpus has no label signal, so its hash gate only
    proves the report plan): three well-separated label clusters along
    coordinate axes with deterministic jitter. Pins: (a) every probe's
    majority vote matches its own cluster (accuracy 1.0, unanimous
    votes); (b) a probe planted mid-way between two clusters still gets
    the deterministic tie-break (votes desc, label asc)."""
    from vedb_gaze_spark.operators.similarity import knn_label_accuracy

    def vec(axis, jitter, d=8):
        v = [0.05 * jitter] * d
        v[axis] = 10.0 + jitter
        return v

    rows = []
    # probes (ids 0..5): two per cluster
    for i in range(6):
        rows.append((i, vec(i % 3, (i % 5) - 2), i % 3))
    # corpus (ids 100+): 30 per cluster
    for j in range(90):
        rows.append((100 + j, vec(j % 3, ((j // 3) % 7) - 3), j % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r.query_id: r for r in knn_label_accuracy(emb, k=5, n_queries=6).collect()}
    assert len(out) == 6
    for i in range(6):
        r = out[i]
        assert r.correct and r.pred_label == i % 3 and r.n_votes == 5, r

    # tie probe: equidistant between cluster 0 and cluster 1 with an
    # even k — equal votes must resolve to the SMALLER label
    tie = [0.0] * 8
    tie[0] = tie[1] = 10.0
    rows2 = [(0, tie, 1)] + [
        (100 + j, vec(j % 2, ((j // 2) % 7) - 3), j % 2) for j in range(40)
    ]
    emb2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>, label int"
    )
    (r2,) = knn_label_accuracy(emb2, k=2, n_queries=1).collect()
    assert r2.pred_label == 0 and r2.n_votes == 1 and not r2.correct, r2


def test_label_separation_flags_collapsed_labels(spark):
    """Separation report on planted structure: labels 0 and 1 are tight
    clusters on orthogonal axes (high cohesion, low confusability,
    margin ≈ 1); label 2 is planted ON label 0's axis (collapsed) — its
    nearest-other-centroid cosine must be ≈ 1 against label 0 and its
    margin ≈ 0, the exact failure the report exists to flag."""
    from vedb_gaze_spark.operators.similarity import label_separation

    def vec(axis, jitter, d=6):
        v = [0.01 * jitter] * d
        v[axis] = 5.0 + 0.1 * jitter
        return v

    rows = []
    for j in range(30):
        rows.append((j, vec(0, j % 5), 0))
        rows.append((100 + j, vec(3, j % 5), 1))
        rows.append((200 + j, vec(0, (j % 5) + 1), 2))  # collapsed onto 0
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r.label: r for r in label_separation(emb).collect()}
    assert set(out) == {0, 1, 2} and all(r.n_vecs == 30 for r in out.values())
    for r in out.values():
        assert r.intra_mean_cos > 0.999, r  # tight clusters cohere
    assert out[1].nn_cos < 0.05 and out[1].margin > 0.95, out[1]
    assert out[2].nn_label == 0 and out[2].nn_cos > 0.999, out[2]
    assert abs(out[2].margin) < 0.01, out[2]
    assert out[0].nn_label == 2, out[0]


def test_props_rollup_counts_malformed_json_honestly(spark, duck):
    """Schema-on-read contract: malformed JSON, missing keys, and
    non-integer values extract to NULL — counted in n_events, excluded
    from n_extracted/stats, never an error — and both engines' native
    JSON paths agree byte-for-byte on the planted mix."""
    import datetime

    from vedb_gaze_spark.operators.analytics import props_rollup
    from vedb_gaze_spark.plans import oracles

    base = datetime.datetime.utcfromtimestamp(1_700_000_000)
    rows = [
        (1, base, 1, "a", 0.0, '{"k": 7}'),
        (2, base, 1, "a", 0.0, '{"k": 11}'),
        (3, base, 1, "a", 0.0, '{"j": 5}'),        # key missing
        (4, base, 1, "a", 0.0, '{"k": broken'),     # malformed
        (5, base, 1, "b", 0.0, None),               # null props
        (6, base, 1, "b", 0.0, '{"k": -3}'),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.event_type: r for r in props_rollup(ev).collect()}
    a, b = got["a"], got["b"]
    assert (a.n_events, a.n_extracted, a.k_sum, a.k_distinct) == (4, 2, 18, 2)
    assert (a.k_min, a.k_max, a.k_mean) == (7, 11, 9.0)
    assert (b.n_events, b.n_extracted, b.k_sum) == (2, 1, -3)

    con = duck.cursor()
    con.execute(
        "CREATE OR REPLACE TABLE _ev(event_id BIGINT, ts TIMESTAMP,"
        " user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO _ev VALUES (?, ?, ?, ?, ?, ?)", rows)
    sql = oracles.PROPS_ROLLUP.replace("FROM events", "FROM _ev")
    want = {r[0]: r for r in con.execute(sql).fetchall()}
    for t, r in got.items():
        assert tuple(r) == want[t], t


def test_profile_registry_resolves_reference_config_names(spark, sf_dir):
    """The reference's config-driven step API (r10): every
    `<step>-<tag>` yaml profile a reference user names
    (pipelines.py:96/:159/:229/:361 loaders over vedb_gaze/config/)
    resolves to a runnable Spark operator. Pins: (a) every registered
    profile executes on the driver tables / planted frames and returns
    rows with a stable schema; (b) the board-size semantics (4x7
    SQUARES -> 3x6 inner corners); (c) unknown names raise with the
    step's known tags, never a silent default."""
    import datetime

    import numpy as np
    import pytest

    from vedb_gaze_spark.operators.multimodal import encode_pnm
    from vedb_gaze_spark.plans.profiles import (
        PROFILES,
        list_profiles,
        resolve,
    )
    from vedb_gaze_spark.sources.tables import load_table

    events = load_table(spark, "events", sf_dir)

    # planted frames: one concentric ring + one 3x6-inner-corner board
    a = np.zeros((70, 120), dtype=np.uint8)
    a[16:25, 26:35] = 255
    a[19:22, 29:32] = 0
    for j in range(7):
        for i in range(4):
            if (i + j) % 2 == 0:
                a[8 + j * 8 : 16 + j * 8, 60 + i * 8 : 68 + i * 8] = 255
    yy, xx = np.mgrid[0:70, 0:120]
    e = np.full((70, 120), 180, dtype=np.uint8)
    e[((xx - 30) / 9.0) ** 2 + ((yy - 35) / 6.0) ** 2 <= 1.0] = 20
    ts0 = datetime.datetime.utcfromtimestamp(1_700_000_000)
    world = spark.createDataFrame(
        [(1, 0, ts0, bytearray(encode_pnm(a)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )
    eye = spark.createDataFrame(
        [(1, 0, ts0, bytearray(encode_pnm(e)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )

    inputs = {"pupil": eye, "marker": world}
    for name in list_profiles():
        pr = PROFILES[name]
        df = pr(inputs.get(pr.step, events))
        assert df.columns, name
        rows = df.limit(5).collect()
        if pr.step in ("pupil", "marker") and "7x9" not in name:
            assert rows, name  # the planted frame is detected

    # (b) board semantics
    assert resolve("marker-checkerboard_halfres_4x7squares").kwargs[
        "board"
    ] == (3, 6)
    det = resolve("marker-checkerboard_halfres_4x7squares")(world).collect()
    assert len(det) == 1 and det[0].size == 18

    # (c) unknown names raise, naming the step's tags
    with pytest.raises(KeyError, match="marker-circles_halfres"):
        resolve("marker-no_such_profile")


def test_run_profile_chain_reference_default_chain(spark):
    """r11 (r10 verdict #7): the reference's default make_pipeline chain
    (pipelines.py:361) — pupil-plab_default → marker-circles_halfres →
    marker_parsing-cluster_default → calibration-monocular_pl_default →
    error-smooth_tps_default — runs end-to-end on planted frames via
    run_profile_chain. Eye frames carry a moving planted pupil; world
    frames carry a RING marker at the exact linear image of the pupil's
    norm position (mx = 0.1 + 0.8·px, my = 0.05 + 0.5·py, integer-pixel
    exact by construction), one frame per day for 26 days so the error
    surface has enough time-grid cells. The chain must pair all 26
    samples, fit the polynomial calibration to ~zero residual, and emit
    a ~zero TPS error surface."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import encode_pnm
    from vedb_gaze_spark.plans.profiles import run_profile_chain

    EH, EW = 100, 200
    WH, WW = 300, 400
    base = 1_700_000_000
    yy_e, xx_e = np.mgrid[0:EH, 0:EW]

    def ts(s, off=0.0):
        return datetime.datetime.utcfromtimestamp(base) + \
            datetime.timedelta(seconds=s * 86_400 + off)

    eye, world = [], []
    for s in range(26):
        cx, cy = 40 + 5 * s, 30 + 2 * (s % 20)
        a = np.full((EH, EW), 180, dtype=np.uint8)
        el = ((xx_e - cx) / 10.0) ** 2 + ((yy_e - cy) / 6.0) ** 2 <= 1.0
        a[el] = 20
        eye.append((5, s, ts(s), bytearray(encode_pnm(a))))
        # ring marker (bright annulus, dark core) at the linear image
        mx_px = int(40 + 1.6 * cx)   # = (0.1 + 0.8*cx/EW) * WW, exact
        my_px = int(15 + 1.5 * cy)   # = (0.05 + 0.5*cy/EH) * WH, exact
        b = np.zeros((WH, WW), dtype=np.uint8)
        b[my_px - 4 : my_px + 5, mx_px - 4 : mx_px + 5] = 255
        b[my_px - 1 : my_px + 2, mx_px - 1 : mx_px + 2] = 0
        world.append((5, s, ts(s, 0.25), bytearray(encode_pnm(b))))

    eye_df = spark.createDataFrame(
        eye, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    world_df = spark.createDataFrame(
        world, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    chain = [
        "pupil-plab_default",
        "marker-circles_halfres",
        "marker_parsing-cluster_default",
        "calibration-monocular_pl_default",
        "error-smooth_tps_default",
    ]
    arts = run_profile_chain(chain, eye_df, world_df)
    assert set(chain) <= set(arts)

    # every world frame's ring detected once; all 26 samples pair
    assert arts["marker-circles_halfres"].count() == 26
    pairs = arts["_pairs"].collect()
    assert len(pairs) == 26

    # marker_parsing artifact runs with the cluster-report schema (the
    # moving calibration marker is exactly what the bimodal/grid gates
    # exist to judge — cluster survival is pinned elsewhere on static
    # markers)
    mp = arts["marker_parsing-cluster_default"]
    assert {"user_id", "med_value"} <= set(mp.columns)
    mp.collect()

    cal = arts["calibration-monocular_pl_default"].collect()
    assert len(cal) == 1 and cal[0].n_points == 26
    assert cal[0].rmse_pass1 < 1e-3 and cal[0].rmse_pass2 < 1e-3, cal

    surf = arts["error-smooth_tps_default"].collect()
    # r13: the profile carries the reference's surface grid — (300,
    # 400) = (vres, hres) on linspace(0, 1) — so a replayed reference
    # config reproduces the reference's surface SHAPE (r12 verdict #4),
    # and the reference's extrapolate=False default NULLs nodes outside
    # the marker hull (error_computation.py:178 mask)
    assert len(surf) == 300 * 400  # one user
    xs = {r.grid_x for r in surf}
    assert len(xs) == 400 and min(xs) == 0.0 and max(xs) == 1.0
    in_hull = [r for r in surf if r.err_est is not None]
    assert len(in_hull) > 1000  # markers span ~[0.26,0.76]x[0.2,0.53]
    assert len(in_hull) < len(surf)  # full-image grid exceeds the hull
    assert all(r.err_est < 0.05 for r in in_hull), sorted(
        r.err_est for r in in_hull
    )[-3:]


def test_mine_hard_negatives_matches_numpy_and_filters_labels(spark, sf_dir):
    """Hard-negative mining (contrastive data prep): for every probe,
    the k other-label corpus vectors by exact cosine — checked against
    an independent numpy recompute; same-label vectors never appear
    even when they are globally nearer."""
    import numpy as np

    from vedb_gaze_spark.operators.similarity import mine_hard_negatives
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = mine_hard_negatives(emb).collect()
    pdf = emb.select("vec_id", "embedding", "label").toPandas()
    V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    lbl = pdf["label"].to_numpy()
    nq = P.ANN_N_QUERIES
    got = {}
    for r in rows:
        got.setdefault(r.query_id, []).append(
            (r.rank, r.neighbor_id, r.cosine, r.neighbor_label)
        )
    norms = np.linalg.norm(V, axis=1)
    for q in range(nq):
        qi = int(np.flatnonzero(ids == q)[0])
        mask = (ids >= nq) & (lbl != lbl[qi])
        cos = V[mask] @ V[qi] / (norms[mask] * norms[qi])
        cos = np.floor(cos * 1e6 + 0.5) / 1e6
        cand = sorted(
            zip(-cos, ids[mask]), key=lambda t: (t[0], t[1])
        )[: P.ANN_K]
        want = [(i + 1, int(n), -c) for i, (c, n) in enumerate(cand)]
        have = sorted(got[q])
        assert [(r, n) for r, n, _, _ in have] == [
            (r, n) for r, n, _ in want
        ], (q, have, want)
        for (_, _, c_have, nl), (_, _, c_want) in zip(have, want):
            assert abs(c_have - c_want) < 2e-6
            assert nl != int(lbl[qi])


def test_embed_pca_recovers_planted_axes_and_whitens(spark):
    """PCA projection (trained-model discipline: one moment partial per
    task + driver d×d eigensolve): on data planted along two
    known orthogonal directions with distinct variances, the top-2
    components recover those directions (up to the deterministic sign
    gauge), projected variances come out in planted order, whitening
    normalizes them to ~1, and the operator is deterministic across
    runs."""
    import numpy as np

    from vedb_gaze_spark.operators.similarity import embed_pca, pca_train
    from vedb_gaze_spark.plans import params as P

    d = P.EMB_DIM
    a1 = np.zeros(d); a1[3] = 1.0                     # planted axis 1
    a2 = np.zeros(d); a2[17] = 1.0                    # planted axis 2
    rows = []
    for i in range(400):
        # deterministic pseudo-noise off the index (no RNG)
        t1 = ((i * 7919) % 400 - 199.5) / 40.0        # sd ~ 2.9
        t2 = ((i * 104729) % 400 - 199.5) / 120.0     # sd ~ 0.96
        v = 0.5 + t1 * a1 + t2 * a2
        rows.append((i, [float(x) for x in v], int(i % 3)))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    mean, comps, scale = pca_train(emb, d_out=2)
    # deterministic index sequences are not perfectly uncorrelated, so
    # allow ~1e-3 mixing between the planted axes
    assert abs(comps[0][3]) > 0.995                   # axis 1 = top comp
    assert comps[0][3] > 0                            # sign gauge
    assert abs(comps[1][17]) > 0.995
    assert np.abs(mean - 0.5).max() < 0.05

    out = {r.vec_id: r.proj for r in embed_pca(emb, d_out=2).collect()}
    Pm = np.array([out[i] for i in range(400)])
    v1, v2 = Pm.var(axis=0)
    assert v1 > v2 > 0.5                              # planted order
    white = {
        r.vec_id: r.proj
        for r in embed_pca(emb, d_out=2, whiten=True).collect()
    }
    Wm = np.array([white[i] for i in range(400)])
    assert np.abs(Wm.var(axis=0) - 1.0).max() < 0.05  # unit variance
    # deterministic: a second run reproduces bit-identical rows
    again = {r.vec_id: r.proj for r in embed_pca(emb, d_out=2).collect()}
    assert again == out


def test_sq8_miner_agrees_with_exact_miner(spark, sf_dir):
    """The compressed miner's honesty gate (the dedup_recall
    measurement discipline applied to the miner family): the SQ8
    reconstruction must return substantially the same hard-negative
    pairs as the exact-cosine miner — 8-bit uniform quantization
    perturbs scores ~1e-3, far below typical neighbor gaps (measured
    overlap 1.0 on both test SFs; pinned at >=0.8 to absorb genuinely
    tied neighborhoods)."""
    from vedb_gaze_spark.operators.similarity import (
        mine_hard_negatives,
        mine_hard_negatives_sq8,
    )
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in mine_hard_negatives(emb).collect()
    }
    sq8 = {
        (r.query_id, r.neighbor_id)
        for r in mine_hard_negatives_sq8(emb).collect()
    }
    assert len(exact) == len(sq8) > 0
    assert len(exact & sq8) / len(exact) >= 0.8


def test_run_profile_chain_binocular_reference_chain(spark):
    """r12 (r11 verdict #3): the reference's BINOCULAR chain —
    calibration-binocular_pl_default (externals/gaze_mappers.py:18,
    calibrate_2d_binocular + Binocular_Gaze_Mapper) — composes
    end-to-end from profile names on planted two-eye frames, the
    NotImplementedError gone. Each eye sees the SAME ring marker
    through its OWN linear map (eye0: mx = 0.1 + 0.8·px; eye1:
    mx = 0.2 + 0.6·px — all planted positions integer-pixel exact by
    construction), eye1 frames lag eye0 by 0.05 s (inside the pairing
    cutoff). The chain must detect both pupil streams, pair each with
    the markers, recover both per-eye fits to ~zero residual, emit
    binocular rows, and fit a ~zero TPS error surface to the binocular
    mapped-gaze error."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import encode_pnm
    from vedb_gaze_spark.plans.profiles import run_profile_chain

    EH, EW = 100, 200
    WH, WW = 300, 400
    base = 1_700_000_000
    yy_e, xx_e = np.mgrid[0:EH, 0:EW]

    def ts(s, off=0.0):
        # one sample per 3 days: each lands in its own GRID_T_EPS_S
        # cluster so the TPS surface has >= 5 reduced points
        return datetime.datetime.utcfromtimestamp(base) + \
            datetime.timedelta(seconds=s * 3 * 86_400 + off)

    def eye_frame(cx, cy):
        a = np.full((EH, EW), 180, dtype=np.uint8)
        el = ((xx_e - cx) / 10.0) ** 2 + ((yy_e - cy) / 6.0) ** 2 <= 1.0
        a[el] = 20
        return bytearray(encode_pnm(a))

    eye, world = [], []
    for j in range(9):
        # integer-exact family on a 3x3 GRID (r13: the error step's
        # extrapolate=False hull mask needs non-degenerate marker
        # geometry — the old both-linear-in-j layout was COLLINEAR,
        # which even the reference's griddata hull would reject):
        # eye0 at (40+30c, 18+12r); eye1 solves the shared image
        # mx = 0.1+0.8·px0 = 0.2+0.6·px1, my = 0.05+0.5·py0 = 0.1+0.25·py1
        # → cx1 = (4·cx0−100)/3, cy1 = 2·cy0−20 (all integers here)
        r_, c_ = divmod(j, 3)
        cx0, cy0 = 40 + 30 * c_, 18 + 12 * r_
        cx1, cy1 = (4 * cx0 - 100) // 3, 2 * cy0 - 20
        assert (4 * cx0 - 100) % 3 == 0
        assert 12 <= cx1 < EW - 12 and 8 <= cy1 < EH - 8
        eye.append((5, 2 * j, ts(j), eye_frame(cx0, cy0), 0))
        eye.append((5, 2 * j + 1, ts(j, 0.05), eye_frame(cx1, cy1), 1))
        mx_px = 40 + 8 * (cx0 // 5)      # (0.1 + 0.8*cx0/EW) * WW
        my_px = 15 + 3 * (cy0 // 2) * 1  # (0.05 + 0.5*cy0/EH) * WH
        assert abs(mx_px - (0.1 + 0.8 * cx0 / EW) * WW) < 1e-9
        assert abs(my_px - (0.05 + 0.5 * cy0 / EH) * WH) < 1e-9
        assert abs((0.2 + 0.6 * cx1 / EW) * WW - mx_px) < 1e-9
        assert abs((0.1 + 0.25 * cy1 / EH) * WH - my_px) < 1e-9
        w = np.zeros((WH, WW), dtype=np.uint8)
        w[my_px - 4 : my_px + 5, mx_px - 4 : mx_px + 5] = 255
        w[my_px - 1 : my_px + 2, mx_px - 1 : mx_px + 2] = 0
        world.append((5, j, ts(j, 0.25), bytearray(encode_pnm(w))))

    eye_df = spark.createDataFrame(
        eye,
        "user_id long, frame_id long, ts timestamp, payload binary, "
        "eye int",
    )
    world_df = spark.createDataFrame(
        world, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    chain = [
        "pupil-plab_default",
        "marker-circles_halfres",
        "calibration-binocular_pl_default",
        "error-smooth_tps_default",
    ]
    arts = run_profile_chain(chain, eye_df, world_df)
    assert set(chain) <= set(arts)

    # both eyes detected and paired: 9 tagged points per eye
    gpts = arts["_binocular_points"].collect()
    assert len(gpts) == 18
    assert {r.eye for r in gpts} == {0, 1}

    # the mapper emits binocular rows (eye1 partners suppressed), and
    # every mapped gaze sits on its marker target to ~6dp
    mapped = arts["calibration-binocular_pl_default"].collect()
    assert len(mapped) == 9
    assert all(r.source == "binocular" for r in mapped), mapped[:3]
    tgt = {r.event_id: (r.gx, r.gy) for r in gpts}
    for r in mapped:
        gx, gy = tgt[r.event_id]
        assert abs(r.gaze_x - gx) < 1e-5 and abs(r.gaze_y - gy) < 1e-5, r

    # the error surface over the binocular mapped error is ~zero
    # (r13: at the reference's full-image (300, 400) grid the profile
    # now carries, hull-masked per extrapolate=False)
    surf = arts["error-smooth_tps_default"].collect()
    assert len(surf) == 300 * 400
    in_hull = [r for r in surf if r.err_est is not None]
    assert 0 < len(in_hull) < len(surf)
    assert all(r.err_est < 0.05 for r in in_hull), sorted(
        r.err_est for r in in_hull
    )[-3:]


def test_r12_operator_plan_pins(spark, sf_dir):
    """Plan shapes of the r12 additions: the cell-pruned miner joins
    the code table against a BROADCAST probe set (never a shuffle join
    of the corpus onto query keys) with no sort-merge join and no
    cartesian product anywhere; error_grid_qc's surface side joins
    BROADCAST against the gaze-histogram counts (the surface is
    model-sized: user x 48)."""
    from vedb_gaze_spark.plans.queries import QUERIES

    miner = QUERIES["mine_hard_negatives_ivfsq8"](spark, sf_dir)
    p = miner._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

    qc = QUERIES["error_grid_qc"](spark, sf_dir)
    p2 = qc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2
    assert "CartesianProduct" not in p2


def test_r13_sq8_plan_pins(spark, sf_dir):
    """r13 SQ8 overhaul plan shapes (PERF_NOTES r13): sq8_stats is ONE
    shuffle-free global aggregate (partial+final HashAggregate, no
    Exchange in between beyond the single-partition gather — the r12
    posexplode + pos-keyed groupBy paid a hash-partitioned shuffle of
    a rows×dim intermediate), and the scoring side of ann_sq8 contains
    no HigherOrderFunction nodes (the unrolled fused decode+multiply
    dot — HOFs would evaluate interpreted per pair)."""
    from pyspark.sql import functions as F

    from vedb_gaze_spark.operators.similarity import _vecs, sq8_stats
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.plans.queries import QUERIES
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = ", ".join(
        f"min(element_at(v, {d + 1})), max(element_at(v, {d + 1}))"
        for d in range(P.EMB_DIM)
    )
    stats_plan = (
        _vecs(emb).selectExpr(f"array({pairs}) AS s")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # a global aggregate gathers partials over a SinglePartition
    # exchange; the r12 shape's hashpartitioning(pos, ...) shuffle of
    # the exploded intermediate must not return
    assert "Generate" not in stats_plan  # no posexplode
    assert "hashpartitioning" not in stats_plan, stats_plan[:1500]

    ann = QUERIES["ann_sq8"](spark, sf_dir)
    p = ann._jdf.queryExecution().executedPlan().toString()
    for hof in ("aggregate(", "zip_with(", "transform("):
        assert hof not in p, f"HOF {hof!r} back in the ann_sq8 plan"
    assert "CartesianProduct" not in p
    # the stats values themselves: exact order-statistic picks
    st = sq8_stats(emb)
    assert len(st) == P.EMB_DIM
    assert all(mn <= mx for mn, mx in st)


def test_r14_curation_fusion_plan_pins(spark, sf_dir):
    """The curation sweep is ONE fused projection over the corpus scan
    plus exactly two join branches (PERF_NOTES r14): the entropy
    aggregate (sort-merge, big-big safe) and the pair-graph-sized
    cluster table (broadcast under AQE). The pre-r14 shape — separate
    per-row branches joined back on doc_id — read the corpus 6× and
    paid 3 corpus-sized shuffle joins."""
    from vedb_gaze_spark.plans.queries import QUERIES

    for key in ("curation_pipeline", "curation_full"):
        df = QUERIES[key](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert p.count("FileScan") == 2, f"{key}: {p.count('FileScan')} scans"
        assert "CartesianProduct" not in p


def test_r14_curation_total_on_degenerate_docs(spark, sf_dir):
    """ANSI mode evaluates pushed-down gate predicates on EVERY row of
    the fused curation projection — including zero-token docs, where an
    unguarded n_stop/n_tokens is a DIVIDE_BY_ZERO crash (found r14 with
    a planted empty doc; the parquet corpus contains none). The metric
    builders are CASE-guarded total functions: degenerate docs flow
    through every curation face without error and are gated out, and
    real docs keep their exact pre-guard values (oracle parity pins
    those)."""
    import pandas as pd

    from vedb_gaze_spark.operators.text import (
        lang_id,
        repetition_score,
        text_quality,
    )
    from vedb_gaze_spark.plans.pipeline import curation_full, curation_pipeline

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "",  # empty
                    "!!! ???",  # chars but zero tokens
                    " \t ",  # whitespace only
                    "the quick brown fox jumps over the lazy dog and "
                    "then the dog naps by the door while the fox runs "
                    "far away to the old red barn near the green hill",
                ],
                "lang": ["en"] * 4,
                "source": ["t"] * 4,
            }
        )
    )
    assert [r.doc_id for r in text_quality(docs).collect()] == [4]
    assert len(lang_id(docs).collect()) == 4  # no fence, still total
    assert [r.doc_id for r in repetition_score(docs).collect()] == [4]
    surv = curation_pipeline(docs).collect()
    assert {r.doc_id for r in surv} <= {4}
    surv_full = curation_full(docs).collect()
    assert {r.doc_id for r in surv_full} <= {4}


def test_r14_lambda_bodies_never_rerun_the_tokenizer(spark, sf_dir):
    """Subexpression elimination is projection-level only — an
    expensive expression referenced inside a HOF lambda body re-runs
    per element (repetition_score's tokenizer regex ran O(tokens)
    times per row, 11× the fixed form; PERF_NOTES r14). Pin the fixed
    expression forms: the tokenizer appears in the optimized plans
    only OUTSIDE lambda bodies — every `lambdafunction(...)` argument
    region is regex-free."""
    import re

    from vedb_gaze_spark.plans.queries import QUERIES

    def lambda_spans_are_regex_free(plan: str) -> bool:
        for m in re.finditer(r"lambdafunction\(", plan):
            depth, i = 1, m.end()
            while depth and i < len(plan):
                depth += {"(": 1, ")": -1}.get(plan[i], 0)
                i += 1
            if "regexp_extract_all" in plan[m.end() : i]:
                return False
        return True

    for key in ("repetition_score", "ngram_topk"):
        df = QUERIES[key](spark, sf_dir)
        p = df._jdf.queryExecution().optimizedPlan().toString()
        assert "regexp_extract_all" in p  # the tokenizer is still there
        assert lambda_spans_are_regex_free(p), key
    # the gram-relation sites keep their regex behind a materialized
    # projection attribute (CollapseProject's used-more-than-once
    # guard) — pin that the Generate input is an attribute, not the
    # inlined regex
    from vedb_gaze_spark.operators.text import _doc_grams
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    p = _doc_grams(docs, 2)._jdf.queryExecution().optimizedPlan().toString()
    assert lambda_spans_are_regex_free(p)


def test_r14_fullgrid_qc_join_is_not_broadcast(spark, sf_dir):
    """At the reference full-image (300, 400) grid the QC surface is
    user × 120,000 rows. Omitting broadcast() is NOT enough to keep it
    off the driver: the surface comes out of applyInPandas, whose
    optimizer size estimate is child-derived and tiny, so the STATIC
    planner still picks a broadcast hash join and ships the real
    ~1.3 GiB to the driver (measured maxResultSize abort at 1,500
    users, slope_r14.json). Pin: past the 4,096-node budget the
    surface join carries an explicit sort-merge hint, so the static
    plan contains a SortMergeJoin; the bench-style 48-node plan keeps
    its broadcast (pinned in test_r12_operator_plan_pins)."""
    from vedb_gaze_spark.operators.error import (
        REFERENCE_RESOLUTION,
        error_grid_qc,
    )
    from vedb_gaze_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    qc = error_grid_qc(ev, resolution=REFERENCE_RESOLUTION)
    p = qc._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p, p[:2000]


def test_r14_grouped_map_exchange_not_coalescible(spark, sf_dir, kernel_stage_tasks):
    """The grouped-map exchange must be an explicit-numPartitions
    repartition (REPARTITION_BY_NUM), NOT an ENSURE_REQUIREMENTS
    exchange: AQE's byte-based partition coalescing folds a
    few-hundred-KB per-user point table into one partition and
    serializes every numpy kernel onto one core (measured
    error_surface_grid 6.4 s -> 1.8 s at sf0.1 from the exemption;
    PERF_NOTES r14 session 4). Pin: exactly one REPARTITION_BY_NUM
    exchange on hash(user_id) feeds the MapInPandas, with no other
    exchange between them, and the kernel stage runs
    spark.sql.shuffle.partitions tasks. Partitioning on the bare
    user_id instead lets the optimizer drop the repartition behind the
    upstream window's hashpartitioning(user_id) exchange, which AQE
    coalesces to one task."""
    from vedb_gaze_spark.plans.queries import QUERIES

    df = QUERIES["error_surface_grid"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("hashpartitioning(hash(user_id") == 1, p[:2000]
    lines = p.splitlines()
    kernel = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    feed = next(ln for ln in lines[kernel:] if "Exchange" in ln)
    assert "hashpartitioning(hash(user_id" in feed, p[:2000]
    assert "REPARTITION_BY_NUM" in feed, p[:2000]
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert kernel_stage_tasks(df.collect) == [n]


def test_r14_spread_scan_gate_is_scale_adaptive(spark, sf_dir):
    """spread_scan/spread_scan_scatter fire ONLY when the planned scan has
    fewer partitions than defaultParallelism: the bench-scale single-split
    documents table is repartitioned, while the same relation under a
    tiny maxPartitionBytes (so the planner already admits >= parallelism
    splits) is returned UNTOUCHED — the no-op-at-scale contract that
    keeps the helper from adding an exchange on a real multi-split
    table. For every table at 128 MB, 1 MB, 64 KB and 4 KB
    maxPartitionBytes the gate fires exactly when a fresh read plans
    fewer scan partitions than defaultParallelism."""
    from vedb_gaze_spark.functions.core import (
        _scan_is_compact,
        spread_scan,
        spread_scan_scatter,
    )
    from vedb_gaze_spark.sources.tables import TABLES, load_table

    docs = load_table(spark, "documents", sf_dir)
    assert spread_scan(docs, "doc_id") is not docs
    assert spread_scan_scatter(docs, "doc_id") is not docs

    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        docs2 = load_table(spark, "documents", sf_dir)
        assert spread_scan(docs2, "doc_id") is docs2
        assert spread_scan_scatter(docs2, "doc_id") is docs2
        for maxpb in (128 << 20, 1 << 20, 64 << 10, 4 << 10):
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(maxpb))
            for name in TABLES:
                planned = load_table(spark, name, sf_dir).rdd.getNumPartitions()
                assert _scan_is_compact(load_table(spark, name, sf_dir)) == (
                    planned < par
                ), (name, maxpb, planned)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_scan_gate_holds_on_a_cached_scan(spark, sf_dir):
    """Persisting the documents file does not flip the gate: a fresh
    read then plans an in-memory scan of the cached relation, with the
    same partition count, and still spreads."""
    from vedb_gaze_spark.functions.core import (
        _scan_is_compact,
        spread_scan_scatter,
    )
    from vedb_gaze_spark.sources.tables import load_table

    fresh = load_table(spark, "documents", sf_dir)
    before = _scan_is_compact(fresh)
    assert spread_scan_scatter(fresh, "doc_id") is not fresh
    cached = load_table(spark, "documents", sf_dir).persist()
    try:
        cached.count()
        again = load_table(spark, "documents", sf_dir)
        plan = again._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert _scan_is_compact(again) == before
        assert spread_scan_scatter(again, "doc_id") is not again
    finally:
        cached.unpersist()


def test_spread_scan_gate_runs_no_job(spark, sf_dir):
    """The gate reads the planned scan's partition count without a job,
    and refuses an input with an exchange (reading its partitions would
    run the stage below the exchange), also without a job: in its own
    plan, or in a persisted, not yet materialized plan it reads."""
    from vedb_gaze_spark.functions.core import (
        _scan_is_compact,
        spread_scan_scatter,
    )
    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.tracing import trace

    docs = load_table(spark, "documents", sf_dir)
    t = trace(spark, lambda: _scan_is_compact(docs))
    assert (t.result, t.jobs) == (True, 0)
    counts = docs.groupBy("lang").count()
    t = trace(spark, lambda: spread_scan_scatter(counts, "lang"))
    assert t.result is counts
    assert t.jobs == 0
    cached = docs.groupBy("lang").count().persist()
    try:
        again = docs.groupBy("lang").count()
        plan = again._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        t = trace(spark, lambda: spread_scan_scatter(again, "lang"))
        assert t.result is again
        assert t.jobs == 0
    finally:
        cached.unpersist()


def test_r14_embed_project_rows_equals_posexplode_of_array_face(spark, sf_dir):
    """embed_project_rows (the stack()-of-16-compiled-columns scalar
    face; 3.3 s -> 0.55 s at sf0.1, the embed_pca 64 KB-codegen lesson)
    must emit exactly the rows posexplode(embed_project().proj) does —
    same values bit-for-bit, same schema — and its plan must carry a
    Generate over stack, not over an array literal."""
    from pyspark.sql import functions as F

    from vedb_gaze_spark.operators.similarity import (
        embed_project,
        embed_project_rows,
    )
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = embed_project_rows(emb)
    ref = embed_project(emb).select(
        "vec_id", F.posexplode("proj").alias("dim", "value")
    )
    assert rows.schema.simpleString() == ref.schema.simpleString()
    assert sorted(map(tuple, rows.collect())) == sorted(
        map(tuple, ref.collect())
    )
    p = rows._jdf.queryExecution().executedPlan().toString()
    assert "stack(16" in p, p[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "trade_hits",
        "trade_pagerank",
        "dedup_clusters",
        "quality_classifier_trained",
        "ann_ivf_kmeanspar",
    ],
)
def test_no_cached_relation_outlives_query(spark, sf_dir, name):
    """Operators that persist() a relation for their iterations must
    release it before returning, so nothing a call cached leaks into the
    CacheManager (where a later call's identical subtree would silently
    read it instead of running its own plan)."""
    spark.catalog.clearCache()
    QUERIES[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
