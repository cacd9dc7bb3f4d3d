"""Streaming twins of the corpus-composition family (SURVEY §2.I).

stratified_sample is a pure per-row hash filter, so the BATCH operator
composes over a stream unchanged — no twin needed, the parity test
streams it directly.

Decontamination is the interesting one: the benchmark n-gram set is
STATIC (an eval suite, megabytes) while the corpus streams past it.
The batch operator derives the benchmark from the same DataFrame; the
streaming twin takes the benchmark as a driver-broadcast frozenset and
tests each arriving document row-locally in an Arrow batch — stateless,
append-mode, the natural shape for a 100 TB ingest pipeline: no
stream-stream join, no watermarked aggregation, benchmark shipped once
per executor.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import TOKEN_RE as _TOKEN_RE
from vedb_gaze_spark.functions.core import TOKENS_SQL, portable_hash60_py
from vedb_gaze_spark.plans import params as P


def bench_ngram_set(documents: DataFrame, n: int = P.DECONTAM_NGRAM,
                    bench_mod: int = P.DECONTAM_BENCH_MOD) -> frozenset:
    """Collect the benchmark slice's distinct word n-grams (the static,
    small side — an eval suite). Mirrors operators/corpus.decontaminate's
    benchmark branch exactly."""
    from pyspark.sql import functions as F

    rows = (
        documents.where(F.col("doc_id") % bench_mod == 0)
        .select("doc_id", "text")
        .collect()
    )
    out = set()
    for r in rows:
        if r["text"] is None:  # NULL text is admissible (JSONL ingest)
            continue
        toks = _TOKEN_RE.findall(r["text"].lower())
        for i in range(len(toks) - n + 1):
            out.add(" ".join(toks[i : i + n]))
    return frozenset(out)


def streaming_decontaminate(
    stream: DataFrame,
    bench: frozenset,
    n: int = P.DECONTAM_NGRAM,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
) -> DataFrame:
    """Row-local contamination count per streamed training doc against
    the broadcast benchmark set; emits only contaminated docs, matching
    the batch operator's (doc_id, n_overlap) rows."""
    sc = stream.sparkSession.sparkContext
    bc = sc.broadcast(bench)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = bc.value
        for pdf in batches:
            ids, counts = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if int(doc_id) % bench_mod == 0:
                    continue  # the benchmark slice itself never trains
                if text is None or not isinstance(text, str):
                    # NULL text yields no tokens — NOT the 'None' token
                    # str() would fabricate (bench_ngram_set skips nulls
                    # the same way; at n=1 the literal would count as a
                    # spurious overlap)
                    continue
                toks = _TOKEN_RE.findall(text.lower())
                grams = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                hit = len(grams & b)
                if hit:
                    ids.append(int(doc_id))
                    counts.append(hit)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "n_overlap": pd.Series(counts, dtype="int64")})

    return stream.select("doc_id", "text").mapInPandas(
        fn, "doc_id long, n_overlap long"
    )


def dsir_lr_table(documents: DataFrame) -> tuple[dict, int]:
    """Freeze dsir_select's per-bucket log-ratio table for streaming
    use: (bucket → micro-nat log ratio, default for unseen buckets).
    The table is FIXED-SIZE (≤ DSIR_BUCKETS rows) — collecting it is
    collecting a model, not a corpus (same standing as the decontam
    benchmark set), and broadcasting it row-locally is scale-correct
    at any corpus size. The default is the tc=rc=0 Laplace cell —
    principled for buckets the training corpus never hit (possible
    only for docs streamed AFTER the freeze)."""
    import math

    from vedb_gaze_spark.operators.corpus import _dsir_counts, _dsir_grams

    counts = _dsir_counts(
        _dsir_grams(documents, P.DSIR_BUCKETS, P.DECONTAM_BENCH_MOD)
    ).collect()
    T = sum(r["tc"] for r in counts)
    R = sum(r["rc"] for r in counts)
    B = P.DSIR_BUCKETS

    def q(tc, rc):
        return int(
            math.floor(
                (math.log((tc + 1.0) / (T + B)) - math.log((rc + 1.0) / (R + B)))
                * 1e6
                + 0.5
            )
        )

    return {r["b"]: q(r["tc"], r["rc"]) for r in counts}, q(0, 0)


def streaming_dsir_score(
    stream: DataFrame,
    lr: dict,
    default_lr: int,
    n_buckets: int = P.DSIR_BUCKETS,
    bench_mod: int = P.DECONTAM_BENCH_MOD,
) -> DataFrame:
    """Stateless streaming DSIR scorer: each arriving raw doc gets its
    integer micro-nat log importance weight against the FROZEN bucket
    table — row-local, no shuffle, no state, the decontamination shape
    (model broadcast once per executor, corpus streams past). Emits
    the exact rows batch dsir_scores emits for the same docs
    (integer-sum determinism makes the parity bit-exact); target-slice
    docs and gramless docs emit nothing, matching the batch inner
    join."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_s, out_n = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or doc_id % bench_mod == 0:
                    continue
                toks = _TOKEN_RE.findall(str(text).lower())
                grams = toks + [
                    f"{a} {b}" for a, b in zip(toks, toks[1:])
                ]
                if not grams:
                    continue
                s = 0
                for g in grams:
                    s += lr.get(portable_hash60_py(g) % n_buckets, default_lr)
                out_id.append(doc_id)
                out_s.append(s)
                out_n.append(len(grams))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "logw_unats": pd.Series(out_s, dtype="int64"),
                    "n_grams": pd.Series(out_n, dtype="int64"),
                }
            )

    return stream.select("doc_id", "text").mapInPandas(
        fn, "doc_id long, logw_unats long, n_grams long"
    )


# --- r6b: frozen-model quality scoring over the document stream ----------
#
# gopher_rules / c4_clean / quality_classifier are pure per-row
# DataFrame expressions — they compose over a stream UNCHANGED (like
# stratified_sample above); the parity tests stream the batch operators
# directly. The twins below are the two corpus-statistic-bearing
# scorers, refit to the frozen-model shape:
#
# - BPE: the merge TABLE is the model (trained once, offline); the
#   encoder is vocabulary-free (starts from characters), so a frozen
#   merge list scores any arriving document, known words or not.
# - CCNet buckets: production CCNet ships a trained LM to every worker
#   and buckets against PRECOMPUTED per-language cutoffs (Wenzek et al.
#   2020 §4.3 — "trained on Wikipedia", thresholds from a sample);
#   the batch operator's train-on-the-corpus-in-plan form is the
#   oracle-able special case. The twin takes the frozen micro-nat LM
#   and the per-language tertile BOUNDARY KEYS ((cross_entropy,
#   doc_id) at each tertile edge) so replayed docs get bit-identical
#   buckets and unseen docs a deterministic threshold assignment.


def ccnet_model(
    documents: DataFrame,
) -> tuple[dict, dict]:
    """Freeze the CCNet scoring model from a batch corpus: the
    integer micro-nat unigram log-probs (model state — the shipped LM;
    one row per distinct corpus token, the streaming analog of a KenLM
    binary on each worker) and the per-language tertile boundary keys
    from the batch bucket assignment. Collects MODEL state only: the
    vocabulary-sized LM table and O(languages) boundary tuples, never
    corpus rows."""
    from pyspark.sql import functions as F

    from vedb_gaze_spark.operators.filtering import ccnet_ppl_buckets
    from vedb_gaze_spark.operators.text import lm_score  # noqa: F401

    toks = documents.select(
        "doc_id", F.explode(F.expr(TOKENS_SQL)).alias("word")
    )
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    stats = wc.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    logq_rows = (
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
        .collect()
    )
    logq = {r["word"]: r["logq"] for r in logq_rows}
    bounds = (
        ccnet_ppl_buckets(documents)
        .groupBy("lang", "tertile")
        .agg(F.max(F.struct("cross_entropy", "doc_id")).alias("hi"))
        .collect()
    )
    cutoffs: dict = {}
    for r in bounds:
        cutoffs.setdefault(r["lang"], {})[r["tertile"]] = (
            r["hi"]["cross_entropy"],
            r["hi"]["doc_id"],
        )
    return logq, cutoffs


def streaming_ccnet_buckets(
    stream: DataFrame, logq: dict, cutoffs: dict
) -> DataFrame:
    """Stateless CCNet bucketer: score each arriving doc against the
    frozen LM (tokens outside the LM vocabulary are skipped, matching
    the batch inner join) and assign head/middle/tail by comparing the
    (cross_entropy, doc_id) key to the frozen per-language boundary
    keys — bit-identical to the batch NTILE on replayed docs, a
    deterministic threshold rule on new ones. Row-local, zero state,
    zero shuffle."""
    from decimal import ROUND_HALF_UP, Decimal

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "lang": [], "cross_entropy": [],
                   "tertile": [], "bucket": []}
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                if text is None:
                    continue
                vals = [
                    logq[w]
                    for w in _TOKEN_RE.findall(str(text).lower())
                    if w in logq
                ]
                if not vals:
                    continue
                raw = -sum(vals) / (1e6 * len(vals))
                # Spark's round(x, 6) is BigDecimal HALF_UP over the
                # double's shortest decimal form; Decimal(repr(x))
                # reproduces it exactly (repr = shortest round-trip,
                # same as Java's Double.toString)
                ce = float(
                    Decimal(repr(raw)).quantize(
                        Decimal("1e-6"), rounding=ROUND_HALF_UP
                    )
                )
                cut = cutoffs.get(lang, {})
                key = (ce, int(doc_id))
                if 1 in cut and key <= cut[1]:
                    tertile = 1
                elif 2 in cut and key <= cut[2]:
                    tertile = 2
                else:
                    tertile = 3
                out["doc_id"].append(doc_id)
                out["lang"].append(lang)
                out["cross_entropy"].append(ce)
                out["tertile"].append(tertile)
                out["bucket"].append(
                    {1: "head", 2: "middle"}.get(tertile, "tail")
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "lang": pd.Series(out["lang"], dtype="object"),
                    "cross_entropy": pd.Series(
                        out["cross_entropy"], dtype="float64"
                    ),
                    "tertile": pd.Series(out["tertile"], dtype="int32"),
                    "bucket": pd.Series(out["bucket"], dtype="object"),
                }
            )

    return stream.select("doc_id", "lang", "text").mapInPandas(
        fn,
        "doc_id long, lang string, cross_entropy double, "
        "tertile int, bucket string",
    )


def streaming_bpe_stats(
    stream: DataFrame, merges: list
) -> DataFrame:
    """Stateless streaming twin of bpe_stats' scoring half: encode each
    arriving doc with the FROZEN merge list (the model — trained
    offline by bpe_train) and emit the same exact-integer per-doc
    subword statistics. The encoder starts from characters, so it is
    total over unseen words — no vocabulary table travels with the
    stream, only the O(n_merges) merge pairs. A per-batch memo keeps
    the per-word work amortized exactly like the batch vocabulary
    encode."""
    import math

    from vedb_gaze_spark.operators.bpe import encode_word

    mlist = [tuple(m) for m in merges]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in batches:
            out_id, out_w, out_p, out_r = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = _TOKEN_RE.findall(str(text).lower())
                if not toks:
                    continue
                n_pieces = 0
                for w in toks:
                    if w not in memo:
                        memo[w] = len(encode_word(w, mlist))
                    n_pieces += memo[w]
                out_id.append(doc_id)
                out_w.append(len(toks))
                out_p.append(n_pieces)
                out_r.append(
                    math.floor(n_pieces / len(toks) * 1e6 + 0.5) / 1e6
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "n_words": pd.Series(out_w, dtype="int64"),
                    "n_pieces": pd.Series(out_p, dtype="int64"),
                    "pieces_per_word": pd.Series(out_r, dtype="float64"),
                }
            )

    return stream.select("doc_id", "text").mapInPandas(
        fn, "doc_id long, n_words long, n_pieces long, pieces_per_word double"
    )


class NoveltyScoring:
    """foreachBatch handler: novelty-score each arriving micro-batch of
    documents against the bucketed gram index
    (operators/text.py:write_gram_index) — the intake gate a crawl
    pipeline runs on every delivery before admitting documents to the
    corpus. The batch kernel (novelty_vs_index) runs verbatim per
    micro-batch, so streamed scores are definitionally the batch rows;
    the index side of the probe join stays exchange-free (bucketed) and
    is never collected or broadcast by hand. Exactly-once via the
    batch-id-versioned overwrite contract (serving.py / maintenance.py).

    With ``advance=True`` the gate also ADMITS each batch after scoring
    it: append_gram_index merges the batch's new grams into the index
    (O(batch) appended files, pre-existing files untouched), so batch
    N+1 scores against the corpus GROWN by batches ≤ N. Replay-stable
    end to end: scoring reads the prior-corpus view ``since < batch_id``
    (a crash between the index append and the checkpoint commit replays
    the batch against exactly the view it saw the first time — its own
    half-committed grams are excluded by their `since` stamp), and the
    re-append anti-joins to zero rows.

    Usage::

        job = NoveltyScoring("gram_index_table", out_dir, advance=True)
        (doc_stream.writeStream.foreachBatch(job.process)
         .trigger(availableNow=True).start())
    """

    _OUT_SCHEMA = "doc_id bigint, n_grams bigint, n_new bigint, novelty double"

    def __init__(
        self,
        index_table: str,
        out_dir: str,
        n: int = P.NOVELTY_NGRAM,
        advance: bool = False,
        n_buckets: int = 32,
    ) -> None:
        self.index_table = index_table
        self.out_dir = out_dir
        self.n = n
        self.advance = advance
        self.n_buckets = n_buckets

    def process(self, batch_docs: DataFrame, batch_id: int) -> None:
        from vedb_gaze_spark.operators.text import (
            append_gram_index,
            novelty_vs_index,
        )

        spark = batch_docs.sparkSession
        index = spark.table(self.index_table)
        if self.advance and "since" in index.columns:
            index = index.where(F.col("since") < batch_id)
        out = novelty_vs_index(batch_docs, index, self.n)
        out.write.mode("overwrite").parquet(f"{self.out_dir}/batch={batch_id}")
        if self.advance:
            append_gram_index(
                batch_docs,
                self.index_table,
                n=self.n,
                n_buckets=self.n_buckets,
                since=batch_id,
            )

    def results(self, spark) -> DataFrame:
        return spark.read.schema(self._OUT_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(self.out_dir)


def nb_lang_model(documents: DataFrame) -> tuple[dict, dict, dict]:
    """Collect the NB language-ID model (operators/text.py:
    _nb_model_frames — the SAME frames the batch face joins, so the
    micro-nat integers are identical by construction): (lang, word) →
    logp, lang → smoothing floor, lang → log prior. Vocabulary-sized
    model state — the ccnet_model collect class."""
    from vedb_gaze_spark.operators.text import _nb_model_frames

    _, _, model, floor_, prior = _nb_model_frames(documents)
    logp = {(r["mlang"], r["word"]): int(r["logp"]) for r in model.collect()}
    logp0 = {r["mlang"]: int(r["logp0"]) for r in floor_.collect()}
    logprior = {r["mlang"]: int(r["logprior"]) for r in prior.collect()}
    return logp, logp0, logprior


def streaming_nb_lang_id(
    stream: DataFrame, logp: dict, logp0: dict, logprior: dict
) -> DataFrame:
    """Stateless frozen-model NB language ID over a document stream:
    per arriving doc, exact long log-likelihood sums per language
    (unseen words take the language's smoothing floor — the batch left
    join's null branch) and argmax with lexicographic ties — row-for-
    row the batch nb_lang_id on replayed docs. Zero state, zero
    shuffle; the model dicts ship in the task closure (vocabulary-
    sized)."""
    langs = sorted(logp0)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "lang": [], "pred_lang": [],
                   "score_micro_nats": [], "correct": []}
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                if text is None:
                    continue
                words = _TOKEN_RE.findall(str(text).lower())
                if not words:
                    continue
                best = None
                for ml in langs:
                    s = logprior[ml]
                    f0 = logp0[ml]
                    for w in words:
                        s += logp.get((ml, w), f0)
                    if best is None or s > best[0]:
                        best = (s, ml)
                out["doc_id"].append(doc_id)
                out["lang"].append(lang)
                out["pred_lang"].append(best[1])
                out["score_micro_nats"].append(best[0])
                out["correct"].append(best[1] == lang)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "lang": pd.Series(out["lang"], dtype="object"),
                    "pred_lang": pd.Series(out["pred_lang"], dtype="object"),
                    "score_micro_nats": pd.Series(
                        out["score_micro_nats"], dtype="int64"
                    ),
                    "correct": pd.Series(out["correct"], dtype="bool"),
                }
            )

    return stream.select("doc_id", "lang", "text").mapInPandas(
        fn,
        "doc_id long, lang string, pred_lang string,"
        " score_micro_nats long, correct boolean",
    )
