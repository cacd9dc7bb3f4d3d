"""Unigram-LM subword tokenizer: distributed Viterbi-EM training and
corpus encoding (Kudo 2018, "Subword Regularization" §3 — the
SentencePiece unigram model) — the second tokenizer family beside
bpe.py, built on the same three scale invariants:

- All training runs on the word-TYPE table (distinct words × corpus
  counts): the corpus is scanned once; every EM iteration shuffles
  vocabulary-sized data only.
- The driver holds MODEL STATE only: the piece table (≤ SEED entries of
  (piece, micro-nat score)) collected once per EM step — the Lloyd's /
  bpe_train collect class.
- Encoding is an Arrow-batched iterator over word types with the piece
  table in the task closure (fixed-size model), joined back to the
  token stream by word. No per-token Python.

Determinism: hard-EM (Viterbi counts, not forward-backward
expectations) makes every E-step aggregate an exact integer sum —
piece counts and the total corpus code length are longs, so training
is bit-reproducible on any partitioning (the micro-nat discipline
applied to EM, same as quality_classifier_train's gradients). Piece
scores are micro-nat integers; Viterbi ties break toward the LONGER
last piece, then the segmentation is unique.

Reference parity: like bpe.py, part of the LLM-pipeline extension the
brief requires; the reference repo has no tokenizer surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import TOKENS_SQL as _TOKENS, iter_checkpoint

MAX_PIECE_LEN = 6
SEED_VOCAB = 512
TARGET_VOCAB = 256
PRUNE_FRAC = 0.25
EM_ITERS = 3


def _word_types(documents: DataFrame) -> DataFrame:
    return (
        documents.where(F.col("text").isNotNull())
        .select(F.explode(F.expr(_TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _viterbi(word: str, scores: dict[str, int], maxlen: int) -> list[str]:
    """Best segmentation under integer micro-nat piece scores. dp[i] =
    best score of word[:i]; candidate pieces end at i with length
    1..maxlen (the longest piece in the model — no global state, so the
    pickled kernel is self-contained); ties prefer the LONGER last piece
    (deterministic). Single chars are always in the vocab, so a path
    always exists."""
    n = len(word)
    NEG = -(1 << 60)
    dp = [NEG] * (n + 1)
    back = [0] * (n + 1)
    dp[0] = 0
    for i in range(1, n + 1):
        for ln in range(1, min(maxlen, i) + 1):
            s = scores.get(word[i - ln : i])
            if s is None:
                continue
            cand = dp[i - ln] + s
            # ties prefer the longer last piece — unique segmentation
            if cand > dp[i] or (cand == dp[i] and ln > back[i]):
                dp[i] = cand
                back[i] = ln
    out: list[str] = []
    i = n
    while i > 0:
        ln = back[i]
        out.append(word[i - ln : i])
        i -= ln
    out.reverse()
    return out


def _encode_gen(scores: dict[str, int]):
    """mapInPandas generator: Viterbi-encode each word type; per-batch
    memo so repeated words in a batch cost one DP."""

    maxlen = max((len(p) for p in scores), default=1)

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            memo: dict[str, list[str]] = {}
            pdf["pieces"] = [
                memo.setdefault(w, _viterbi(w, scores, maxlen))
                for w in pdf["word"]
            ]
            yield pdf

    return gen


def _micro_nat_scores(counts: dict[str, int]) -> dict[str, int]:
    total = sum(counts.values())
    return {
        p: int(math.floor(math.log(c / total) * 1e6))
        for p, c in counts.items()
        if c > 0
    }


def unigram_train(
    documents: DataFrame,
    seed_vocab: int = SEED_VOCAB,
    target_vocab: int = TARGET_VOCAB,
    em_iters: int = EM_ITERS,
) -> tuple[dict[str, int], list[int]]:
    """Train the unigram piece table. Returns (piece → micro-nat score,
    total corpus code length in micro-nats per EM step — the exact-long
    training trace).

    Seeding (Kudo §3.2's 'reasonably big seed vocabulary'): all word
    substrings up to MAX_PIECE_LEN weighted by word count — ONE explode
    + groupBy over the vocabulary, top seed_vocab by (freq desc, piece
    asc) via TakeOrdered, UNION all single chars (segmentability
    guarantee). EM then alternates: E = Viterbi piece counts over word
    types (Arrow-batched DP, exact integer counts); M = micro-nat
    re-score + prune the lowest-count PRUNE_FRAC (never single chars)
    until target_vocab — Kudo's iterative shrink with Viterbi counts
    standing in for the forward-backward expectations (hard EM keeps
    every aggregate an exact long)."""
    w = iter_checkpoint(_word_types(documents), eager=True)
    subs = (
        f"flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(1, least({MAX_PIECE_LEN}, length(word) - i + 1)),"
        f" l -> substring(word, i, l))))"
    )
    seed_rows = (
        w.select("cnt", F.explode(F.expr(subs)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), "piece")
        .limit(seed_vocab)
        .collect()
    )
    chars = (
        w.select(F.explode(F.expr("split(word, '')")).alias("piece"))
        .where(F.length("piece") == 1)
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    )
    counts = {r["piece"]: int(r["freq"]) for r in seed_rows}
    for r in chars:
        counts.setdefault(r["piece"], int(r["freq"]))
    singles = {p for p in counts if len(p) == 1}
    scores = _micro_nat_scores(counts)

    trace: list[int] = []
    for _ in range(em_iters):
        enc = w.mapInPandas(
            _encode_gen(scores), "word string, cnt bigint, pieces array<string>"
        )
        stats = enc.select(
            "cnt", F.explode("pieces").alias("piece")
        ).groupBy("piece").agg(F.sum("cnt").alias("c"))
        rows = stats.collect()
        counts = {r["piece"]: int(r["c"]) for r in rows}
        code_len = -sum(
            counts[p] * scores[p] for p in counts
        )  # exact long: counts and scores are ints
        trace.append(int(code_len))
        # prune: drop the lowest-count multi-char pieces
        multi = sorted(
            ((c, p) for p, c in counts.items() if p not in singles),
        )
        n_prunable = max(0, len(counts) - target_vocab)
        drop = {p for _, p in multi[: min(n_prunable, int(len(multi) * PRUNE_FRAC) + 1)]}
        counts = {p: c for p, c in counts.items() if p not in drop}
        for p in singles:  # singles never leave, even at count 0
            counts.setdefault(p, 1)
            counts[p] = max(counts[p], 1)
        scores = _micro_nat_scores(counts)
    return scores, trace


def unigram_encode_types(
    documents: DataFrame, scores: dict[str, int]
) -> DataFrame:
    """(word, cnt, pieces): the vocabulary Viterbi-encoded once under
    the trained piece table."""
    w = _word_types(documents)
    return w.mapInPandas(
        _encode_gen(scores), "word string, cnt bigint, pieces array<string>"
    )


def unigram_lm_stats(
    documents: DataFrame,
    seed_vocab: int = SEED_VOCAB,
    target_vocab: int = TARGET_VOCAB,
    em_iters: int = EM_ITERS,
) -> DataFrame:
    """Per-document subword statistics under the trained unigram model —
    the bpe_stats face for the second tokenizer family: train in the
    same call (deterministic), encode the vocabulary, join pieces back
    to the token stream by word, aggregate exact integers per doc."""
    scores, _ = unigram_train(documents, seed_vocab, target_vocab, em_iters)
    types = unigram_encode_types(documents, scores).select(
        "word", F.expr("size(pieces)").alias("n_pieces_word")
    )
    toks = documents.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("word")
    )
    return (
        toks.join(types, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces_word").alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            F.expr(
                "floor(n_pieces / cast(n_words as double) * 1e6 + 0.5) / 1e6"
            ).alias("pieces_per_word"),
        )
    )
