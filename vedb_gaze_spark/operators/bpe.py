"""Byte-pair-encoding tokenizer: distributed merge-rule training and
corpus encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units") — the tokenizer-construction stage of a
training-data pipeline, built Spark-first.

Three scale invariants drive the shape:
- Pair counting runs on the word-TYPE table (distinct words × their
  corpus counts), never the token stream: the corpus is scanned once,
  collapsed to vocabulary rows by one hash aggregation, and every BPE
  iteration after that shuffles vocabulary-sized data only.
- The driver holds MODEL STATE only (the merge list — one collected row
  per iteration via TakeOrdered, the ivf_train_centroids pattern).
- Encoding applies the learned merges to the word-type table with an
  Arrow-batched pandas iterator (the merge table is a fixed-size model —
  the legitimate broadcast, like dsir_select's feature table), then
  joins pieces back to the token stream by word. No per-token Python.

Reference parity: the reference has no tokenizer surface; this is part
of the LLM-pipeline extension the brief requires (token_count's BPE-ish
regex in text.py:22 is the stand-in this module makes real).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import TOKENS_SQL as _TOKENS, iter_checkpoint

END = "</w>"


def _word_types(documents: DataFrame) -> DataFrame:
    """(word, cnt): the corpus collapsed to its vocabulary — the ONE
    corpus-sized aggregation in each tokenizer trainer (this one and
    operators/unigram.py's)."""
    return (
        documents.where(F.col("text").isNotNull())
        .select(F.explode(F.expr(_TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_expr(a: str, b: str) -> str:
    """Replace every adjacent (a, b) symbol pair with the merged symbol,
    greedy left-to-right — a sequential fold, exactly the reference BPE
    apply order."""
    qa, qb = a.replace("'", "''"), b.replace("'", "''")
    return (
        f"aggregate(syms, cast(array() as array<string>), (acc, s) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{qa}' "
        f"AND s = '{qb}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qa}' || '{qb}')) "
        f"ELSE concat(acc, array(s)) END)"
    )


def bpe_train(
    documents: DataFrame, n_merges: int = 24
) -> list[tuple[str, str]]:
    """Learn the top-n merge rules. Each iteration: count adjacent
    symbol pairs over the vocabulary (weighted by word count, one
    vocabulary-sized shuffle), TakeOrdered the single best pair
    (count desc, pair asc — deterministic), fold the merge into the
    symbol arrays in-plan. localCheckpoint every few rounds truncates
    the per-iteration lineage (the dedup_clusters lesson)."""
    spark = documents.sparkSession
    w = _word_types(documents).select(
        "word",
        "cnt",
        F.expr(f"concat(split(word, ''), array('{END}'))").alias("syms"),
    )
    w = iter_checkpoint(w, eager=True)
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        best = (
            w.select(
                "cnt",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(1, size(syms) - 1), "
                        "j -> struct(element_at(syms, j) as a, "
                        "element_at(syms, j + 1) as b)) "
                        "ELSE cast(array() as array<struct<a:string,b:string>>) END"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < 2:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        # cadence 3 (was 6): each pair-count job re-evaluates the
        # stacked un-checkpointed folds over the whole vocabulary, so
        # two extra materialization jobs buy ≤2 stacked folds per count
        # instead of ≤5
        w = w.select("word", "cnt", F.expr(_merge_expr(a, b)).alias("syms"))
        if (i + 1) % 3 == 0:
            w = iter_checkpoint(w, eager=True)
    return merges


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference single-word BPE apply (driver/UDF shared kernel):
    merges applied in learned order, each greedy left-to-right."""
    syms = list(word) + [END]
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode_types(
    documents: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word, cnt, pieces array<string>): the vocabulary encoded once.
    Python touches vocabulary rows only — an Arrow-batched iterator
    with a per-batch memo dict, not a per-token UDF."""
    mlist = list(merges)

    def enc(batches):
        for pdf in batches:
            pdf = pdf.copy()
            memo: dict[str, list[str]] = {}
            pdf["pieces"] = [
                memo.setdefault(w, encode_word(w, mlist)) for w in pdf["word"]
            ]
            yield pdf

    w = _word_types(documents)
    return w.mapInPandas(enc, "word string, cnt bigint, pieces array<string>")


def bpe_stats(documents: DataFrame, n_merges: int = 24) -> DataFrame:
    """Per-document subword statistics: train on the corpus in the same
    call (deterministic — integer pair counts, lexicographic
    tie-breaks), encode the vocabulary, and count pieces per doc
    (_pieces_per_doc)."""
    merges = bpe_train(documents, n_merges=n_merges)
    return _pieces_per_doc(documents, bpe_encode_types(documents, merges))


def _pieces_per_doc(documents: DataFrame, types: DataFrame) -> DataFrame:
    """The per-document tail of bpe_stats and unigram_lm_stats: join the
    encoded vocabulary (word, cnt, pieces) back to the token stream by
    word (vocabulary side is model-output-sized; AQE picks the join
    strategy) and aggregate exact integers per doc."""
    types = types.select("word", F.expr("size(pieces)").alias("n_pieces_word"))
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
            F.expr("floor(n_pieces / cast(n_words as double) * 1e6 + 0.5) / 1e6").alias(
                "pieces_per_word"
            ),
        )
    )
