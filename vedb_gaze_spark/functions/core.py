"""Reusable Column expressions and the cross-engine primitives.

Every expression here is JVM-side (whole-stage-codegen friendly) and has an
exact DuckDB twin so the driver's value-hash oracle matches bit-for-bit:

- the portable 60-bit hash, first 15 hex chars of md5 as an integer
  (Spark's xxhash64 and DuckDB's hash() disagree, md5 is identical
  everywhere): ``portable_hash60`` (Spark Column), ``portable_hash60_sql``
  (Spark SQL text), ``portable_hash60_py`` (Python) and
  ``portable_hash60_duckdb`` (DuckDB SQL text).
- the word tokenizer, ``[a-z0-9]+`` runs of the lowercased ``text``:
  ``TOKENS_SQL`` (Spark SQL), ``TOKEN_RE`` (Python, after ``str.lower()``)
  and ``TOKENS_DUCKDB`` (DuckDB SQL).
- ``cents``: exact integer money arithmetic. Summing doubles is
  order-dependent (different partitionings → different last ulps), summing
  BIGINTs is exact and order-independent, so aggregates hash identically on
  any engine at any parallelism.
- ``tsec``: timestamps → epoch seconds as double via integer micros, the
  shared clock for every temporal operator (reference keeps float seconds,
  utils.py:67).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(col: Column | str) -> Column:
    """60-bit integer hash of a string, identical in Spark and DuckDB.
    Its siblings below are the same function in the other forms; parity
    is pinned in tests/test_core.py."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """portable_hash60 as Spark SQL text over the SQL expression ``expr``."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def portable_hash60_py(s: str | bytes) -> int:
    """portable_hash60 in Python; a ``str`` hashes as its UTF-8 bytes."""
    if isinstance(s, str):
        s = s.encode("utf-8")
    return int(hashlib.md5(s).hexdigest()[:15], 16)


def portable_hash60_duckdb(expr: str) -> str:
    """portable_hash60 as DuckDB SQL text over the SQL expression ``expr``."""
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


# Known engine difference (the test corpora are ASCII; pinned in
# tests/test_core.py): Spark and Python lowercase 'İ' (U+0130) to 'i' +
# U+0307, DuckDB to 'i', so 'İstanbul' tokenizes to ['i', 'stanbul'] on
# Spark and in Python but to ['istanbul'] on DuckDB.
_WORD = "[a-z0-9]+"
TOKENS_SQL = f"regexp_extract_all(lower(text), '{_WORD}', 0)"
TOKEN_RE = re.compile(_WORD)
TOKENS_DUCKDB = f"regexp_extract_all(lower(text), '{_WORD}')"


def cents(col: Column | str, scale: int = 100) -> Column:
    """Money as exact integer (default: cents).

    floor(x*scale + 0.5) instead of round(): Spark's round() on doubles
    allocates a BigDecimal per row and knocked Q1 from ~1 s to ~20 s at
    sf0.1; floor is codegen-friendly and identical for non-negative inputs
    that are within ±ε of a grid point (all money columns here).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(scale) + F.lit(0.5))


def tsec(col: Column | str = "ts") -> Column:
    """Timestamp → epoch seconds (double) via exact integer microseconds."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.unix_micros(c) / F.lit(1000000.0)).alias("tsec")


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side.

    Sequential left-to-right aggregation — the same evaluation order DuckDB's
    list_cosine_similarity uses, keeping cross-engine drift to the last ulp.
    """
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def spread_scan(df, *keys: str):
    """Deterministic key-hash repartition of a COMPACT source relation
    before a row-expanding, CPU-dense stage (char-shingle explode +
    per-shingle md5, token explode + double md5, per-row regex sweeps)
    whose downstream shuffle is keyed by ``keys``.

    Why this is the right shape at ANY scale (optimization guide §2.3 /
    §8): the expansion multiplies bytes 10-30× (a (doc_id, pos, hash)
    row per character), so exchanging the raw rows FIRST and expanding
    after moves strictly fewer bytes than the default plan, which
    expands inside the scan stage and shuffles the expanded rows to the
    keyed aggregation/window. The downstream groupBy/Window on the same
    keys reuses this exchange's hash partitioning (ClusteredDistribution
    is satisfied — no second shuffle appears; plan-pinned in tests).

    Scale-adaptivity rather than a local[32] constant: the repartition
    fires only when the planned scan has fewer partitions than
    defaultParallelism (_scan_is_compact asks the planner). A table
    with thousands of splits gets no plan change. A one-row-group bench
    file (or any small or freshly compacted table, on any filesystem)
    otherwise serializes the whole hashing pass onto ONE task (measured
    sf0.1: the 6 M-md5 shingle pass ran single-core — 4.3 s of a 5.5 s
    query). Any compact planned leaf is spread, not only a file scan
    (an in-memory cached scan, a LocalTableScan, an RDD scan); an input
    whose plan holds an exchange is returned unchanged. Partition count is defaultParallelism (the cluster's
    core budget), never a hard-coded number; the hash keys keep the
    placement deterministic under task retry (guide §2.5)."""
    if not _scan_is_compact(df):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *[F.col(k) for k in keys])


def spread_scan_scatter(df, key: str):
    """spread_scan for MULTI-CONSUMER subtrees: partition on a HASH of
    ``key`` instead of ``key`` itself, so rows of one key stay together
    (determinism under retry, guide §2.5) but the partitioning does NOT
    satisfy the downstream groupBy/Window distribution. That keeps the
    consumer's own Exchange in the plan — which matters when several
    branches consume the expensive subtree: Spark de-duplicates work at
    EXCHANGE boundaries (ReusedExchange), so removing the aggregation's
    exchange (what the aligned spread_scan does) makes every consumer
    re-run the whole hashing pass instead of reading the shuffle files
    once (measured: dedup_minhash_lsh 6.2 s → 21 s with the aligned
    form inside _doc_sets, back to 2.9 s with this one). Same gate:
    it asks the planned scan, works on any filesystem and on in-memory
    or RDD-backed leaves, and returns an input whose plan holds an
    exchange unchanged."""
    if not _scan_is_compact(df):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, F.xxhash64(F.col(key)))


def _scan_is_compact(df) -> bool:
    """The gate of spread_scan and spread_scan_scatter: True when the
    planned scan of ``df`` has fewer partitions than defaultParallelism,
    i.e. the source cannot feed every core by itself. The count is the
    planner's own (``df.rdd.getNumPartitions()``), whatever the leaf:
    a file scan, an in-memory cached scan, a LocalTableScan or an RDD
    scan. An input whose executed plan is adaptive or holds an exchange
    returns False: its partition count is only known after the stages
    below it run. Under
    AQE (the session default) a plan with a subquery, or one that reads
    a cached plan with an exchange, is adaptive too, so the gate never
    runs a job."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan" or "Exchange" in name:
            return False
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism


def iter_checkpoint(df, eager: bool = True):
    """Lineage truncation for ITERATIVE spines (PageRank/HITS rounds,
    BPE merges, Lloyd's assignments, CC label propagation, multi-use
    pair tables): RELIABLE df.checkpoint when the session has a
    checkpoint dir configured (sparkContext.setCheckpointDir — blocks
    live in fault-tolerant storage, so an executor loss mid-iteration
    replays from the checkpoint instead of the unbounded lineage), and
    localCheckpoint otherwise — the right default for local mode, where
    executor loss cannot happen and storage round-trips would only
    slow the loop. Cluster deployments opt in with ONE session-level
    call; no operator parameter threading needed (SURVEY §4)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
