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



def _size_bytes(conf_val: str, default: int = 128 << 20) -> int:
    """Parse a Spark byte-size conf string ('134217728', '128m', '1g',
    '1t'). Unparsable values WARN and fall back to ``default`` rather
    than silently flipping the spread_scan gate (ADVICE r14)."""
    s = conf_val.strip().lower()
    mult = 1
    for suf, m in (
        ("k", 1 << 10),
        ("m", 1 << 20),
        ("g", 1 << 30),
        ("t", 1 << 40),
        ("p", 1 << 50),
    ):
        if s.endswith(suf + "b"):
            s, mult = s[:-2], m
            break
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    if s.endswith("b"):
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        import logging

        logging.getLogger(__name__).warning(
            "unparsable byte-size conf value %r; assuming %d bytes",
            conf_val,
            default,
        )
        return default


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
    only fires when the source CANNOT already feed every core — i.e.
    the file layout packs into fewer scan partitions than
    defaultParallelism (the planner's own split math, mirrored exactly
    in _scan_partitions: maxSplitBytes with the openCostInBytes and
    bytesPerCore terms + greedy bin-packing). A 100 TB table
    has thousands of splits → no-op, zero plan change. A one-row-group
    bench file (or any small/freshly-compacted table on a real cluster)
    otherwise serializes the whole hashing pass onto ONE task (measured
    sf0.1: the 6 M-md5 shingle pass ran single-core — 4.3 s of a 5.5 s
    query). Non-local URIs and un-stat-able sources conservatively
    no-op. Partition count is defaultParallelism (the cluster's core
    budget), never a hard-coded number; the hash keys keep the
    placement deterministic under task retry (guide §2.5)."""
    if not _scan_is_compact(df):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *[F.col(k) for k in keys])


def _scan_is_compact(df) -> bool:
    """The firing gate of spread_scan and spread_scan_scatter: True when
    the planner would pack the input files of ``df`` into fewer scan
    partitions than defaultParallelism — i.e. the source cannot feed
    every core by itself. Non-local URIs, un-stat-able sources and
    fileless plans conservatively return False. inputFiles() resolves
    through the CacheManager, so a plan matching a persisted relation
    reports zero files and the gate reads False."""
    import os as _os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return False
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return False
        try:
            sizes.append(_os.path.getsize(unquote(u.path)))
        except OSError:
            return False
    if not sizes:
        return False
    spark = df.sparkSession
    return _scan_partitions(spark, sizes) < spark.sparkContext.defaultParallelism


def _scan_partitions(spark, sizes: list[int]) -> int:
    """Mirror of the planner's file-split bin-packing
    (FilePartition.maxSplitBytes + getFilePartitions): how many scan
    partitions this file layout actually produces. The previous
    hand-rolled estimate (len(files) + bytes // maxPartitionBytes)
    ignored openCostInBytes and the bytesPerCore term, so a
    many-tiny-files layout could count as >= defaultParallelism splits
    while the planner packed it into far fewer (ADVICE r14)."""
    maxpb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", str(4 << 20)),
        default=4 << 20,
    )
    def _int_conf(key: str) -> int:
        # optional typed confs raise on get() when unset (and validate
        # any default passed in), so probe defensively
        try:
            v = spark.conf.get(key)
        except Exception:
            return 0
        try:
            return int(v) if v else 0
        except (TypeError, ValueError):
            return 0

    min_part = _int_conf("spark.sql.files.minPartitionNum")
    if min_part <= 0:
        min_part = _int_conf("spark.sql.leafNodeDefaultParallelism")
    if min_part <= 0:
        min_part = spark.sparkContext.defaultParallelism
    total = sum(sizes) + len(sizes) * open_cost
    bytes_per_core = total // max(min_part, 1)
    max_split = min(maxpb, max(open_cost, bytes_per_core))
    max_split = max(max_split, 1)
    # parquet is splittable: each file becomes ceil(size / max_split)
    # splits, then splits are greedily packed (sorted desc, openCost
    # charged per split, partition closed when it would exceed max_split)
    splits: list[int] = []
    for sz in sizes:
        off = 0
        while off < sz:
            splits.append(min(max_split, sz - off))
            off += max_split
        if sz == 0:
            splits.append(0)
    splits.sort(reverse=True)
    parts = 0
    cur = 0
    for s in splits:
        if cur + s > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += s + open_cost
    if cur > 0:
        parts += 1
    return parts


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
    form inside _doc_sets, back to 2.9 s with this one). Same
    input-size gate: no-op whenever the scan already feeds the cores."""
    if not _scan_is_compact(df):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, F.xxhash64(F.col(key)))


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
