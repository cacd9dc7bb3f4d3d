"""One definition per cross-engine primitive.

The portable 60-bit hash and the word tokenizer (functions/core.py) each
have one form per engine. Every form must agree on a fixed string set,
and no module may carry its own copy of either. The exact-Jaccard score
every near-dup verify uses has one definition too
(operators/dedup.py:_exact_jaccard).
"""

import re
from pathlib import Path

import duckdb
import numpy as np
from pyspark.sql import functions as F

from vedb_gaze_spark.functions.core import (
    TOKEN_RE,
    TOKENS_DUCKDB,
    TOKENS_SQL,
    portable_hash60,
    portable_hash60_duckdb,
    portable_hash60_py,
    portable_hash60_sql,
)
from vedb_gaze_spark.operators.dedup import _exact_jaccard

STRINGS = [
    "",
    "spark join filter",
    "qcw:7",
    "sgn:spark",
    "héllo wörld",
    "数据处理 データ",
    "".join(chr(33 + (i * 7) % 94) for i in range(1000)),
]


def _spark_rows(spark, exprs):
    df = spark.createDataFrame(list(enumerate(STRINGS)), "i int, text string")
    return [list(r)[1:] for r in df.select("i", *exprs).orderBy("i").collect()]


def _duck_rows(expr):
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE strs (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO strs VALUES (?, ?)", list(enumerate(STRINGS)))
        return [r[0] for r in con.execute(f"SELECT {expr} FROM strs ORDER BY i").fetchall()]
    finally:
        con.close()


def test_hash60_forms_agree(spark):
    py = [portable_hash60_py(s) for s in STRINGS]
    assert [portable_hash60_py(s.encode("utf-8")) for s in STRINGS] == py
    spark_rows = _spark_rows(
        spark, [portable_hash60("text"), F.expr(portable_hash60_sql("text"))]
    )
    assert [r[0] for r in spark_rows] == py
    assert [r[1] for r in spark_rows] == py
    assert _duck_rows(portable_hash60_duckdb("text")) == py
    assert all(0 <= h < 1 << 60 for h in py)
    # pinned literal: the single definition cannot drift on its own
    assert portable_hash60_py("") == 955282973525019424


def test_tokenizer_forms_agree(spark):
    py = [TOKEN_RE.findall(s.lower()) for s in STRINGS]
    assert [r[0] for r in _spark_rows(spark, [F.expr(TOKENS_SQL)])] == py
    assert _duck_rows(TOKENS_DUCKDB) == py


def test_tokenizer_known_engine_difference(spark):
    """'İ' (U+0130) lowercases to 'i' + U+0307 in Spark and Python but to
    'i' in DuckDB. Pinned so the difference cannot silently widen."""
    text = "İstanbul"
    assert TOKEN_RE.findall(text.lower()) == ["i", "stanbul"]
    df = spark.createDataFrame([(text,)], "text string")
    assert df.select(F.expr(TOKENS_SQL)).first()[0] == ["i", "stanbul"]
    con = duckdb.connect()
    try:
        got = con.execute(
            f"SELECT {TOKENS_DUCKDB} FROM (SELECT ? AS text)", [text]
        ).fetchone()[0]
    finally:
        con.close()
    assert got == ["istanbul"]


def test_primitives_are_not_copied_outside_core():
    pkg = Path(__file__).resolve().parents[1] / "vedb_gaze_spark"
    core = pkg / "functions" / "core.py"
    copy = re.compile(r"hexdigest\(\)\[:15\]|substring\(md5\(|\[a-z0-9\]\+")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != core
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if copy.search(line)
    ]
    assert hits == [], "\n".join(hits)


def test_nearest_cell_is_not_copied():
    """IVF cell assignment (argmax with first-match tie-break) is written
    once under vedb_gaze_spark/, in similarity._nearest_cell."""
    pkg = Path(__file__).resolve().parents[1] / "vedb_gaze_spark"
    copy = re.compile(r"array_position\(\s*\w+\s*,\s*array_max\(")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if copy.search(line)
    ]
    assert hits == [], "\n".join(hits)


def test_scan_split_math_is_not_mirrored():
    """The spread_scan gate asks the planner for the planned scan's
    partition count; no module under vedb_gaze_spark/ replays the
    planner's file-split math from the split confs or file sizes."""
    pkg = Path(__file__).resolve().parents[1] / "vedb_gaze_spark"
    copy = re.compile(r"maxPartitionBytes|openCostInBytes|\bgetsize\(")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if copy.search(line)
    ]
    assert hits == [], "\n".join(hits)


def test_footer_schema_read_is_not_copied():
    """A table's schema is read from its parquet footer through Spark's
    own converter in one module under vedb_gaze_spark/
    (sources/tables.py:_read_parquet)."""
    pkg = Path(__file__).resolve().parents[1] / "vedb_gaze_spark"
    for name in ("readSchemaFromFooter", "ParquetToSparkSchemaConverter"):
        modules = [
            str(path.relative_to(pkg))
            for path in sorted(pkg.rglob("*.py"))
            if name in path.read_text()
        ]
        assert len(modules) == 1, (name, modules)


def test_exact_jaccard_rounds_half_up_like_duckdb():
    """1 shared element in a union of 128: 1/128 = 0.0078125 exactly.
    DuckDB's round() gives 0.007813 (HALF_UP); Python's round and
    np.round give 0.007812 (half-to-even)."""
    a = np.array([0], dtype=np.int64)
    b = np.arange(128, dtype=np.int64)
    con = duckdb.connect()
    try:
        want = con.execute("SELECT round(1 / 128.0, 6)").fetchone()[0]
    finally:
        con.close()
    assert float(want) == 0.007813
    assert _exact_jaccard(a, b) == 0.007813
    assert round(1 / 128, 6) == np.round(1 / 128, 6) == 0.007812


def test_exact_jaccard_is_symmetric():
    a = np.array([1, 4, 9, 16, 25, 36], dtype=np.int64)
    b = np.array([2, 4, 8, 16, 32], dtype=np.int64)
    assert _exact_jaccard(a, b) == _exact_jaccard(b, a) == 0.222222
    assert _exact_jaccard(a, a) == 1.0


def test_jaccard_merge_is_not_copied():
    """The searchsorted-then-count Jaccard merge appears once under
    vedb_gaze_spark/, inside _exact_jaccard."""
    pkg = Path(__file__).resolve().parents[1] / "vedb_gaze_spark"
    merge = re.compile(r"np\.searchsorted\(.*\n(?:.*\n){0,2}.*count_nonzero")
    hits = [
        f"{path.relative_to(pkg)}:{text.count(chr(10), 0, m.start()) + 1}"
        for path in sorted(pkg.rglob("*.py"))
        for text in [path.read_text()]
        for m in merge.finditer(text)
    ]
    assert len(hits) == 1 and hits[0].startswith("operators/dedup.py:"), hits
