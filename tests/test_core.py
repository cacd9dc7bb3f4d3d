"""One definition per cross-engine primitive (functions/core.py).

The portable 60-bit hash and the word tokenizer each have one form per
engine. Every form must agree on a fixed string set, and no module may
carry its own copy of either.
"""

import re
from pathlib import Path

import duckdb
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
