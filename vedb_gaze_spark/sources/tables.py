"""Parquet table registry.

Replaces the reference's per-session file loaders (vedb_gaze/utils.py:12
``read_pl_gaze_csv``, odometry.py:27 ``load_odometry`` msgpack reader) with
a single declarative parquet source: Catalyst gets pushdown + pruning for
free, and a 100 TB deployment points ``sf_dir`` at a partitioned lake path
instead of a local directory — nothing else changes.

Every table is read under the schema of its parquet footer, read on the
driver and converted by Spark's own ``ParquetToSparkSchemaConverter``
(``_read_parquet``), so loading a table runs no job; an undeclared read
runs a one-task schema-inference job per call.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables that should always be broadcast when joined.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def _first_data_file(fs, path):
    """``path`` itself if it is a file; else the first file under it in
    name order, skipping names that start with ``_`` or ``.``, or None if
    there is none. This is a simplified copy of how Spark's non-merging
    inference picks its one footer, not Spark's own rule: Spark prefers a
    ``_common_metadata`` then a ``_metadata`` summary file, keeps ``_k=v``
    partition directories, and takes the first data file in listing
    order. None of the tables here has a summary file or such a
    directory."""
    if not fs.exists(path):
        return None
    if not fs.getFileStatus(path).isDirectory():
        return path
    kids = sorted(
        (s.getPath() for s in fs.listStatus(path)),
        key=lambda p: p.getName(),
    )
    for kid in kids:
        if not kid.getName().startswith(("_", ".")):
            found = _first_data_file(fs, kid)
            if found is not None:
                return found
    return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under the schema of one parquet
    footer, read on the driver, so the read runs no job (an undeclared
    read runs a one-task schema-inference job). The footer is picked by
    ``_first_data_file``; its conversion is Spark's own code, the one its
    inference runs: ``ParquetFileFormat.readSchemaFromFooter`` prefers
    the Spark row metadata a Spark writer leaves in the footer, and a
    ``ParquetToSparkSchemaConverter`` built from the session's SQLConf
    converts the rest (honoring ``nanosAsLong`` and ``inferTimestampNTZ``
    as they are set now). A path with no data file is read undeclared,
    so Spark raises its own error (``PATH_NOT_FOUND``,
    ``UNABLE_TO_INFER_SCHEMA``)."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hadoop = state.newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    file = _first_data_file(root.getFileSystem(hadoop), root)
    if file is None:
        return spark.read.parquet(path)
    pq = jvm.org.apache.parquet.hadoop
    reader = pq.ParquetFileReader.open(pq.util.HadoopInputFile.fromPath(file, hadoop))
    try:
        footer = pq.Footer(file, reader.getFooter())
    finally:
        reader.close()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = parquet.ParquetToSparkSchemaConverter(state.conf())
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(path)


def _set_events_confs(spark: SparkSession) -> None:
    # events.parquet is regenerated from time to time and its ts
    # physical type has varied: TIMESTAMP(NANOS) (which Spark's
    # vectorized reader rejects) and TIMESTAMP(MICROS, isAdjustedToUTC=
    # false) (which Spark 4 infers as TIMESTAMP_NTZ — rejected by
    # unix_micros and hash-hazardous because NTZ→LTZ casts depend on the
    # session time zone). Normalize both at the source:
    #  - nanosAsLong reads NANOS as raw int64, truncated to micros by
    #    _micros_ts;
    #  - inferTimestampNTZ=false makes the reader surface naive MICROS
    #    as TIMESTAMP_LTZ carrying the exact stored micros-since-epoch —
    #    bit-identical to DuckDB's epoch interpretation of the same
    #    column, independent of any session's time zone.
    # Both are runtime SQLConfs, safe to set on any session; the footer
    # converter reads them, so they are set before the schema is read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def _micros_ts(df: DataFrame) -> DataFrame:
    """A NANOS ``ts`` read as raw int64 becomes a micros TIMESTAMP."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Table ``name`` of ``sf_dir``, read under the schema of its parquet
    footer (read on the driver through Spark's converter, so the call runs
    no job); ``events`` has its ts normalized to a micros TIMESTAMP."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        _set_events_confs(spark)
        return _micros_ts(_read_parquet(spark, path))
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def load_events_stream(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Streaming twin of ``load_table(spark, "events")``.

    File-source streams require an explicit schema. It is the one
    ``load_table`` reads: the footer's, read on the driver through Spark's
    converter after the events confs are set, so it is already the raw
    layout — ``ts bigint`` for TIMESTAMP(NANOS), ``ts timestamp`` for
    naive TIMESTAMP(MICROS) — and the same ts fix-up follows. Either way
    the stream's schema equals ``load_table``'s, so every batch operator
    composes over this source unchanged. Declaring the stream runs no job.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    _set_events_confs(spark)
    raw = _read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    df = (
        spark.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _micros_ts(df)
