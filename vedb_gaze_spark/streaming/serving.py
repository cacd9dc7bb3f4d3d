"""ANN serving over a document/query stream — the foreachBatch
PQ-search job (the query-side complement of maintenance.py's
index-build job).

Production ANN serving holds a COMPRESSED index (PQ byte codes, 32×
smaller than the vectors) and answers arriving queries against it,
fetching full-precision vectors only for the few rerank candidates.
The streaming shape here is foreachBatch: per micro-batch of query
vectors, run the BATCH `_pq_search` kernel (operators/similarity.py —
shared verbatim with the `ann_pq` registry face) against the STORED
codes table, and write the answers to a batch-id-versioned directory.

Why foreachBatch and not applyInPandasWithState: per-query top-k is a
grouped sort over a static relation, not an evolving per-key state —
the natural unit is "this micro-batch of queries joined against the
stored index", which is exactly a batch plan. The codes table is read
from parquet per batch (partition-prunable, never collected to the
driver or broadcast by hand), so the index can be arbitrarily large
and sharded — the driver holds only the m·k_sub·d_sub codebook floats
(model state).

The cell-partitioned servers (IVFPQServing, IVFSQ8Serving) run ONE
probe per batch: the shared kernel's cell equi-join against its
broadcast probe lets Spark's dynamic partition pruning (DPP) put a
`dynamicpruningexpression` PartitionFilter on the codes scan, which
reuses the kernel's own broadcast, so the scan reads only the probed
cells' files and no cell ids travel through the driver.

Every stored table is read under a declared schema (a module constant
beside the writer that produces it): a read infers nothing, so it runs
no schema-inference job.

Exactly-once: output dirs are keyed by batch_id and written with
overwrite — a replayed micro-batch (crash between write and
checkpoint commit) rewrites the same directory with the same rows
(the maintenance.py idempotency contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vedb_gaze_spark.plans import params as P

_OUT_SCHEMA = (
    "query_id bigint, rank int, neighbor_id bigint, "
    "adc_score double, cosine double"
)

# write_pq_index / write_sq8_index codes, and the rerank vector store
# of write_pq_index / write_ivfpq_index
_CODES_SCHEMA = "neighbor_id bigint, codes array<int>"
_VECTORS_SCHEMA = "neighbor_id bigint, nv array<double>"


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    n_queries: int = P.ANN_N_QUERIES,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
) -> list[list[list[float]]]:
    """Build and store the serving index: train codebooks on the corpus
    (model state, returned to the caller) and persist the PQ codes and
    full-precision vectors as parquet — `codes/` is the compressed
    index the per-batch search scans; `vectors/` is the rerank store
    it fetches candidates from. One encode pass; serving never
    re-encodes."""
    from vedb_gaze_spark.operators.similarity import (
        _pq_encode_gen,
        _vecs,
        pq_train,
    )

    books = pq_train(embeddings, m=m, k_sub=k_sub, iters=iters)
    v = _vecs(embeddings)
    corpus = v.where(F.col("vec_id") >= n_queries)
    corpus.mapInPandas(
        _pq_encode_gen(books, "vec_id", "neighbor_id"),
        "neighbor_id bigint, codes array<int>",
    ).write.mode("overwrite").parquet(f"{path}/codes")
    corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    ).write.mode("overwrite").parquet(f"{path}/vectors")
    return books


class PQServing:
    """foreachBatch handler: answer each micro-batch of query vectors
    from the stored PQ index via the shared batch kernel.

    Usage::

        job = PQServing(index_path, out_dir, books)
        (query_stream.writeStream.foreachBatch(job.process)
         .trigger(availableNow=True).start())

    `query_stream` rows: (vec_id, embedding). Answers accumulate under
    ``{out_dir}/batch={id}/`` and read back via :meth:`results`.
    """

    def __init__(
        self,
        index_path: str,
        out_dir: str,
        books: list[list[list[float]]],
        k: int = P.ANN_K,
        rerank_mult: int = 8,
    ) -> None:
        self.index_path = index_path
        self.out_dir = out_dir
        self.books = books
        self.k = k
        self.rerank_mult = rerank_mult

    def process(self, batch_queries: DataFrame, batch_id: int) -> None:
        from vedb_gaze_spark.operators.similarity import _pq_search, _vecs

        spark = batch_queries.sparkSession
        queries = _vecs(batch_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        codes = spark.read.schema(_CODES_SCHEMA).parquet(
            f"{self.index_path}/codes"
        )
        full = spark.read.schema(_VECTORS_SCHEMA).parquet(
            f"{self.index_path}/vectors"
        )
        out = _pq_search(
            queries, codes, full, self.books, self.k, self.rerank_mult
        )
        out.write.mode("overwrite").parquet(
            f"{self.out_dir}/batch={batch_id}"
        )

    def results(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(_OUT_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(self.out_dir)


# write_ivfpq_index / write_ivfsq8_index: codes partitioned by cell (the
# partition column reads back last), and the coarse quantizer
_CELL_CODES_SCHEMA = _CODES_SCHEMA + ", cell int"
_CENTROIDS_SCHEMA = "cents array<array<double>>"
_CODEBOOKS_SCHEMA = "books array<array<array<double>>>"


def _read_cents(spark: SparkSession, path: str) -> list[list[float]]:
    """A stored index's coarse quantizer: its ONE `{path}/centroids`
    row of model state (n_cells·dim floats), never data rows."""
    row = spark.read.schema(_CENTROIDS_SCHEMA).parquet(
        f"{path}/centroids"
    ).collect()[0]
    return [list(map(float, c)) for c in row["cents"]]


def _read_books(spark: SparkSession, path: str) -> list[list[list[float]]]:
    """A stored IVFADC index's residual codebooks: its ONE
    `{path}/codebooks` row of model state (m·k_sub·d_sub floats)."""
    row = spark.read.schema(_CODEBOOKS_SCHEMA).parquet(
        f"{path}/codebooks"
    ).collect()[0]
    return [[list(map(float, c)) for c in book] for book in row["books"]]


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_queries: int = P.ANN_N_QUERIES,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    coarse_centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """IVFADC serving index (the ann_ivfpq layout, stored): residual PQ
    codes written PARTITIONED BY coarse cell — `codes/cell=N/` — so a
    serving batch that probes nprobe cells READS nprobe/n_cells of the
    index via parquet partition pruning, driven by the serve's own
    broadcast probe through dynamic partition pruning (the physical
    realization of the inverted file; the same partition-keyed layout
    streaming/maintenance.py uses for bucket overwrite). Rerank vectors
    stored unpartitioned (fetched by id, candidate-sized reads).

    The index is SELF-DESCRIBING: its coarse quantizer (the trained
    Lloyd's centroids, or the P.IVF_CENTROIDS default) is persisted at
    `{path}/centroids` — residual codes are meaningless under any other
    quantizer, so the server must probe and decode with exactly the
    centroids the codes were written against (IVFPQServing reads them
    from the index, never from params)."""
    from vedb_gaze_spark.operators.similarity import (
        _ivfpq_encode_gen,
        _vecs,
        pq_train,
    )

    cents = [
        list(map(float, c))
        for c in (coarse_centroids
                  if coarse_centroids is not None else P.IVF_CENTROIDS)
    ]
    books = pq_train(
        embeddings, m=m, k_sub=k_sub, iters=iters, coarse_centroids=cents
    )
    v = _vecs(embeddings)
    corpus = v.where(F.col("vec_id") >= n_queries)
    corpus.mapInPandas(
        _ivfpq_encode_gen(books, cents),
        "neighbor_id bigint, cell int, codes array<int>",
    ).write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    ).write.mode("overwrite").parquet(f"{path}/vectors")
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(cents,)], _CENTROIDS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [([[list(map(float, c)) for c in book] for book in books],)],
        _CODEBOOKS_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    return books


def append_ivfpq_index(embeddings_new: DataFrame, path: str) -> None:
    """Grow a stored IVFADC index by a batch of NEW vectors WITHOUT
    rewriting it — the ANN-index twin of the gram index's
    append_gram_index (and the last step of the production index
    lifecycle: train → store → serve → GROW). New vectors are encoded
    with the index's OWN stored quantizer and codebooks (never
    retrained — residual codes must stay commensurable with the rows
    already in the index; periodic retraining is a REBUILD, by design),
    then appended under the same cell partitioning: only probed cells'
    directories gain files, every pre-existing file stays
    byte-identical, and the rerank vector store grows by the same rows.

    Idempotent by construction: an anti-join on neighbor_id against the
    stored codes drops vectors already indexed, so replaying a batch
    whose append committed adds nothing. ALL input rows are treated as
    corpus vectors — the caller owns query/corpus splits."""
    from vedb_gaze_spark.operators.similarity import (
        _ivfpq_encode_gen,
        _vecs,
    )

    spark = embeddings_new.sparkSession
    cents = _read_cents(spark, path)
    books = _read_books(spark, path)
    existing = (
        spark.read.schema(_CELL_CODES_SCHEMA)
        .parquet(f"{path}/codes")
        .select("neighbor_id")
    )
    fresh = (
        _vecs(embeddings_new)
        .select(F.col("vec_id"), F.col("v"))
        .join(
            existing.select(F.col("neighbor_id").alias("vec_id")),
            "vec_id",
            "left_anti",
        )
        .persist()
    )
    fresh.mapInPandas(
        _ivfpq_encode_gen(books, cents),
        "neighbor_id bigint, cell int, codes array<int>",
    ).write.mode("append").partitionBy("cell").parquet(f"{path}/codes")
    fresh.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    ).write.mode("append").parquet(f"{path}/vectors")
    fresh.unpersist()


class IVFPQServing:
    """foreachBatch handler over the cell-partitioned IVFADC index:
    per micro-batch, run the shared _ivfpq_search kernel over the whole
    codes relation. The kernel probes the batch's queries once (numpy
    over the bounded query set) and equi-joins the codes on `cell`
    against that broadcast probe, so dynamic partition pruning reads
    only the probed cells' files. Same idempotent batch-id-versioned
    output contract as PQServing. The driver holds codebooks and coarse
    centroids — model state, never rows or cell ids."""

    def __init__(
        self,
        index_path: str,
        out_dir: str,
        books: list[list[list[float]]] | None = None,
        k: int = P.ANN_K,
        nprobe: int = P.IVF_PROBES,
        rerank_mult: int = 8,
    ) -> None:
        self.index_path = index_path
        self.out_dir = out_dir
        self.books = books  # None → load the index's stored codebooks
        self.k = k
        self.nprobe = nprobe
        self.rerank_mult = rerank_mult
        self._cents: list[list[float]] | None = None

    def _load_books(self, spark: SparkSession) -> list[list[list[float]]]:
        """The index's stored residual codebooks ({path}/codebooks,
        written by write_ivfpq_index) when none were handed in — model
        state (m·k_sub·d_sub floats), loaded once per job."""
        if self.books is None:
            self.books = _read_books(spark, self.index_path)
        return self.books

    def _load_cents(self, spark: SparkSession) -> list[list[float]]:
        """The index's OWN coarse quantizer (`{path}/centroids`,
        written by write_ivfpq_index) — residual codes only decode
        under the centroids they were encoded against. Falls back to
        the P.IVF_CENTROIDS literals for pre-r8 indexes that did not
        persist theirs (which were always written with the literals):
        the declared-schema read of the missing directory raises
        PATH_NOT_FOUND. Model state: n_cells·dim floats, loaded once
        per job."""
        if self._cents is None:
            from pyspark.errors import AnalysisException

            try:
                self._cents = _read_cents(spark, self.index_path)
            except AnalysisException:
                self._cents = [list(map(float, c)) for c in P.IVF_CENTROIDS]
        return self._cents

    def probed_codes(
        self, spark: SparkSession, queries: DataFrame
    ) -> DataFrame:
        """The codes a serve of `queries` reads: the probed cells'
        partitions, found by collecting the probed CELL IDS (≤ n_cells
        ints) and filtering the partition column. Not on the serve
        path — process prunes through the kernel's own broadcast probe
        (dynamic partition pruning) and reads the same partitions; this
        runs a second probe to show which ones."""
        from vedb_gaze_spark.operators.similarity import _ivf_probe

        cents = self._load_cents(spark)
        cells = sorted(
            {
                r["cell"]
                for r in _ivf_probe(queries, cents, self.nprobe)
                .select("cell")
                .distinct()
                .collect()
            }
        )
        codes = spark.read.schema(_CELL_CODES_SCHEMA).parquet(
            f"{self.index_path}/codes"
        )
        return codes.where(F.col("cell").isin([int(c) for c in cells]))

    def _answers(self, batch_queries: DataFrame) -> DataFrame:
        """The answer plan of one micro-batch (what process writes)."""
        from vedb_gaze_spark.operators.similarity import (
            _ivfpq_search,
            _vecs,
        )

        spark = batch_queries.sparkSession
        queries = _vecs(batch_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        codes = spark.read.schema(_CELL_CODES_SCHEMA).parquet(
            f"{self.index_path}/codes"
        )
        full = spark.read.schema(_VECTORS_SCHEMA).parquet(
            f"{self.index_path}/vectors"
        )
        return _ivfpq_search(
            queries, codes, full, self._load_books(spark),
            self._load_cents(spark), self.k, self.nprobe, self.rerank_mult,
        )

    def process(self, batch_queries: DataFrame, batch_id: int) -> None:
        self._answers(batch_queries).write.mode("overwrite").parquet(
            f"{self.out_dir}/batch={batch_id}"
        )

    def results(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(_OUT_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(self.out_dir)


# write_sq8_index / write_ivfsq8_index stats: the quantizer, and
# whether the index's codes carry each vector's label (`nlbl`)
_STATS_SCHEMA = "mn array<double>, mx array<double>, labeled boolean"


def _write_stats(
    spark: SparkSession,
    stats: list[tuple[float, float]],
    labeled: bool,
    path: str,
) -> None:
    spark.createDataFrame(
        [([float(mn) for mn, _ in stats], [float(mx) for _, mx in stats], labeled)],
        _STATS_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def _read_stats(
    spark: SparkSession, path: str
) -> tuple[list[tuple[float, float]], bool]:
    """A stored SQ8 index's quantizer and whether its codes carry labels:
    its ONE `{path}/stats` row of model state (per-dim min/max), never
    data rows. `labeled` is null, so False, in an index written before
    the flag was stored."""
    row = spark.read.schema(_STATS_SCHEMA).parquet(f"{path}/stats").collect()[0]
    return list(zip(map(float, row["mn"]), map(float, row["mx"]))), bool(row["labeled"])


def write_sq8_index(
    embeddings: DataFrame, path: str, n_queries: int = P.ANN_N_QUERIES
) -> list[tuple[float, float]]:
    """Build and store the SQ8 serving index: per-dim (min, max) stats
    (the whole model — two order statistics per dimension) and the 8-bit
    codes. SELF-DESCRIBING like the IVFPQ index: `{path}/stats` holds
    the quantizer beside `{path}/codes`, so a server needs only the
    path. 4× smaller than the float32 vectors; no rerank store — SQ8
    answers are ADC scores (operators/similarity.py:ann_sq8)."""
    from vedb_gaze_spark.operators.similarity import sq8_encode, sq8_stats

    stats = sq8_stats(embeddings)
    _write_stats(embeddings.sparkSession, stats, False, path)
    (
        sq8_encode(embeddings, stats)
        .where(F.col("vec_id") >= n_queries)
        .select(F.col("vec_id").alias("neighbor_id"), "codes")
        .write.mode("overwrite")
        .parquet(f"{path}/codes")
    )
    return stats


class SQ8Serving:
    """foreachBatch handler: answer each micro-batch of query vectors
    from the stored SQ8 index via the shared _sq8_search kernel — the
    PQServing pattern at the SQL-oracled end of the compression family.

    Exactly-once: batch-id-keyed overwrite directories (the
    maintenance.py idempotency contract)."""

    def __init__(
        self, index_path: str, out_dir: str, k: int = P.ANN_K
    ) -> None:
        self.index_path = index_path
        self.out_dir = out_dir
        self.k = k
        self._stats: list[tuple[float, float]] | None = None

    def _load_stats(self, spark: SparkSession) -> list[tuple[float, float]]:
        """The index's own quantizer ({path}/stats — ONE row of model
        state: per-dim min/max), loaded once per job, never data rows."""
        if self._stats is None:
            self._stats, _ = _read_stats(spark, self.index_path)
        return self._stats

    def process(self, batch_queries: DataFrame, batch_id: int) -> None:
        from vedb_gaze_spark.operators.similarity import _sq8_search, _vecs

        spark = batch_queries.sparkSession
        stats = self._load_stats(spark)
        queries = _vecs(batch_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        codes = spark.read.schema(_CODES_SCHEMA).parquet(
            f"{self.index_path}/codes"
        )
        out = _sq8_search(queries, codes, stats, self.k)
        out.write.mode("overwrite").parquet(
            f"{self.out_dir}/batch={batch_id}"
        )

    def results(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(
            "query_id bigint, rank int, neighbor_id bigint, score_sq8 double"
        ).option("recursiveFileLookup", "true").parquet(self.out_dir)


# write_ivfsq8_index(with_labels=True) codes: each vector's label rides
# beside its codes
_LABELED_CELL_CODES_SCHEMA = _CODES_SCHEMA + ", nlbl int, cell int"


def write_ivfsq8_index(
    embeddings: DataFrame,
    path: str,
    n_queries: int = P.ANN_N_QUERIES,
    cents: list[list[float]] | None = None,
    with_labels: bool = False,
) -> list[tuple[float, float]]:
    """IVF+SQ8 serving index: 8-bit codes PARTITIONED BY coarse cell
    (`codes/cell=N/` — the write_ivfpq_index layout at the SQL-green
    end of the family) with the SELF-DESCRIBING model beside them:
    `{path}/stats` (per-dim min/max) and `{path}/centroids` (the coarse
    quantizer the cells were assigned under).

    ``with_labels`` (r12): persist each vector's label beside its codes
    (`nlbl`) so hard-negative MINING can run cell-pruned over the
    stored index (mine_hard_negatives_ivfsq8's serving path) — the
    label gate then filters the scored stream without any join back to
    the raw corpus. The stats row records the choice (`labeled`), so
    append_ivfsq8_index labels what it appends."""
    from vedb_gaze_spark.operators.similarity import sq8_stats

    cents = [
        list(map(float, c))
        for c in (cents if cents is not None else P.IVF_CENTROIDS)
    ]
    stats = sq8_stats(embeddings)
    (
        _ivfsq8_rows(
            embeddings.where(F.col("vec_id") >= n_queries),
            stats,
            cents,
            with_labels,
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    spark = embeddings.sparkSession
    _write_stats(spark, stats, with_labels, path)
    spark.createDataFrame(
        [(cents,)], _CENTROIDS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return stats


def _ivfsq8_rows(
    embeddings: DataFrame,
    stats: list[tuple[float, float]],
    cents: list[list[float]],
    labeled: bool,
) -> DataFrame:
    """The stored IVF+SQ8 codes rows of embedding rows: neighbor_id,
    the 8-bit codes, `nlbl` on a labeled index, and the coarse cell.
    The one row encoder of write_ivfsq8_index and append_ivfsq8_index,
    so an appended row carries what a written one does."""
    from vedb_gaze_spark.operators.similarity import (
        _dots_expr_for,
        _sq8_codes_expr,
    )

    v = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        *([F.col("label").cast("int").alias("nlbl")] if labeled else []),
    )
    return v.withColumn("dots", F.expr(_dots_expr_for(cents, "v"))).select(
        F.col("vec_id").alias("neighbor_id"),
        _sq8_codes_expr(stats).alias("codes"),
        *(["nlbl"] if labeled else []),
        (F.expr("array_position(dots, array_max(dots))") - 1)
        .cast("int")
        .alias("cell"),
    )


class IVFSQ8Serving:
    """foreachBatch handler over the cell-partitioned IVF+SQ8 index:
    per micro-batch, probe the queries with the ROUNDED dot ranking
    (the batch face's own probe — engine-stable ties) and run the
    shared _ivf_sq8_search kernel over the whole codes relation; its
    cell equi-join against the broadcast probe lets dynamic partition
    pruning read only the probed cells' files. Batch-id-versioned
    idempotent output, like every server here."""

    def __init__(
        self,
        index_path: str,
        out_dir: str,
        k: int = P.ANN_K,
        nprobe: int = P.IVF_PROBES,
        mine_labels: bool = False,
    ) -> None:
        self.index_path = index_path
        self.out_dir = out_dir
        self.k = k
        self.nprobe = nprobe
        # r12: hard-negative MINING mode — requires an index written
        # with_labels=True; each query micro-batch carries its label,
        # the label-inequality gate rides the shared kernel's
        # pair_filter, and answers add (query_label, neighbor_label).
        self.mine_labels = mine_labels
        self._stats: list[tuple[float, float]] | None = None
        self._cents: list[list[float]] | None = None

    def _load_stats(self, spark: SparkSession) -> list[tuple[float, float]]:
        """The index's stored quantizer stats (ONE row of model state)."""
        if self._stats is None:
            self._stats, _ = _read_stats(spark, self.index_path)
        return self._stats

    def _load_cents(self, spark: SparkSession) -> list[list[float]]:
        """The index's OWN coarse quantizer (one row of model state)."""
        if self._cents is None:
            self._cents = _read_cents(spark, self.index_path)
        return self._cents

    def _codes(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(
            _LABELED_CELL_CODES_SCHEMA if self.mine_labels
            else _CELL_CODES_SCHEMA
        ).parquet(f"{self.index_path}/codes")

    def probed_codes(
        self, spark: SparkSession, probed: DataFrame
    ) -> DataFrame:
        """The codes a serve of an already-probed query batch reads:
        the probed cells' partitions, found by collecting the probed
        CELL IDS (≤ n_cells ints) and filtering the partition column.
        Not on the serve path — process prunes through the kernel's own
        broadcast probe (dynamic partition pruning)."""
        cells = sorted(
            {
                int(r["cell"])
                for r in probed.select("cell").distinct().collect()
            }
        )
        return self._codes(spark).where(F.col("cell").isin(cells))

    def _answers(self, batch_queries: DataFrame) -> DataFrame:
        """The answer plan of one micro-batch (what process writes)."""
        from vedb_gaze_spark.operators.similarity import (
            _ivf_sq8_probe,
            _ivf_sq8_search,
            _vecs,
        )

        spark = batch_queries.sparkSession
        if self.mine_labels:
            lab = batch_queries.select(
                F.col("vec_id").alias("_lid"),
                F.col("label").cast("int").alias("qlbl"),
            )
            v = _vecs(batch_queries)
            queries = (
                v.join(lab, v["vec_id"] == lab["_lid"])
                .drop("_lid")
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                    "qlbl",
                )
            )
        else:
            queries = _vecs(batch_queries).select(
                F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
            )
        probed = _ivf_sq8_probe(
            queries, self._load_cents(spark), self.nprobe
        )
        codes = self._codes(spark)
        if not self.mine_labels:
            return _ivf_sq8_search(
                probed, codes, self._load_stats(spark), self.k
            )
        return _ivf_sq8_search(
            probed,
            codes,
            self._load_stats(spark),
            self.k,
            pair_filter=F.col("nlbl") != F.col("qlbl"),
            extra=[("qlbl", "int"), ("nlbl", "int")],
        ).select(
            "query_id",
            "rank",
            "neighbor_id",
            "score_sq8",
            F.col("qlbl").alias("query_label"),
            F.col("nlbl").alias("neighbor_label"),
        )

    def process(self, batch_queries: DataFrame, batch_id: int) -> None:
        self._answers(batch_queries).write.mode("overwrite").parquet(
            f"{self.out_dir}/batch={batch_id}"
        )

    def results(self, spark: SparkSession) -> DataFrame:
        schema = (
            "query_id bigint, rank int, neighbor_id bigint, score_sq8 double"
        )
        if self.mine_labels:
            schema += ", query_label int, neighbor_label int"
        return spark.read.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(self.out_dir)


def append_ivfsq8_index(embeddings_new: DataFrame, path: str) -> None:
    """Grow a stored IVF+SQ8 index without rewriting it (the
    append_ivfpq_index contract at the SQL-green end): encode the new
    vectors with the index's OWN stored stats + centroids (codes are
    meaningless under any other quantizer), anti-join out already-
    indexed ids (idempotent replay), and APPEND under the same cell
    partitioning — pre-existing files byte-identical, served answers
    over the grown index ≡ the shared kernel over old ∪ new. On an
    index written with labels, the new rows carry `nlbl` too (read
    from `embeddings_new`'s `label`)."""
    spark = embeddings_new.sparkSession
    stats, labeled = _read_stats(spark, path)
    cents = _read_cents(spark, path)
    existing = (
        spark.read.schema(_CELL_CODES_SCHEMA)
        .parquet(f"{path}/codes")
        .select("neighbor_id")
    )
    fresh = embeddings_new.join(
        existing, embeddings_new["vec_id"] == existing["neighbor_id"], "left_anti"
    )
    _ivfsq8_rows(fresh, stats, cents, labeled).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")


# write_label_centroids: the per-label centroid model
_LABEL_CENTROIDS_SCHEMA = "label int, cv array<double>, n_vecs bigint"


def write_label_centroids(embeddings: DataFrame, path: str) -> None:
    """Build and store the frozen per-label centroid model of the
    label_separation report (operators/similarity.py:label_centroids):
    `{path}/centroids` holds (label, cv, n_vecs) — labels-sized model
    state, the whole index. SELF-DESCRIBING like every stored index in
    this module: a scorer needs only the path."""
    from vedb_gaze_spark.operators.similarity import label_centroids

    label_centroids(embeddings).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


class LabelSeparationServing:
    """foreachBatch handler: score each embedding micro-batch against
    the FROZEN stored label centroids (r9 verdict #8 — the streaming
    twin of the label_separation report's member half): per vector,
    cosine to its own label's centroid, the best other label, and the
    margin. The centroids load once (labels-sized model state, never
    data rows) and compile into literal row-local expressions
    (score_label_margins) — a batch scores at scan speed with no join
    and no shuffle, the nb_lang_id frozen-model discipline.

    The REPORT half (per-label intra_mean_cos) is the quantized mean
    of these per-member rows — parity-pinned in tests/test_streaming.py
    against batch label_separation. The centroid-vs-centroid half
    (nn over centroids) is labels²-sized metadata: recompute it from
    the stored centroids whenever wanted; it needs no stream.

    Exactly-once: batch-id-keyed overwrite directories (the
    maintenance.py idempotency contract)."""

    def __init__(self, index_path: str, out_dir: str) -> None:
        self.index_path = index_path
        self.out_dir = out_dir
        self._cents: list[tuple[int, list[float]]] | None = None

    def _load(self, spark: SparkSession) -> list[tuple[int, list[float]]]:
        if self._cents is None:
            self._cents = [
                (int(r["label"]), [float(x) for x in r["cv"]])
                for r in spark.read.schema(_LABEL_CENTROIDS_SCHEMA)
                .parquet(f"{self.index_path}/centroids")
                .collect()
            ]
        return self._cents

    def process(self, batch: DataFrame, batch_id: int) -> None:
        from vedb_gaze_spark.operators.similarity import score_label_margins

        cents = self._load(batch.sparkSession)
        score_label_margins(batch, cents).write.mode("overwrite").parquet(
            f"{self.out_dir}/batch={batch_id}"
        )

    def results(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(
            "vec_id bigint, label int, own_cos double, "
            "nn_label int, nn_cos double, margin double"
        ).option("recursiveFileLookup", "true").parquet(self.out_dir)
