"""Source-edge tests: the pupil-labs CSV ingest reader."""

import os


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(str(v) for v in r) + "\n")


def test_read_gaze_csv_by_name_with_extras_and_reorder(spark, tmp_path):
    """Columns must bind by NAME: a reordered header with extra exporter
    columns still reads correctly, and a missing canonical column
    surfaces as typed nulls (pd.read_csv name semantics, distributed)."""
    from vedb_gaze_spark.sources.plab_csv import gaze_csv_path, read_gaze_csv

    session = str(tmp_path / "sess")
    path = gaze_csv_path(session, 0)
    assert path.endswith(os.path.join("exports", "000", "gaze_positions.csv"))
    # reordered vs canonical, one extra column, gaze_point_3d_* missing
    _write_csv(
        path,
        ["confidence", "gaze_timestamp", "extra_col", "norm_pos_x",
         "norm_pos_y", "world_index", "base_data"],
        [
            [0.98, 1234.5, "x", 0.25, 0.75, 7, "eye0"],
            [0.10, 1235.0, "y", 0.50, 0.50, 8, "eye1"],
        ],
    )
    df = read_gaze_csv(spark, session, 0)
    assert [f.name for f in df.schema.fields][:4] == [
        "gaze_timestamp", "world_index", "confidence", "norm_pos_x",
    ]
    rows = {r.world_index: r for r in df.collect()}
    assert rows[7].gaze_timestamp == 1234.5
    assert rows[7].confidence == 0.98
    assert rows[8].norm_pos_x == 0.5
    assert rows[7].base_data == "eye0"
    assert rows[7].gaze_point_3d_x is None
    assert "extra_col" not in df.columns
    # types are enforced, not inferred
    assert dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[
        "world_index"
    ] == "bigint"


def test_events_loader_normalizes_both_ts_layouts(spark, tmp_path):
    """The driver has shipped events.parquet with TIMESTAMP(NANOS) and
    with naive TIMESTAMP(MICROS) across rounds; batch and streaming
    loaders must surface the SAME micros-since-epoch instants for both
    layouts, independent of session time zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_events_stream, load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([0, 0], pa.int64()),
        "event_type": pa.array(["view", "click"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["", ""]),
    }
    for unit, vals in (
        ("ns", [m * 1000 for m in micros]),
        ("us", micros),
    ):
        d = str(tmp_path / unit)
        import os

        os.makedirs(d)
        tbl = pa.table({**base, "ts": pa.array(vals, pa.timestamp(unit))})
        pq.write_table(tbl, os.path.join(d, "events.parquet"))
        got = {
            r.event_id: r.us
            for r in load_table(spark, "events", d)
            .select("event_id", F.unix_micros("ts").alias("us"))
            .collect()
        }
        assert got == {1: micros[0], 2: micros[1]}, (unit, got)
        q = (
            load_events_stream(spark, d)
            .select("event_id", F.unix_micros("ts").alias("us"))
            .writeStream.format("memory")
            .queryName(f"mem_ts_{unit}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        try:
            got_s = {
                r.event_id: r.us
                for r in spark.sql(f"SELECT * FROM mem_ts_{unit}").collect()
            }
            assert got_s == got, (unit, got_s)
        finally:
            q.stop()


def test_load_table_runs_no_job_and_infers_the_same_schema(spark, sf_dir, tmp_path):
    """load_table reads each table's schema from its parquet footer on
    the driver: the call runs no job, and the schema and rows equal an
    inferring read's (with the same events ts fix-up), for every table
    and for the footer layouts an inferring read handles differently."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType, StructField, StructType

    from vedb_gaze_spark.sources.tables import TABLES, load_table
    from vedb_gaze_spark.tracing import trace

    def check(name, d, rows=False):
        t = trace(spark, lambda: load_table(spark, name, d))
        inferred = spark.read.parquet(os.path.join(d, f"{name}.parquet"))
        if dict(inferred.dtypes).get("ts") == "bigint":  # a NANOS events ts
            inferred = inferred.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        assert t.jobs == 0, (d, name, t.jobs)
        assert t.result.schema == inferred.schema, (d, name)
        if rows:
            assert sorted(t.result.collect()) == sorted(inferred.collect()), (d, name)

    for name in TABLES:
        check(name, sf_dir)

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    for unit, vals in (("ns", [m * 1000 for m in micros]), ("us", micros)):
        d = str(tmp_path / unit)
        os.makedirs(d)
        ts = pa.array(vals, pa.timestamp(unit))
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}),
            os.path.join(d, "events.parquet"),
        )
        check("events", d, rows=True)

    d = str(tmp_path / "required")
    os.makedirs(d)
    required = pa.schema([pa.field("r_regionkey", pa.int64(), nullable=False),
                          pa.field("r_name", pa.string())])
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["a", None]}, schema=required),
        os.path.join(d, "region.parquet"),
    )
    check("region", d, rows=True)

    # Spark's writer keeps its row metadata (here a field comment) in the
    # footer, and a directory table carries a _SUCCESS marker to skip.
    d = str(tmp_path / "spark")
    commented = StructType([StructField("o_orderkey", LongType(), True,
                                        {"comment": "order id"})])
    spark.createDataFrame([(1,), (2,)], commented).coalesce(1).write.parquet(
        os.path.join(d, "orders.parquet")
    )
    check("orders", d, rows=True)
    assert load_table(spark, "orders", d).schema["o_orderkey"].metadata == {
        "comment": "order id"
    }

    d = str(tmp_path / "two_files")
    table = os.path.join(d, "customer.parquet")
    os.makedirs(table)
    for i in (0, 1):
        pq.write_table(
            pa.table({"c_custkey": pa.array([i], pa.int64())}),
            os.path.join(table, f"part-{i}.parquet"),
        )
    open(os.path.join(table, "_SUCCESS"), "w").close()
    check("customer", d, rows=True)
    assert load_table(spark, "customer", d).count() == 2

    # A partitioned lake table: the partition column still comes from
    # the path, not the footer.
    d = str(tmp_path / "partitioned")
    spark.range(6).selectExpr("id AS n_nationkey", "id % 2 AS n_regionkey").write.partitionBy(
        "n_regionkey"
    ).parquet(os.path.join(d, "nation.parquet"))
    check("nation", d, rows=True)

    # No data file to read a footer from: Spark's own read raises.
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, "nation", str(tmp_path / "missing"))


def test_pii_scrub_redacts_planted_pii_identically_to_oracle(spark, duck):
    """The corpus has no PII, so the gate only proves the no-op. Plant
    real emails/phones/IPs and verify (a) every class is redacted with
    the right token and counted, (b) Spark's Java regex and DuckDB's RE2
    produce byte-identical scrubbed text — the shared-subset contract
    the patterns were written for."""
    from vedb_gaze_spark.operators.text import pii_scrub
    from vedb_gaze_spark.plans import oracles

    rows = [
        (1, "contact jane.doe+spam@example.co.uk or bob@x.io today"),
        (2, "call 555-123-4567 or 555.987.6543 x9"),
        (3, "server at 10.0.0.1 and 192.168.255.254 down"),
        (4, "mixed: a@b.com then 123-456-7890 at 8.8.8.8"),
        (5, "clean text with no personal data at all"),
        (6, "decimals 3.14 and versions 1.2.3 must survive"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].n_email == 2 and "<EMAIL>" in got[1].clean_text
    assert "jane" not in got[1].clean_text and "@" not in got[1].clean_text
    assert got[2].n_phone == 2 and got[2].clean_text.count("<PHONE>") == 2
    assert got[3].n_ip == 2 and got[3].clean_text.count("<IP>") == 2
    assert got[4].n_email == 1 and got[4].n_phone == 1 and got[4].n_ip == 1
    assert got[5].clean_text == rows[4][1]  # untouched
    assert "3.14" in got[6].clean_text and "1.2.3" in got[6].clean_text

    con = duck.cursor()
    con.execute("CREATE OR REPLACE TABLE _pii(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO _pii VALUES (?, ?)", rows)
    sql = oracles.PII_SCRUB.replace("FROM documents", "FROM _pii")
    want = {r[0]: r for r in con.execute(sql).fetchall()}
    for i, r in got.items():
        assert (r.doc_id, r.n_email, r.n_phone, r.n_ip, r.clean_text) == want[i], i


def test_jsonl_ingest_parses_and_quarantines(spark, tmp_path):
    """Schema-enforced JSONL ingest: clean lines parse into typed
    columns, malformed lines land whole in the quarantine column with
    nothing silently dropped."""
    from vedb_gaze_spark.sources.jsonl import read_documents_jsonl, split_quarantine

    p = tmp_path / "dump.jsonl"
    lines = [
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0"}',
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "s1"}',
        '{"doc_id": 3, "text": "truncated',              # corrupt JSON
        'not json at all',                                # corrupt
        '{"doc_id": 4, "text": null, "lang": "de", "source": "s0"}',
    ]
    p.write_text("\n".join(lines) + "\n")
    clean, bad, cached = split_quarantine(read_documents_jsonl(spark, str(p)))
    crows = {r["doc_id"]: r for r in clean.collect()}
    assert set(crows) == {1, 2, 4}
    assert crows[1]["text"] == "hello world" and crows[2]["lang"] == "fr"
    assert crows[4]["text"] is None                       # null ≠ corrupt
    brows = [r[0] for r in bad.collect()]
    assert len(brows) == 2
    assert any("truncated" in b for b in brows)
    assert any(b.strip() == "not json at all" for b in brows)
    # lossless: every input line is accounted for exactly once
    assert clean.count() + bad.count() == len(lines)
    # the returned handle evicts the ingest-batch cache — repeated
    # ingest calls must not accumulate executor storage for the session
    assert cached.storageLevel.useMemory
    cached.unpersist(blocking=True)
    assert not cached.storageLevel.useMemory


def test_partitioned_writer_layout_and_pruning(spark, sf_dir, tmp_path):
    """write_partitioned gives hive-style dirs per partition value; a
    reader filtering one language hits partition pruning (the scan's
    partition count shrinks) and round-trips identical rows."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import write_partitioned

    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "part_docs")
    write_partitioned(docs, path, partition_cols=("lang",))
    import os

    dirs = {d for d in os.listdir(path) if d.startswith("lang=")}
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert dirs == {f"lang={l}" for l in langs}
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    one = back.where(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the lang predicate must land in PartitionFilters (directory-level
    # pruning), not merely PushedFilters — if partitionBy were dropped,
    # lang becomes a data column and this assertion fails
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert "= en)" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert one.count() == docs.where(F.col("lang") == "en").count()
    got = {tuple(r) for r in one.select("doc_id", "text").collect()}
    want = {
        tuple(r)
        for r in docs.where(F.col("lang") == "en").select("doc_id", "text").collect()
    }
    assert got == want


def test_training_shard_writer_orders_packs(spark, sf_dir, tmp_path):
    """write_training_shards: per-source dirs, rows inside each file
    already in (shard, pack_id, doc_id) order — a trainer streams packs
    with no read-side sort."""
    from vedb_gaze_spark.plans.pipeline import corpus_pipeline
    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import write_training_shards

    packed = corpus_pipeline(load_table(spark, "documents", sf_dir))
    path = str(tmp_path / "shards")
    write_training_shards(packed, path)
    import glob

    files = glob.glob(path + "/source=*/*.parquet")
    assert files
    import pyarrow.parquet as pq

    for f in files[:5]:
        t = pq.read_table(f).to_pydict()
        order = list(zip(t["shard"], t["pack_id"], t["doc_id"]))
        assert order == sorted(order), f
    back = spark.read.parquet(path)
    assert back.count() == packed.count()


def test_compact_table_bounds_file_count(spark, sf_dir, tmp_path):
    """Compaction must collapse a many-small-files table to
    ceil(bytes/target) files with identical content."""
    import glob
    import os

    from vedb_gaze_spark.sources.writers import compact_table
    from vedb_gaze_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "frag")
    ev.repartition(64).write.parquet(src)  # 64 fragment files
    assert len(glob.glob(os.path.join(src, "*.parquet"))) >= 32

    target = 4 * 1024 * 1024
    dst = compact_table(spark, src, target_bytes=target)
    n_out = len(glob.glob(os.path.join(dst, "*.parquet")))
    import math

    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(src, "**"), recursive=True)
        if os.path.isfile(f)
    )
    want_files = max(1, math.ceil(total / target))
    # contentSummary counts _SUCCESS/.crc sidecars too; allow +1 file
    assert want_files <= n_out <= want_files + 1, (n_out, want_files)
    assert n_out < 16  # and it actually compacted the 64 fragments
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dst).collect()}
    assert a == b


def test_tar_shards_roundtrip_lossless(spark, sf_dir, tmp_path):
    """WebDataset-style shards: write → read must reproduce every
    (doc_id, text) row exactly (empty-string for NULL text documented),
    shard files must be the expected count, and shard bytes must be
    deterministic (two writes → identical md5s)."""
    import glob
    import hashlib
    import os

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.tarshards import (
        read_tar_shards,
        write_tar_shards,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    p1 = str(tmp_path / "shards1")
    write_tar_shards(docs, p1, docs_per_shard=100)
    n_docs = docs.count()
    max_id = docs.agg({"doc_id": "max"}).collect()[0][0]
    assert len(glob.glob(os.path.join(p1, "*.tar"))) == max_id // 100 + 1

    back = {(r.doc_id, r.text) for r in read_tar_shards(spark, p1).collect()}
    want = {(r.doc_id, r.text or "") for r in docs.collect()}
    assert back == want and len(want) == n_docs

    p2 = str(tmp_path / "shards2")
    write_tar_shards(docs, p2, docs_per_shard=100)
    h = lambda d: sorted(
        hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(d, "*.tar"))
    )
    assert h(p1) == h(p2)


def _plant_pnm(values, block=10, rgb=False):
    """Build a (4·block × 5·block) image whose nearest-neighbor 4×5
    downsample reads exactly values[i][j] (source pixel (10i, 10j) for
    target (i, j)) — each value fills a whole block, so the planted
    dHash is insensitive to the resize's sampling phase."""
    import numpy as np

    from vedb_gaze_spark.operators.multimodal import encode_pnm

    V = np.asarray(values, dtype=np.uint8)
    a = np.kron(V, np.ones((block, block), dtype=np.uint8))
    if rgb:
        a = np.stack([a, a, a], axis=-1)
    return encode_pnm(a)


def test_pnm_roundtrip_and_resize_math():
    """encode→decode is lossless for P5 and P6; the nearest-neighbor
    resize reads the exact integer-map positions."""
    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        _resize_nn,
        decode_pnm,
        encode_pnm,
    )

    g = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert np.array_equal(decode_pnm(encode_pnm(g)), g)
    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(decode_pnm(encode_pnm(rgb)), rgb)
    # comments + arbitrary header whitespace are valid PNM
    hdr = b"P5 # comment\n# another\n 4\t4 \n255\n" + g.tobytes()
    assert np.array_equal(decode_pnm(hdr), g)
    # truncated data and non-PNM payloads decode to None
    assert decode_pnm(encode_pnm(g)[:-1]) is None
    assert decode_pnm(b"not an image") is None
    # resize: target (i, j) = source (i*4 // 2, j*4 // 2) = (2i, 2j)
    assert np.array_equal(
        _resize_nn(g, 2, 2), np.array([[0, 2], [8, 10]], dtype=np.uint8)
    )


def test_decode_frames_deterministic_face_is_unconditional(spark, sf_dir):
    """r10 pin (r9 verdict #6): the registered multimodal_decode face is
    import-environment INVARIANT — no import probe can flip its rows
    (the old HAS_IMAGE_LIBS guard made installing cv2 crash a
    hash-green query). Real codec decode is an explicit opt-in that
    raises when REQUESTED, never from an environment sniff."""
    import pytest

    from vedb_gaze_spark.operators.multimodal import decode_frames
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir).limit(20)
    rows = decode_frames(docs).collect()
    assert len(rows) == 20 and all(r.n_bytes > 0 for r in rows)

    with pytest.raises(NotImplementedError, match="cv2"):
        decode_frames(docs, real_decode=True)


def test_image_decode_resize_phash_end_to_end(spark):
    """The REAL pixel path on planted PNM frames: decode reports true
    shapes, the thumbnail re-decodes losslessly, and the banded pHash
    dedup finds exactly the planted near-dup structure — an exact dup
    (P6 gray-RGB of the P5 base, same luma → hamming 0), a one-bit
    perturbation (hamming 1 ≤ radius), a reversed-gradient frame (far,
    no pair), and a truncated payload (dropped, pairs with nothing)."""
    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        decode_image_frames,
        decode_pnm,
        image_phash_dedup,
        resize_image_thumbnails,
    )

    base = [[10, 50, 20, 60, 30]] * 4       # row bits: F T F T
    onebit = [r[:] for r in base]
    onebit[0] = [10, 50, 20, 60, 90]        # bit (0,3): 60>90 now False
    far = [[60, 20, 50, 10, 40]] * 4        # row bits: T F T F (inverted)
    payloads = [
        (0, bytearray(_plant_pnm(base))),
        (1, bytearray(_plant_pnm(base, rgb=True))),   # same luma as 0
        (2, bytearray(_plant_pnm(onebit))),
        (3, bytearray(_plant_pnm(far))),
        (4, bytearray(_plant_pnm(base)[:40])),        # truncated
    ]
    docs = spark.createDataFrame(payloads, "doc_id long, payload binary")

    meta = {r.doc_id: r for r in decode_image_frames(docs).collect()}
    assert set(meta) == {0, 1, 2, 3}  # truncated payload dropped
    assert (meta[0].width, meta[0].height, meta[0].channels) == (50, 40, 1)
    assert (meta[1].width, meta[1].height, meta[1].channels) == (50, 40, 3)
    assert meta[0].mean_luma == meta[1].mean_luma  # gray RGB = same luma

    thumbs = {r.doc_id: r for r in resize_image_thumbnails(docs, 8).collect()}
    assert set(thumbs) == {0, 1, 2, 3}
    t0 = decode_pnm(bytes(thumbs[0].thumb))
    assert t0.shape == (8, 8)
    # the thumbnail is real pixels from the planted blocks
    assert int(t0[0, 0]) == 10 and set(np.unique(t0)) <= {10, 50, 20, 60, 30}

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in image_phash_dedup(docs).collect()
    }
    assert pairs.get((0, 1)) == 0        # exact luma dup across P5/P6
    assert pairs.get((0, 2)) == 1        # planted one-bit near dup found
    assert pairs.get((1, 2)) == 1
    assert not any(3 in p or 4 in p for p in pairs), pairs


def test_frame_marker_detection_recovers_planted_centers(spark):
    """Frame-level DETECTION on the real pixel path (r6 verdict #7 —
    the reference's _find_circles_frame contract, marker_detection.py:29):
    planted bright blobs in PNM frames round-trip through
    decode → threshold → connected components → centroid, with EXACT
    centroids/sizes/norm positions; sub-min_size speckles and malformed
    payloads drop; and the detection stream feeds marker_filter_cluster,
    which drops the low-position mode via the bimodality gate and
    recovers the planted marker's position clusters."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_frame_markers,
        detections_to_marker_stream,
        encode_pnm,
    )
    from vedb_gaze_spark.plans.pipeline import marker_filter_cluster

    H, W = 100, 200
    base_t = 1_700_000_000
    rows = []
    # 41 frames every 6 h for 10 days (one epoch, gap < SESSION_GAP_S,
    # duration > BRIEF_MIN_S), ONE detection per frame so the
    # duplicate-timestamp gate keeps them: even frames carry the real
    # marker (7×7, x ≈ 160), odd frames a spurious low-position blob
    # (5×5, x ≈ 8) — the noise mode the bimodality gate must reject.
    for s in range(41):
        j = ((s // 2) % 5) - 2  # deterministic jitter, ±2 px
        a = np.zeros((H, W), dtype=np.uint8)
        if s % 2 == 0:
            a[47:54, 157 + j : 164 + j] = 255  # marker: centroid x = 160+j
        else:
            a[20:25, 6 + j : 11 + j] = 255     # noise blob: centroid x = 8+j
        if s == 0:
            a[90, 190:192] = 255               # 2-px speckle < min_size
        rows.append(
            (
                7,
                s,
                datetime.datetime.utcfromtimestamp(base_t + s * 21_600),
                bytearray(encode_pnm(a)),
            )
        )
    # malformed payload: dropped, detections unaffected
    rows.append(
        (7, 99, datetime.datetime.utcfromtimestamp(base_t), bytearray(b"P5 junk"))
    )
    frames = spark.createDataFrame(
        rows, "user_id long, frame_id long, ts timestamp, payload binary"
    )

    det = detect_frame_markers(frames).collect()
    by_frame = {}
    for r in det:
        by_frame.setdefault(r.frame_id, []).append(r)
    assert set(by_frame) == set(range(41))  # frame 99 dropped
    for s in range(41):
        j = ((s // 2) % 5) - 2
        got = by_frame[s]
        assert len(got) == 1, (s, got)  # the frame-0 speckle never surfaces
        d = got[0]
        if s % 2 == 0:
            assert (d.x, d.y, d.size) == (160.0 + j, 50.0, 49), d
        else:
            assert (d.x, d.y, d.size) == (8.0 + j, 22.0, 25), d
        assert d.norm_x == np.floor(d.x / W * 1e6 + 0.5) / 1e6
        assert d.norm_y == np.floor(d.y / H * 1e6 + 0.5) / 1e6

    stream = detections_to_marker_stream(detect_frame_markers(frames))
    clusters = marker_filter_cluster(stream).collect()
    # marker frames land every 12 h: three FULL 3-day grid cells of 6
    # marker detections each survive (the trailing partial cell has 3 <
    # GRID_MIN_PTS); every noise-mode detection fell to the bimodality
    # gate, so no cluster sits near x = 8
    assert len(clusters) == 3, clusters
    for c in clusters:
        assert 158.0 <= c.med_value <= 162.0, c
        assert c.n_in_cell == 6, c

    # the composed single-callable face (find_epochs-on-real-frames) is
    # definitionally the same plan — identical rows
    from vedb_gaze_spark.plans.pipeline import marker_pixel_pipeline

    composed = marker_pixel_pipeline(frames).collect()
    assert sorted(map(tuple, composed)) == sorted(map(tuple, clusters))


def test_zorder_layout_prunes_files_and_matches_exact_filter(
    spark, sf_dir, tmp_path
):
    """Z-order layout: (a) a rectangle query over the pruned reader
    returns exactly the rows of the plain filter over the raw table;
    (b) the zbucket IN (covering cells) predicate lands as a
    PartitionFilter; (c) the covering scan physically touches a strict
    subset of the store's parquet files — 2-D file pruning from one
    partition key."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import (
        read_zorder_pruned,
        write_zorder_layout,
    )

    ev = (
        load_table(spark, "events", sf_dir)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").cast("double").alias("t"),
            "value",
        )
    )
    bounds = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("t"), F.max("t")
    ).collect()[0]
    u0, u1, t0, t1 = [float(x) for x in bounds]
    store = str(tmp_path / "zstore")
    write_zorder_layout(
        ev, store, ("user_id", u0, u1), ("t", t0, t1), bits=3
    )

    qu = (u0 + 0.25 * (u1 - u0), u0 + 0.35 * (u1 - u0))
    qt = (t0 + 0.40 * (t1 - t0), t0 + 0.55 * (t1 - t0))
    got = read_zorder_pruned(spark, store, qu, qt)
    got_rows = {
        (r.user_id, r.event_id) for r in got.collect()
    }
    want_rows = {
        (r.user_id, r.event_id)
        for r in ev.where(
            (F.col("user_id") >= qu[0]) & (F.col("user_id") <= qu[1])
            & (F.col("t") >= qt[0]) & (F.col("t") <= qt[1])
        ).collect()
    }
    assert got_rows == want_rows and len(want_rows) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "zbucket" in plan

    total_files = sum(
        1
        for root, _, files in os.walk(os.path.join(store, "data"))
        for f in files
        if f.endswith(".parquet")
    )
    # the covering-cells scan alone (no row predicate): every file it
    # touches surfaces via input_file_name
    m = spark.read.parquet(f"{store}/zmeta").collect()[0]
    covering = {r.zbucket for r in got.select("zbucket").distinct().collect()}
    touched = (
        spark.read.parquet(f"{store}/data")
        .where(F.col("zbucket").isin([int(c) for c in covering]))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert touched < total_files, (touched, total_files)


def test_stats_manifest_skips_files_and_matches_exact_filter(
    spark, sf_dir, tmp_path
):
    """File-stats data skipping (the Delta/Iceberg manifest pattern on
    plain parquet): (a) the pruned reader returns exactly the rows of
    the plain range filter over the raw table; (b) it physically opens
    a strict subset of the store's files (range clustering makes the
    per-file bounds selective); (c) the manifest covers every data file
    with exact per-file min/max; (d) an out-of-range query reads ZERO
    files and returns zero rows."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import (
        manifest_dir,
        read_stats_pruned,
        write_stats_layout,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    store = str(tmp_path / "statstore")
    write_stats_layout(li, store, "l_extendedprice", n_files=16)

    lo, hi = 20000.0, 25000.0
    got = read_stats_pruned(spark, store, "l_extendedprice", lo, hi)
    got_rows = {(r.l_orderkey, r.l_linenumber) for r in got.collect()}
    want_rows = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.where(
            (F.col("l_extendedprice") >= lo)
            & (F.col("l_extendedprice") <= hi)
        ).collect()
    }
    assert got_rows == want_rows and len(want_rows) > 0

    all_files = set(spark.read.parquet(f"{store}/data").inputFiles())
    touched = set(got.inputFiles())
    assert touched < all_files, (len(touched), len(all_files))

    manifest = {
        r.file: r for r in spark.read.parquet(manifest_dir(spark, store)).collect()
    }
    assert set(manifest) == all_files
    per_file = (
        spark.read.parquet(f"{store}/data")
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    )
    for r in per_file:
        assert manifest[r.file].mn == r.mn and manifest[r.file].mx == r.mx

    empty = read_stats_pruned(
        spark, store, "l_extendedprice", -2.0, -1.0
    )
    assert empty.count() == 0


def test_append_stats_layout_grows_without_rewriting(spark, sf_dir, tmp_path):
    """Stats-store growth pins (the append-maintainable-layout contract):
    (a) after appending a second batch, the pruned reader over the grown
    store returns exactly the plain filter over old ∪ new; (b) every
    pre-existing data file is BYTE-IDENTICAL (append never rewrites);
    (c) the manifest covers exactly the grown store's files with exact
    bounds; (d) pruning still skips files on the grown store."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import (
        append_stats_layout,
        manifest_dir,
        read_stats_pruned,
        write_stats_layout,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    old = li.where(F.col("l_orderkey") % 2 == 0)
    new = li.where(F.col("l_orderkey") % 2 == 1)
    store = str(tmp_path / "growstore")
    write_stats_layout(old, store, "l_extendedprice", n_files=8)

    def file_hashes():
        out = {}
        droot = os.path.join(store, "data")
        for root, _, files in os.walk(droot):
            for f in files:
                p = os.path.join(root, f)
                out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    before = file_hashes()
    append_stats_layout(new, store, "l_extendedprice", n_files=4)
    after = file_hashes()
    for p, h in before.items():
        assert after[p] == h, p
    assert len(after) > len(before)

    lo, hi = 20000.0, 25000.0
    got = {
        (r.l_orderkey, r.l_linenumber)
        for r in read_stats_pruned(
            spark, store, "l_extendedprice", lo, hi
        ).collect()
    }
    want = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.where(
            (F.col("l_extendedprice") >= lo)
            & (F.col("l_extendedprice") <= hi)
        ).collect()
    }
    assert got == want and len(want) > 0

    all_files = set(spark.read.parquet(f"{store}/data").inputFiles())
    manifest = {
        r.file: r for r in spark.read.parquet(manifest_dir(spark, store)).collect()
    }
    assert set(manifest) == all_files
    touched = set(
        read_stats_pruned(
            spark, store, "l_extendedprice", lo, hi
        ).inputFiles()
    )
    assert touched < all_files


def test_stats_manifest_versioned_promotion_never_leaves_gap(
    spark, sf_dir, tmp_path
):
    """r9 atomicity pin (ADVICE r8): append_stats_layout must never
    pass through a no-manifest window — the old delete-then-rename swap
    could strand a concurrent read_stats_pruned (or a crash) with data
    files but no manifest. The versioned scheme PROMOTES manifest_v{N+1}
    (complete only once _SUCCESS lands) and keeps version N one
    generation for in-flight readers. Pins: (a) each append advances the
    resolved version; (b) the previous version survives exactly one
    generation; (c) the resolver ignores a committed-marker-less decoy
    directory; (d) reads through the resolved manifest stay exact."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import (
        append_stats_layout,
        manifest_dir,
        read_stats_pruned,
        write_stats_layout,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    store = str(tmp_path / "vstore")
    third = li.where(F.col("l_orderkey") % 3 == 0)
    b1 = li.where(F.col("l_orderkey") % 3 == 1)
    b2 = li.where(F.col("l_orderkey") % 3 == 2)

    write_stats_layout(third, store, "l_extendedprice", n_files=4)
    assert manifest_dir(spark, store).endswith("manifest_v1")

    append_stats_layout(b1, store, "l_extendedprice", n_files=2)
    assert manifest_dir(spark, store).endswith("manifest_v2")
    assert os.path.isdir(f"{store}/manifest_v1")  # one-generation keep

    # decoy: an uncommitted higher version must NOT win the resolution
    os.makedirs(f"{store}/manifest_v9")
    assert manifest_dir(spark, store).endswith("manifest_v2")
    os.rmdir(f"{store}/manifest_v9")

    append_stats_layout(b2, store, "l_extendedprice", n_files=2)
    assert manifest_dir(spark, store).endswith("manifest_v3")
    assert os.path.isdir(f"{store}/manifest_v2")
    assert not os.path.exists(f"{store}/manifest_v1")  # GC'd at depth 1

    lo, hi = 10_000.0, 30_000.0
    got = {
        (r.l_orderkey, r.l_linenumber)
        for r in read_stats_pruned(
            spark, store, "l_extendedprice", lo, hi
        ).collect()
    }
    want = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.where(
            (F.col("l_extendedprice") >= lo) & (F.col("l_extendedprice") <= hi)
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stats_recluster_over_appended_store_promotes_manifest(
    spark, sf_dir, tmp_path
):
    """r10 pin (ADVICE r9): the documented periodic re-cluster flow —
    write_stats_layout over the read-back of an APPENDED store — must
    not leave the appended manifest_vN shadowing the fresh manifest.
    The re-cluster overwrites data/, so every old manifest's file list
    is dead; write_stats_layout now promotes to v{N+1} and GCs all
    older versions (no one-generation keep: the files an in-flight
    reader would list are gone regardless). Pins: (a) resolution lands
    on the fresh version; (b) stale versions are GC'd; (c) pruned reads
    through the re-clustered store stay exact."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import (
        append_stats_layout,
        manifest_dir,
        read_stats_pruned,
        write_stats_layout,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    store = str(tmp_path / "rstore")
    write_stats_layout(
        li.where(F.col("l_orderkey") % 2 == 0), store, "l_extendedprice", 4
    )
    append_stats_layout(
        li.where(F.col("l_orderkey") % 2 == 1), store, "l_extendedprice", 2
    )
    assert manifest_dir(spark, store).endswith("manifest_v2")

    # periodic re-cluster: full rewrite of the read-back
    readback = spark.read.parquet(f"{store}/data").localCheckpoint()
    write_stats_layout(readback, store, "l_extendedprice", n_files=4)
    assert manifest_dir(spark, store).endswith("manifest_v3")
    assert not os.path.exists(f"{store}/manifest_v1")
    assert not os.path.exists(f"{store}/manifest_v2")

    lo, hi = 20_000.0, 40_000.0
    got = {
        (r.l_orderkey, r.l_linenumber)
        for r in read_stats_pruned(
            spark, store, "l_extendedprice", lo, hi
        ).collect()
    }
    want = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.where(
            (F.col("l_extendedprice") >= lo) & (F.col("l_extendedprice") <= hi)
        ).collect()
    }
    assert got == want and len(want) > 0


def test_manifest_resolution_survives_missing_success_markers(
    spark, sf_dir, tmp_path
):
    """r10 pin (ADVICE r9), TIGHTENED r11 (ADVICE r10): committers with
    mapreduce.fileoutputcommitter.marksuccessfuljobs=false never write
    _SUCCESS; resolution must then fall back to the highest version
    that actually contains parquet part files. But under the DEFAULT
    committer (marksuccessfuljobs=true), part files without _SUCCESS
    mean a crashed mid-write — the fallback must NOT fire and the read
    must fail loudly, preserving 'a version is either invisible or
    complete'. A marked version still beats any unmarked one."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import (
        manifest_dir,
        read_stats_pruned,
        write_stats_layout,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    store = str(tmp_path / "nostore")
    write_stats_layout(li, store, "l_extendedprice", n_files=4)
    os.remove(f"{store}/manifest_v1/_SUCCESS")

    # default committer: unmarked versions are crash debris, fail loudly
    with pytest.raises(FileNotFoundError):
        manifest_dir(spark, store)

    hconf = spark._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    hconf.set(key, "false")
    try:
        assert manifest_dir(spark, store).endswith("manifest_v1")

        lo, hi = 20_000.0, 40_000.0
        got = read_stats_pruned(
            spark, store, "l_extendedprice", lo, hi
        ).count()
        want = li.where(
            (F.col("l_extendedprice") >= lo)
            & (F.col("l_extendedprice") <= hi)
        ).count()
        assert got == want and want > 0

        # an empty (part-file-less) higher version never wins the fallback
        os.makedirs(f"{store}/manifest_v7")
        assert manifest_dir(spark, store).endswith("manifest_v1")
    finally:
        hconf.unset(key)


def test_ring_verification_rejects_solid_distractor_blobs(spark):
    """r9 (r8 verdict #4): the reference accepts a concentric marker
    only as NESTED ellipses sharing a center (externals/
    circle_detector.py:22 CircleTracker) — a bright non-marker blob
    must not become a detection. Plants frames carrying BOTH a ring
    marker (9x9 bright annulus, 3x3 dark core — two nested components,
    one center) and a solid distractor blob: require_rings=True keeps
    exactly the ring (exact annulus centroid = planted center by
    symmetry) and rejects the solid blob; distractor-only frames yield
    ZERO detections; the default blob contract still sees both."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_frame_markers,
        encode_pnm,
    )

    H, W = 80, 120
    base = datetime.datetime.utcfromtimestamp(1_700_000_000)
    rows = []
    for s in range(6):
        a = np.zeros((H, W), dtype=np.uint8)
        if s < 4:  # ring marker at (40+s, 30): 9x9 bright, 3x3 dark core
            cy, cx = 40, 30 + s
            a[cy - 4 : cy + 5, cx - 4 : cx + 5] = 255
            a[cy - 1 : cy + 2, cx - 1 : cx + 2] = 0
        # solid distractor blob on every frame (7x7 at x=100)
        a[20:27, 97:104] = 255
        rows.append((3, s, base, bytearray(encode_pnm(a))))
    frames = spark.createDataFrame(
        rows, "user_id long, frame_id long, ts timestamp, payload binary"
    )

    strict = detect_frame_markers(frames, require_rings=True).collect()
    by_frame = {}
    for r in strict:
        by_frame.setdefault(r.frame_id, []).append(r)
    assert set(by_frame) == {0, 1, 2, 3}  # distractor-only frames: zero
    for s in range(4):
        (d,) = by_frame[s]
        assert (d.x, d.y) == (30.0 + s, 40.0), d  # exact ring center
        assert d.size == 81 - 9  # annulus pixels only

    loose = detect_frame_markers(frames).collect()
    per_frame = {}
    for r in loose:
        per_frame[r.frame_id] = per_frame.get(r.frame_id, 0) + 1
    assert per_frame == {0: 2, 1: 2, 2: 2, 3: 2, 4: 1, 5: 1}


def test_checkerboard_detection_recovers_planted_corner_grid(spark):
    """r9 (r8 verdict #3): the reference's second marker type
    (marker_detection.py:185 find_checkerboard_frame / :260
    find_checkerboard — findChessboardCorners' inner-corner grid,
    corners averaged to location, normalized to norm_pos). Plants a
    (3, 6)-inner-corner board (4x7 cells, 10 px): the saddle detector
    must recover all 18 junction coordinates EXACTLY (half-pixel
    junctions, row-major), average them to the planted board center,
    reject a cut-off board (incomplete grid — the all-or-nothing
    findChessboardCorners contract), ignore a saddle-free blob frame,
    and drop malformed payloads; the composed checkerboard
    marker_pixel_pipeline recovers the planted position clusters."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_checkerboard_frames,
        encode_pnm,
    )
    from vedb_gaze_spark.plans.pipeline import marker_pixel_pipeline

    H, W = 100, 200
    NX, NY, C = 3, 6, 10  # inner corners per row/col, cell px

    def board_frame(y0, x0):
        a = np.zeros((H, W), dtype=np.uint8)
        for j in range(NY + 1):       # cell rows
            for i in range(NX + 1):   # cell cols
                if (i + j) % 2 == 0:
                    a[
                        y0 + j * C : y0 + (j + 1) * C,
                        x0 + i * C : x0 + (i + 1) * C,
                    ] = 255
        return a

    base_t = 1_700_000_000
    rows = []
    # 41 frames every 6 h (the concentric-test epoch shape): board
    # center x = x0 + (NX+1)*C/2 = 130 + jitter
    for s in range(41):
        j = ((s // 2) % 5) - 2
        a = board_frame(13, 110 + j)
        rows.append(
            (
                9,
                s,
                datetime.datetime.utcfromtimestamp(base_t + s * 21_600),
                bytearray(encode_pnm(a)),
            )
        )
    # cut-off board: right column of cells clipped by the frame edge
    a = board_frame(13, W - 2 * C - 3)
    rows.append(
        (9, 90, datetime.datetime.utcfromtimestamp(base_t), bytearray(encode_pnm(a)))
    )
    # blob frame (no saddles) and malformed payload: no detection
    a = np.zeros((H, W), dtype=np.uint8)
    a[40:50, 40:50] = 255
    rows.append(
        (9, 91, datetime.datetime.utcfromtimestamp(base_t), bytearray(encode_pnm(a)))
    )
    rows.append(
        (9, 92, datetime.datetime.utcfromtimestamp(base_t), bytearray(b"P5 junk"))
    )
    frames = spark.createDataFrame(
        rows, "user_id long, frame_id long, ts timestamp, payload binary"
    )

    det = {r.frame_id: r for r in detect_checkerboard_frames(frames).collect()}
    assert set(det) == set(range(41))  # 90/91/92 all rejected
    for s in range(41):
        j = ((s // 2) % 5) - 2
        d = det[s]
        x0, y0 = 110 + j, 13
        want_xs = [
            x0 + C * (i + 1) - 0.5 for _ in range(NY) for i in range(NX)
        ]
        want_ys = [
            y0 + C * (jj + 1) - 0.5 for jj in range(NY) for _ in range(NX)
        ]
        assert list(d.corner_xs) == want_xs, (s, d.corner_xs[:4], want_xs[:4])
        assert list(d.corner_ys) == want_ys
        assert d.size == NX * NY and d.marker_id == 1
        assert d.x == np.floor(sum(want_xs) / len(want_xs) * 1e6 + 0.5) / 1e6
        assert d.norm_x == np.floor(d.x / W * 1e6 + 0.5) / 1e6
        assert d.norm_y == np.floor(d.y / H * 1e6 + 0.5) / 1e6

    clusters = marker_pixel_pipeline(
        frames, marker_type="checkerboard", threshold=128
    ).collect()
    # board center x = x0 + 2*C - 0.5 = 129.5 + jitter; every 6 h with
    # one detection per EVERY frame (no odd-frame noise mode here), so
    # even the trailing partial 3-day cell clears GRID_MIN_PTS: 4 cells
    assert len(clusters) == 4, clusters
    for c in clusters:
        assert 127.0 <= c.med_value <= 132.0, c


def test_ring_marker_types_classified_and_one_detection_per_marker(spark):
    """Typed concentric detection (the full CircleTracker contract,
    externals/circle_detector.py:339 — marker class from the ring's
    mean gray against 128). Plants: (a) a BRIGHT ring w/ dark core on
    dark background → one 'ref' detection at the exact center; (b) a
    DARK ring w/ bright core on a bright panel → one 'stop'; (c) a
    THREE-layer marker (bright ring / dark ring / bright dot) → exactly
    ONE detection (outermost ring wins, inner rings suppressed); (d)
    solid blobs of either polarity and a bright dot centered on the
    dark background → zero detections (the background is never a
    ring — border exclusion)."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_ring_markers,
        encode_pnm,
    )

    H, W = 90, 240
    base = datetime.datetime.utcfromtimestamp(1_700_000_000)

    a = np.zeros((H, W), dtype=np.uint8)
    # (a) bright ring, dark core at (20, 30)
    a[16:25, 26:35] = 255
    a[19:22, 29:32] = 0
    # (b) bright panel TOUCHING the frame border (real-world wall/paper
    #     — border exclusion must keep the panel itself from reading as
    #     a giant bright ring) with a dark ring + bright core at
    #     (20, 100) and a SOLID dark blob distractor inside the panel
    a[0:41, 80:121] = 230
    a[16:25, 96:105] = 0
    a[19:22, 99:102] = 230
    a[30:37, 84:91] = 0       # solid dark blob: no bright core → rejected
    # (c) three-layer marker at (60, 150): bright 13x13, dark 7x7, bright 3x3
    a[54:67, 144:157] = 255
    a[57:64, 147:154] = 0
    a[59:62, 149:152] = 255
    # (d) distractors on the dark background: solid bright blob and a
    #     lone bright dot (the dark BACKGROUND must never rate as a
    #     ring around it — border exclusion)
    a[70:77, 20:27] = 255
    a[60:63, 200:203] = 255

    frames = spark.createDataFrame(
        [(5, 0, base, bytearray(encode_pnm(a)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )
    det = detect_ring_markers(frames).collect()
    got = {(r.x, r.y): (r.marker_type, r.size) for r in det}
    assert len(det) == 3, det
    assert got[(30.0, 20.0)][0] == "ref"
    assert got[(100.0, 20.0)][0] == "stop"
    assert got[(150.0, 60.0)][0] == "ref"
    # three-layer marker: ONE row, the outer 13x13 ring (169-49 px)
    assert got[(150.0, 60.0)][1] == 169 - 49
    # norm conventions match detect_frame_markers
    for r in det:
        assert r.norm_x == np.floor(r.x / W * 1e6 + 0.5) / 1e6


def test_ring_adaptive_threshold_finds_low_contrast_markers(spark):
    """Adaptive-threshold binarization front-end (r13 verdict #2;
    reference externals/circle_detector.py:214–240
    find_pupil_circle_marker: GaussianBlur + three
    ADAPTIVE_THRESH_GAUSSIAN_C/INV passes at blockSize 29,
    C ∈ {36, 18, 3}): on an unevenly-lit frame (background gradient
    40→220) with a LOW-CONTRAST ring (25 gray levels below its local
    surroundings — under every global split), the global-threshold
    detector finds ZERO markers while threshold='adaptive' finds the
    planted ring at its center via the C=3 low-contrast pass; pooled
    multi-pass candidates collapse to ONE detection per marker (the
    reference's found_pos duplicate discard)."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_ring_markers,
        encode_pnm,
    )

    H, W = 90, 240
    base = datetime.datetime.utcfromtimestamp(1_700_000_000)
    yy, xx = np.mgrid[0:H, 0:W]
    grad = np.tile(np.linspace(40.0, 220.0, W), (H, 1))

    a = grad.copy()
    # dark-side ring at (x=60, y=45): local background ≈ 85, ring 25
    # levels darker — invisible to any global threshold
    rr = np.sqrt((xx - 60.0) ** 2 + (yy - 45.0) ** 2)
    a[(rr >= 6) & (rr <= 9)] -= 25.0
    # bright-side ring at (x=200, y=45): local background ≈ 190, ring
    # 25 levels darker — ABOVE a global 128 split, below local mean
    r2 = np.sqrt((xx - 200.0) ** 2 + (yy - 45.0) ** 2)
    a[(r2 >= 6) & (r2 <= 9)] -= 25.0
    a = np.clip(a, 0, 255).astype(np.uint8)

    frames = spark.createDataFrame(
        [(7, 0, base, bytearray(encode_pnm(a)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )
    # the global-threshold face sees nothing at ANY split: the rings
    # are local-contrast features
    assert detect_ring_markers(frames, threshold=200).collect() == []
    assert detect_ring_markers(frames, threshold=128).collect() == []

    det = detect_ring_markers(frames, threshold="adaptive").collect()
    assert len(det) == 2, det
    got = sorted((r.x, r.y, r.marker_type) for r in det)
    # centroid within a couple px of the planted centers (the C=18
    # partial-arc candidate may win the raster-order suppression)
    assert abs(got[0][0] - 60.0) <= 3 and abs(got[0][1] - 45.0) <= 3
    assert abs(got[1][0] - 200.0) <= 3 and abs(got[1][1] - 45.0) <= 3
    # ring mean luma classifies: dark-side ring ≈ 60 → stop,
    # bright-side ring ≈ 165 → ref (the :339 128 split on TRUE luma)
    assert got[0][2] == "stop" and got[1][2] == "ref"

    # threshold validation
    import pytest

    with pytest.raises(ValueError, match="adaptive"):
        detect_ring_markers(frames, threshold="fuzzy")


def test_ring_fit_residual_gate_rejects_non_elliptic_blobs(spark):
    """Ellipse-fit-residual acceptance (r13 verdict #3; reference
    circle_detector.py:514/:615 ``max(dist_pts_ellipse(e, c))`` with
    e = cv2.fitEllipse(c), methods.py:83): a planted CIRCULAR ring
    (outer-boundary max residual ≈ 0.47 px) survives fit_tol=0.8 while
    a nested-but-NON-ELLIPTIC square ring (corners ≈ 1.5 px off its
    best ellipse) is rejected; with the gate off (default) both nest
    and both pass — the pre-r14 contract unchanged."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_ring_markers,
        encode_pnm,
    )

    H, W = 90, 240
    base = datetime.datetime.utcfromtimestamp(1_700_000_000)
    yy, xx = np.mgrid[0:H, 0:W]
    a = np.zeros((H, W), dtype=np.uint8)
    # circular bright ring w/ dark core at (60, 45)
    rr = np.sqrt((xx - 60.0) ** 2 + (yy - 45.0) ** 2)
    a[(rr >= 6) & (rr <= 9)] = 255
    # square bright ring w/ dark core at (150, 60): nests, not elliptic
    a[54:67, 144:157] = 255
    a[57:64, 147:154] = 0

    frames = spark.createDataFrame(
        [(7, 0, base, bytearray(encode_pnm(a)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )
    both = detect_ring_markers(frames).collect()
    assert sorted((r.x, r.y) for r in both) == [(60.0, 45.0), (150.0, 60.0)]

    gated = detect_ring_markers(frames, fit_tol=0.8).collect()
    assert [(r.x, r.y) for r in gated] == [(60.0, 45.0)], gated
    assert gated[0].marker_type == "ref"


def test_pupil_detection_recovers_planted_ellipses(spark):
    """Real-pixel PUPIL detection (r9 verdict #2 — the dark-component
    ellipse-moments mirror of detect_frame_markers, reference
    pupil_detection_pl.py:11 plabs_detect_pupil): planted filled
    ellipses round-trip exactly (centroid, 4·√λ moment axes, tilt,
    roundness confidence ≈ 1); border-touching eyelid shadow is never
    picked; a pupil-less frame still emits its per-frame datum with
    confidence 0 and the true luminance (Detector2D's contract)."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_pupil_frames,
        encode_pnm,
    )

    H, W = 120, 160
    base = 1_700_000_000
    yy, xx = np.mgrid[0:H, 0:W]
    rows = []
    for s in range(3):
        a = np.full((H, W), 180, dtype=np.uint8)
        cx, cy = 60.0 + 2 * s, 50.0
        el = ((xx - cx) / 14.0) ** 2 + ((yy - cy) / 8.0) ** 2 <= 1.0
        a[el] = 20
        a[0:3, :] = 10  # border-touching eyelid band: rejected
        rows.append(
            (1, s, datetime.datetime.utcfromtimestamp(base + s),
             bytearray(encode_pnm(a)))
        )
    # tilted ellipse: 45-degree axis recovered from the moment tensor
    a = np.full((H, W), 180, dtype=np.uint8)
    u = (xx - 80.0 + yy - 60.0) / np.sqrt(2)
    v = (xx - 80.0 - (yy - 60.0)) / np.sqrt(2)
    a[(u / 16.0) ** 2 + (v / 7.0) ** 2 <= 1.0] = 20
    rows.append(
        (1, 10, datetime.datetime.utcfromtimestamp(base + 10),
         bytearray(encode_pnm(a)))
    )
    # pupil-less frame: flat bright field
    a = np.full((H, W), 200, dtype=np.uint8)
    rows.append(
        (1, 11, datetime.datetime.utcfromtimestamp(base + 11),
         bytearray(encode_pnm(a)))
    )
    # null and undecodable payloads (r11, ADVICE r10): the ONE-row-per-
    # frame contract must survive corrupt capture data — each emits the
    # confidence-0 datum (luminance 0) instead of vanishing from the
    # confidence stream the blink gates consume
    rows.append(
        (1, 12, datetime.datetime.utcfromtimestamp(base + 12), None)
    )
    rows.append(
        (1, 13, datetime.datetime.utcfromtimestamp(base + 13),
         bytearray(b"not a pnm payload"))
    )
    frames = spark.createDataFrame(
        rows, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    got = {r.frame_id: r for r in detect_pupil_frames(frames).collect()}
    assert set(got) == {0, 1, 2, 10, 11, 12, 13}
    for fid in (12, 13):
        bad = got[fid]
        assert bad.confidence == 0.0 and bad.x == 0.0
        assert bad.luminance == 0.0
    for s in range(3):
        d = got[s]
        assert (d.x, d.y) == (60.0 + 2 * s, 50.0), d
        # full moment axes of a filled (14, 8)-semi-axis ellipse: the
        # discrete mask quantizes a hair under the continuous 28/16
        assert abs(d.axis_major - 28.0) < 0.5 and abs(d.axis_minor - 16.0) < 0.5, d
        assert d.confidence > 0.95 and d.diameter == d.axis_major
        assert d.norm_x == np.floor(d.x / W * 1e6 + 0.5) / 1e6
    t = got[10]
    assert abs(abs(t.angle_deg) - 45.0) < 3.0, t
    assert t.confidence > 0.95
    empty = got[11]
    assert empty.confidence == 0.0 and empty.x == 0.0
    assert empty.luminance == 200.0


def test_pupil_pixel_pipeline_recovers_planted_linear_map(spark):
    """The camera-to-error chain end-to-end on real pixels (r9 verdict
    #2): eye frames with a moving planted pupil + world frames whose
    single marker sits at an exact LINEAR map of the pupil's norm_pos
    (mx = 0.1 + 0.8·px, my = 0.05 + 0.5·py). The composed plan must
    detect both streams, pair them by nearest time (both forward and
    backward offsets inside the tolerance), gate confidence, fit the
    per-user OLS, and report ≈0 error. A two-marker world frame (gated
    by the one-detection rule) and a degenerate low-roundness eye blob
    (confidence gate) drop their samples instead of corrupting the fit."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import encode_pnm
    from vedb_gaze_spark.plans.pipeline import pupil_pixel_pipeline

    EH, EW = 100, 200
    WH, WW = 300, 400
    base = 1_700_000_000
    yy_e, xx_e = np.mgrid[0:EH, 0:EW]

    def ts(sec_offset):
        return datetime.datetime.utcfromtimestamp(base).replace(
            microsecond=0
        ) + datetime.timedelta(seconds=sec_offset)

    eye, world = [], []
    for s in range(20):
        cx, cy = 40 + 5 * s, 30 + 2 * s
        a = np.full((EH, EW), 180, dtype=np.uint8)
        el = ((xx_e - cx) / 10.0) ** 2 + ((yy_e - cy) / 6.0) ** 2 <= 1.0
        a[el] = 20
        eye.append((5, s, ts(s), bytearray(encode_pnm(a))))
        # marker at the exact linear image of the pupil's norm position
        mx_px, my_px = 104 + 8 * s, 60 + 3 * s
        b = np.zeros((WH, WW), dtype=np.uint8)
        b[my_px - 3 : my_px + 4, mx_px - 3 : mx_px + 4] = 255
        off = 0.25 if s % 2 == 0 else -0.25  # forward AND backward matches
        world.append((5, s, ts(s + off), bytearray(encode_pnm(b))))

    # sample 50: pupil fine, but the only nearby world frame shows TWO
    # markers -> single-detection gate drops it -> no pair within tol
    a = np.full((EH, EW), 180, dtype=np.uint8)
    el = ((xx_e - 100) / 10.0) ** 2 + ((yy_e - 50) / 6.0) ** 2 <= 1.0
    a[el] = 20
    eye.append((5, 50, ts(50), bytearray(encode_pnm(a))))
    b = np.zeros((WH, WW), dtype=np.uint8)
    b[50:57, 100:107] = 255
    b[200:207, 300:307] = 255
    world.append((5, 50, ts(50.1), bytearray(encode_pnm(b))))

    # sample 60: degenerate 1-px diagonal "pupil" -> zero-area moment
    # ellipse -> confidence 0 -> gated before pairing
    a = np.full((EH, EW), 180, dtype=np.uint8)
    for k in range(30):
        a[20 + k, 50 + k] = 20
    eye.append((5, 60, ts(60), bytearray(encode_pnm(a))))
    b = np.zeros((WH, WW), dtype=np.uint8)
    b[150:157, 150:157] = 255
    world.append((5, 60, ts(60.1), bytearray(encode_pnm(b))))

    eye_df = spark.createDataFrame(
        eye, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    world_df = spark.createDataFrame(
        world, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    out = pupil_pixel_pipeline(eye_df, world_df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pairs == 20, r
    assert abs(r.slope_x - 0.8) < 1e-3 and abs(r.intercept_x - 0.1) < 1e-3, r
    assert abs(r.slope_y - 0.5) < 1e-3 and abs(r.intercept_y - 0.05) < 1e-3, r
    assert r.rmse_deg < 0.05 and r.median_err_deg < 0.05, r

    # the edge-refined detector drives the SAME chain to the same map
    # (clean planted ellipses: refinement sharpens, never derails)
    r2 = pupil_pixel_pipeline(
        eye_df, world_df, pupil_refine="edge"
    ).collect()[0]
    assert r2.n_pairs == 20, r2
    assert abs(r2.slope_x - 0.8) < 2e-3 and abs(r2.slope_y - 0.5) < 2e-3, r2
    assert r2.rmse_deg < 0.1, r2


def test_marker_3d_pose_recovers_planted_camera_pose(spark):
    """marker_3d_pose (r9 verdict #5 — reference
    externals/circle_detector.py:729: sampled-ellipse solvePnP against
    the physical circle, here the closed-form homography + Zhang planar
    decomposition). Pins: (a) a fronto-parallel marker's pose is
    recovered EXACTLY from its analytic ellipse (t to 1e-6, R = I,
    reprojection ~0); (b) a SLANTED marker rendered onto real pixels
    round-trips through detect_ellipse_markers -> marker_3d_pose with
    distance to ~1% and the tilt angle to a few degrees (the
    parameter-sampling correspondence is the reference's own
    weak-perspective approximation)."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_ellipse_markers,
        encode_pnm,
        marker_3d_pose,
    )

    FX = FY = 600.0
    CX, CY = 320.0, 240.0
    D = 7.6
    ts0 = datetime.datetime.utcfromtimestamp(1_700_000_000)

    # (a) fronto-parallel analytic ellipse: t = (20, -10, 500)
    X, Y, Z = 20.0, -10.0, 500.0
    u, v = CX + FX * X / Z, CY + FY * Y / Z
    dia = FX * D / Z
    ell = spark.createDataFrame(
        [(1, 0, ts0, 1, u, v, dia, dia, 0.0, 1.0, u / 640, v / 480)],
        "user_id long, frame_id long, ts timestamp, marker_id int, "
        "x double, y double, axis_minor double, axis_major double, "
        "angle_deg double, confidence double, norm_x double, norm_y double",
    )
    r = marker_3d_pose(ell, FX, FY, CX, CY, D).collect()[0]
    assert abs(r.tx - X) < 1e-4 and abs(r.ty - Y) < 1e-4, r
    assert abs(r.tz - Z) < 1e-3, r
    for ang in (r.rx_deg, r.ry_deg, r.rz_deg):
        assert abs(ang) < 1e-3, r
    assert r.reproj_rms < 1e-6, r

    # (b) slanted marker rendered to pixels: tilt 25 deg about the
    # x-axis, LONG focal length (the weak-perspective model's accuracy
    # improves with f at a fixed image-ellipse size; at short f the
    # perspective eccentricity excess itself is ~2.5 deg)
    FX = FY = 1800.0
    th = np.radians(25.0)
    R = np.array(
        [[1, 0, 0], [0, np.cos(th), -np.sin(th)], [0, np.sin(th), np.cos(th)]]
    )
    t = np.array([5.0, 8.0, 450.0])
    H, W = 480, 640
    K = np.array([[FX, 0, CX], [0, FY, CY], [0, 0, 1.0]])
    Kinv = np.linalg.inv(K)
    vv, uu = np.mgrid[0:H, 0:W]
    d = (Kinv @ np.stack(
        [uu.ravel(), vv.ravel(), np.ones(uu.size)]
    )).T  # ray directions
    Rt_t = R.T @ t
    Rt_d = d @ R  # rows: R.T @ d_i
    s = Rt_t[2] / Rt_d[:, 2]
    p = (s[:, None] * Rt_d) - Rt_t  # marker-frame intersection
    inside = (
        (s > 0) & (p[:, 0] ** 2 + p[:, 1] ** 2 <= (D / 2.0) ** 2)
    ).reshape(H, W)
    frame = np.zeros((H, W), dtype=np.uint8)
    frame[inside] = 255
    frames = spark.createDataFrame(
        [(1, 7, ts0, bytearray(encode_pnm(frame)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )
    det = detect_ellipse_markers(frames, min_size=5)
    assert det.count() == 1
    pose = marker_3d_pose(det, FX, FY, CX, CY, D).collect()[0]
    assert abs(pose.tz - 450.0) / 450.0 < 0.02, pose
    assert abs(pose.tx - 5.0) < 0.5 and abs(pose.ty - 8.0) < 0.5, pose
    assert abs(abs(pose.rx_deg) - 25.0) < 3.0, pose
    assert pose.reproj_rms < 1.0, pose


def test_checkerboard_subpixel_refinement_recovers_fractional_corners(spark):
    """cv2.cornerSubPix's contract in pure numpy (r10 — the last named
    stub): a checkerboard rendered with FRACTIONAL corner spacing (8.5
    px, supersampled 4x then box-downsampled, so edges are anti-aliased
    gray ramps) quantizes its junctions to half-pixel coordinates
    (error up to ~0.5 px); refine_subpixel=True recovers the true
    fractional corners to < 0.1 px via the gradient-orthogonality
    solve. Hard-edge boards stay BIT-identical with refinement off
    (the registered-face stability contract)."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_checkerboard_frames,
        encode_pnm,
    )

    S = 4  # supersampling
    H, W = 80, 120
    x0, y0, step = 30.25, 20.75, 8.5
    nx, ny = 3, 6  # inner corners per row/column -> 4 x 7 cells
    big = np.zeros((H * S, W * S), dtype=np.float64)
    for j in range(ny + 1):
        for i in range(nx + 1):
            if (i + j) % 2 == 0:
                r0 = int(round((y0 + (j - 1) * step) * S))
                c0 = int(round((x0 + (i - 1) * step) * S))
                r1 = int(round((y0 + j * step) * S))
                c1 = int(round((x0 + i * step) * S))
                big[max(r0, 0) : r1, max(c0, 0) : c1] = 255.0
    small = big.reshape(H, S, W, S).mean(axis=(1, 3))
    frame = np.clip(np.floor(small + 0.5), 0, 255).astype(np.uint8)
    ts0 = datetime.datetime.utcfromtimestamp(1_700_000_000)
    frames = spark.createDataFrame(
        [(3, 0, ts0, bytearray(encode_pnm(frame)))],
        "user_id long, frame_id long, ts timestamp, payload binary",
    )

    # the render places edges at x0 + i*step in pixel-SPAN coordinates
    # (pixel i covers [i, i+1)); every detector in this repo reports
    # pixel-CENTER coordinates (pixel i is the point i), so the true
    # corner is 0.5 px lower in each axis
    true_xs = [x0 - 0.5 + i * step for j in range(ny) for i in range(nx)]
    true_ys = [y0 - 0.5 + j * step for j in range(ny) for i in range(nx)]

    coarse = detect_checkerboard_frames(frames, board=(nx, ny)).collect()
    assert len(coarse) == 1
    cerr = max(
        max(abs(cx - tx) for cx, tx in zip(coarse[0].corner_xs, true_xs)),
        max(abs(cy - ty) for cy, ty in zip(coarse[0].corner_ys, true_ys)),
    )
    assert cerr > 0.15  # the junction quantization this test refines away

    fine = detect_checkerboard_frames(
        frames, board=(nx, ny), refine_subpixel=True
    ).collect()
    assert len(fine) == 1
    ferr = max(
        max(abs(cx - tx) for cx, tx in zip(fine[0].corner_xs, true_xs)),
        max(abs(cy - ty) for cy, ty in zip(fine[0].corner_ys, true_ys)),
    )
    assert ferr < 0.1, (ferr, cerr)


def test_y4m_header_roundtrip_and_malformed_inputs():
    """sources/y4m.py unit pins: encode_y4m -> parse/iter round-trips
    the Y plane losslessly for every supported colorspace geometry; a
    truncated tail frame is dropped (never padded); non-Y4M bytes and
    unsupported colorspaces raise instead of yielding zero frames."""
    import numpy as np
    import pytest

    from vedb_gaze_spark.sources.y4m import (
        encode_y4m,
        iter_y4m_luma,
        parse_y4m_header,
    )

    rng = [np.arange(48, dtype=np.uint8).reshape(6, 8) + k for k in range(3)]
    for cs in ("C420jpeg", "C420", "C422", "C444", "Cmono"):
        buf = encode_y4m(rng, fps=(25, 2), colorspace=cs)
        hd = parse_y4m_header(buf)
        assert (hd["width"], hd["height"]) == (8, 6)
        assert (hd["fps_num"], hd["fps_den"]) == (25, 2)
        got = list(iter_y4m_luma(buf))
        assert [i for i, _ in got] == [0, 1, 2]
        for (_, y), a in zip(got, rng):
            assert y == a.tobytes(), cs
        # truncated tail: drop the last frame's final byte
        assert len(list(iter_y4m_luma(buf[:-1]))) == 2, cs

    with pytest.raises(ValueError, match="magic"):
        parse_y4m_header(b"RIFF....not a y4m\n")
    with pytest.raises(ValueError, match="colorspace"):
        parse_y4m_header(b"YUV4MPEG2 W8 H6 F30:1 C411\n")
    with pytest.raises(ValueError, match="W/H/F"):
        parse_y4m_header(b"YUV4MPEG2 W8 H6\n")


def test_y4m_marker_video_matches_frame_row_path(spark, tmp_path):
    """Verdict r10 #3, the done-condition: a synthesized Y4M video
    round-trips through marker_pixel_pipeline to the SAME planted
    position clusters as the frame-row path. The video is the planted
    41-frame marker/noise sequence of the detect_frame_markers e2e pin,
    shot at F1:21600 (one frame per 6 h — Y4M fps is an arbitrary
    rational, so epoch structure is the header's job, not a synthetic
    ts column's), read back via read_y4m_frames with an explicit
    user_ids mapping and start_ts anchor."""
    import datetime
    import os

    import numpy as np

    from vedb_gaze_spark.plans.pipeline import marker_pixel_pipeline
    from vedb_gaze_spark.sources.y4m import encode_y4m, read_y4m_frames

    H, W = 100, 200
    base_t = 1_700_000_000
    frames_np = []
    for s in range(41):
        j = ((s // 2) % 5) - 2
        a = np.zeros((H, W), dtype=np.uint8)
        if s % 2 == 0:
            a[47:54, 157 + j : 164 + j] = 255
        else:
            a[20:25, 6 + j : 11 + j] = 255
        frames_np.append(a)

    vdir = str(tmp_path / "vids")
    os.makedirs(vdir)
    with open(os.path.join(vdir, "cam7.y4m"), "wb") as fh:
        fh.write(encode_y4m(frames_np, fps=(1, 21_600)))

    got = read_y4m_frames(
        spark,
        vdir,
        user_ids={"cam7.y4m": 7},
        start_ts=datetime.datetime.utcfromtimestamp(base_t),
    )
    rows = got.orderBy("frame_id").collect()
    assert len(rows) == 41
    assert {r.user_id for r in rows} == {7}
    assert rows[1].ts == datetime.datetime.utcfromtimestamp(
        base_t + 21_600
    )

    # frame-row reference path: identical pixels, identical timestamps
    from vedb_gaze_spark.operators.multimodal import encode_pnm

    ref_rows = [
        (
            7,
            s,
            datetime.datetime.utcfromtimestamp(base_t + s * 21_600),
            bytearray(encode_pnm(frames_np[s])),
        )
        for s in range(41)
    ]
    ref = spark.createDataFrame(
        ref_rows, "user_id long, frame_id long, ts timestamp, payload binary"
    )
    via_y4m = sorted(map(tuple, marker_pixel_pipeline(got).collect()))
    via_rows = sorted(map(tuple, marker_pixel_pipeline(ref).collect()))
    assert via_y4m == via_rows and len(via_y4m) == 3
    for c in marker_pixel_pipeline(got).collect():
        assert 158.0 <= c.med_value <= 162.0 and c.n_in_cell == 6, c


def test_y4m_pupil_and_world_videos_recover_planted_linear_map(
    spark, tmp_path
):
    """Verdict r10 #3, pupil side: eye + world Y4M videos (1 fps; the
    world camera started 0.25 s after the eye camera, inside the match
    tolerance) drive pupil_pixel_pipeline end-to-end from FILES —
    planted linear map (mx = 0.1 + 0.8*px, my = 0.05 + 0.5*py)
    recovered to ~1e-3 with ~zero angular error, exactly like the
    frame-row test."""
    import datetime
    import os

    import numpy as np

    from vedb_gaze_spark.plans.pipeline import pupil_pixel_pipeline
    from vedb_gaze_spark.sources.y4m import encode_y4m, read_y4m_frames

    EH, EW = 100, 200
    WH, WW = 300, 400
    base = 1_700_000_000
    yy_e, xx_e = np.mgrid[0:EH, 0:EW]
    eye_np, world_np = [], []
    for s in range(20):
        cx, cy = 40 + 5 * s, 30 + 2 * s
        a = np.full((EH, EW), 180, dtype=np.uint8)
        el = ((xx_e - cx) / 10.0) ** 2 + ((yy_e - cy) / 6.0) ** 2 <= 1.0
        a[el] = 20
        eye_np.append(a)
        mx_px, my_px = 104 + 8 * s, 60 + 3 * s
        b = np.zeros((WH, WW), dtype=np.uint8)
        b[my_px - 3 : my_px + 4, mx_px - 3 : mx_px + 4] = 255
        world_np.append(b)

    edir, wdir = str(tmp_path / "eye"), str(tmp_path / "world")
    os.makedirs(edir)
    os.makedirs(wdir)
    with open(os.path.join(edir, "eye0.y4m"), "wb") as fh:
        fh.write(encode_y4m(eye_np, fps=(1, 1)))
    with open(os.path.join(wdir, "world0.y4m"), "wb") as fh:
        fh.write(encode_y4m(world_np, fps=(1, 1)))

    t0 = datetime.datetime.utcfromtimestamp(base)
    eye_df = read_y4m_frames(
        spark, edir, user_ids={"eye0.y4m": 5}, start_ts=t0
    )
    world_df = read_y4m_frames(
        spark,
        wdir,
        user_ids={"world0.y4m": 5},
        start_ts=t0 + datetime.timedelta(milliseconds=250),
    )
    out = pupil_pixel_pipeline(eye_df, world_df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pairs == 20, r
    assert abs(r.slope_x - 0.8) < 1e-3 and abs(r.intercept_x - 0.1) < 1e-3, r
    assert abs(r.slope_y - 0.5) < 1e-3 and abs(r.intercept_y - 0.05) < 1e-3, r
    assert r.rmse_deg < 0.05 and r.median_err_deg < 0.05, r


# ---------------------------------------------------------------------
# pldata capture-format source (sources/pldata.py)
# ---------------------------------------------------------------------


def test_msgpack_codec_spec_vectors_and_roundtrip():
    """The pure-Python codec must match the PUBLIC MessagePack spec
    byte-for-byte — pinned with the spec's own front-page example and
    hand-assembled boundary encodings, then a structural round-trip."""
    from vedb_gaze_spark.sources.pldata import (
        msgpack_packb,
        msgpack_unpackb,
    )

    # msgpack.org front-page example: {"compact":true,"schema":0}
    assert (
        msgpack_packb({"compact": True, "schema": 0}).hex()
        == "82a7636f6d70616374c3a6736368656d6100"
    )
    # int width boundaries (spec families: fixint/uint8..64/int8..64)
    vectors = {
        0: "00", 127: "7f", 128: "cc80", 255: "ccff", 256: "cd0100",
        65535: "cdffff", 65536: "ce00010000", 2**32: "cf0000000100000000",
        -1: "ff", -32: "e0", -33: "d0df", -128: "d080", -129: "d1ff7f",
        -32769: "d2ffff7fff", -(2**31) - 1: "d3ffffffff7fffffff",
    }
    for val, hexs in vectors.items():
        assert msgpack_packb(val).hex() == hexs, (val, hexs)
        assert msgpack_unpackb(bytes.fromhex(hexs)) == val
    # float64, str framings, bin framing, nil/bool
    assert msgpack_packb(1.5).hex() == "cb3ff8000000000000"
    assert msgpack_packb("a" * 31)[0] == 0xBF  # fixstr max
    assert msgpack_packb("a" * 32)[:2] == b"\xd9\x20"  # str8
    assert msgpack_packb(b"\x01\x02")[:2] == b"\xc4\x02"  # bin8
    assert msgpack_packb(None) == b"\xc0"
    assert msgpack_unpackb(b"\xca\x3f\xc0\x00\x00") == 1.5  # float32
    # structural round-trip with nesting, the capture-datum shape
    datum = {
        "topic": "pupil.0",
        "timestamp": 1234.5625,
        "confidence": 0.98,
        "norm_pos": [0.25, 0.75],
        "ellipse": {"center": [96.0, 60.0], "axes": [14.0, 10.0],
                    "angle": 30.0},
        "id": 0,
        "flags": [True, False, None],
        "raw": b"\x00\xff",
    }
    assert msgpack_unpackb(msgpack_packb(datum)) == datum
    # ext types are rejected loudly, not mis-decoded
    import pytest

    with pytest.raises(ValueError, match="unsupported msgpack type"):
        msgpack_unpackb(b"\xd4\x01\x00")
    with pytest.raises(ValueError, match="truncated"):
        msgpack_unpackb(b"\xcd\x01")


def test_parse_npy_matches_numpy_save(tmp_path):
    """The executor-side NPY parser must agree with np.load on
    everything np.save writes for scalar dtypes, incl. 2-D and
    Fortran-order layouts; object arrays are refused."""
    import numpy as np
    import pytest

    from vedb_gaze_spark.sources.pldata import parse_npy

    cases = [
        np.arange(7, dtype="float64") * 0.5,
        np.arange(6, dtype="int32").reshape(2, 3),
        np.asfortranarray(np.arange(12, dtype="float32").reshape(3, 4)),
        np.array([], dtype="float64"),
    ]
    for i, arr in enumerate(cases):
        p = tmp_path / f"a{i}.npy"
        np.save(p, arr)
        got = parse_npy(p.read_bytes())
        assert got.dtype == arr.dtype and got.shape == arr.shape
        assert np.array_equal(got, arr)
    with pytest.raises(ValueError, match="bad magic"):
        parse_npy(b"not-npy")


def test_pldata_roundtrip_and_csv_export_parity(spark, tmp_path):
    """write_pldata (PLData_Writer twin, file_methods.py:157) →
    read_pldata (load_pldata_file twin, :133): values, sidecar clock,
    per-recording idx, empty-on-missing contract — and the binary
    capture must read BACK the same gaze columns the CSV-export reader
    produces for the same samples (one capture, two serializations)."""
    from vedb_gaze_spark.sources.pldata import (
        GAZE_FIELDS,
        read_pldata,
        write_pldata,
    )

    def gaze_datum(ts, conf, nx, ny):
        return {
            "topic": "gaze.3d.0",
            "timestamp": ts,
            "confidence": conf,
            "norm_pos": [nx, ny],
        }

    samples = {
        "rec_a": [
            gaze_datum(10.0, 0.99, 0.25, 0.75),
            gaze_datum(10.1, 0.42, 0.30, 0.70),
            gaze_datum(10.2, 0.88, 0.35, 0.65),
        ],
        "rec_b": [gaze_datum(20.0, 0.50, 0.10, 0.90)],
    }
    root = tmp_path / "sessions"
    for rec, datums in samples.items():
        write_pldata(str(root / rec), "gaze", datums)

    df = read_pldata(spark, str(root / "*"), "gaze", fields=GAZE_FIELDS)
    rows = {(r.recording, r.idx): r for r in df.collect()}
    assert len(rows) == 4
    r = rows[("rec_a", 1)]
    assert r.topic == "gaze.3d.0"
    assert r.capture_ts == 10.1 and r.timestamp == 10.1
    assert r.confidence == 0.42
    assert (r.norm_pos_x, r.norm_pos_y) == (0.30, 0.70)
    assert rows[("rec_b", 0)].capture_ts == 20.0

    # pupil-field extraction: missing fields are nulls, nested paths work
    pupil = {
        "topic": "pupil.0",
        "timestamp": 5.0,
        "confidence": 0.9,
        "norm_pos": [0.5, 0.5],
        "ellipse": {"center": [96.0, 60.0], "axes": [14.0, 10.0],
                    "angle": 30.0},
        "id": 1,
    }
    write_pldata(str(root / "rec_c"), "pupil", [pupil])
    pr = read_pldata(spark, str(root / "rec_c"), "pupil").collect()[0]
    assert pr.ellipse_center_x == 96.0 and pr.ellipse_angle == 30.0
    assert pr.eye_id == 1
    assert pr.diameter is None and pr.luminance is None  # absent -> null

    # the reference's IOError -> empty contract: missing topic/dir
    assert read_pldata(spark, str(root / "*"), "odometry").count() == 0
    assert read_pldata(spark, str(tmp_path / "nope"), "gaze").count() == 0

    # missing sidecar degrades to null capture_ts, datums still read
    # (fresh root: Spark's session FileStatusCache pins prior listings)
    import os as _os

    root2 = tmp_path / "sessions2"
    write_pldata(str(root2 / "rec_a"), "gaze", samples["rec_a"])
    write_pldata(str(root2 / "rec_b"), "gaze", samples["rec_b"])
    _os.remove(str(root2 / "rec_b" / "gaze_timestamps.npy"))
    df2 = read_pldata(spark, str(root2 / "*"), "gaze", fields=GAZE_FIELDS)
    got = {(r.recording, r.idx): r.capture_ts for r in df2.collect()}
    assert got[("rec_b", 0)] is None and got[("rec_a", 0)] == 10.0

    # CSV-export parity: same samples through the plab CSV reader give
    # the same gaze columns (binary capture == export serialization)
    from vedb_gaze_spark.sources.plab_csv import gaze_csv_path, read_gaze_csv

    sess = tmp_path / "sess"
    csv_path = gaze_csv_path(str(sess), 0)
    _os.makedirs(_os.path.dirname(csv_path), exist_ok=True)
    with open(csv_path, "w") as fh:
        fh.write("gaze_timestamp,confidence,norm_pos_x,norm_pos_y\n")
        for d in samples["rec_a"]:
            fh.write(
                f"{d['timestamp']},{d['confidence']},"
                f"{d['norm_pos'][0]},{d['norm_pos'][1]}\n"
            )
    via_csv = sorted(
        (r.gaze_timestamp, r.confidence, r.norm_pos_x, r.norm_pos_y)
        for r in read_gaze_csv(spark, str(sess), 0).collect()
    )
    via_pldata = sorted(
        (r.timestamp, r.confidence, r.norm_pos_x, r.norm_pos_y)
        for r in df.where("recording = 'rec_a'").collect()
    )
    assert via_csv == via_pldata


def test_pldata_deep_glob_recordings_do_not_collide(spark, tmp_path):
    """Recording identity under a deeper glob (ADVICE r11): two
    recordings sharing a dir BASENAME (subjects/*/session1) must stay
    distinct on the (recording, idx) sidecar-join key — the old
    basename identity collided them, duplicating rows and attaching the
    wrong capture_ts. Identity is now the capture dir's path relative
    to the glob's static root; single-dir reads keep the basename."""
    from vedb_gaze_spark.sources.pldata import (
        GAZE_FIELDS,
        read_pldata,
        write_pldata,
    )

    def datum(ts):
        return {
            "topic": "gaze.3d.0",
            "timestamp": ts,
            "confidence": 0.9,
            "norm_pos": [0.1, 0.2],
        }

    root = tmp_path / "subjects"
    write_pldata(str(root / "s1" / "session1"), "gaze", [datum(1.0)])
    write_pldata(
        str(root / "s2" / "session1"), "gaze", [datum(2.0), datum(2.1)]
    )
    df = read_pldata(
        spark, str(root / "*" / "session1"), "gaze", fields=GAZE_FIELDS
    )
    rows = {(r.recording, r.idx): r for r in df.collect()}
    # 3 datums total, no duplication, distinct recording ids
    assert len(rows) == 3
    assert rows[("s1/session1", 0)].capture_ts == 1.0
    assert rows[("s2/session1", 1)].capture_ts == 2.1


def test_pupil_edge_refinement_sharpens_ragged_blob(spark):
    """detect_pupil_frames(refine='edge') — the Detector2D-style
    refinement from public algorithms (Canny + direct LSQ ellipse fit
    + outline support, operators/pupil_edge.py). A clean planted
    ellipse survives refinement near-exactly; a RAGGED blob (interior
    speckle bites the moments estimate) refines CLOSER to the true
    boundary than the moments detector; a low-contrast blob (no Canny
    edges) falls back to the moments row bit-for-bit."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_pupil_frames,
        encode_pnm,
    )

    H, W = 120, 160
    base = 1_700_000_000
    yy, xx = np.mgrid[0:H, 0:W]

    def frame(fid, arr):
        return (
            1, fid, datetime.datetime.utcfromtimestamp(base + fid),
            bytearray(encode_pnm(arr)),
        )

    rows = []
    # f0: clean tilted ellipse (truth: c=(80,60), full axes 44/26, 20 deg)
    a = np.full((H, W), 190, dtype=np.uint8)
    th = np.radians(20.0)
    u = (xx - 80.0) * np.cos(th) + (yy - 60.0) * np.sin(th)
    v = -(xx - 80.0) * np.sin(th) + (yy - 60.0) * np.cos(th)
    clean = (u / 22.0) ** 2 + (v / 13.0) ** 2 <= 1.0
    a[clean] = 25
    rows.append(frame(0, a))
    # f1: same ellipse with the CORE hollowed out (specular highlight /
    # IR glint eats the pupil interior) — the annulus mass inflates the
    # moment axes while the outer boundary stays intact
    b = a.copy()
    hole = (u / 22.0) ** 2 + (v / 13.0) ** 2 <= 0.6 ** 2
    b[hole] = 190
    rows.append(frame(1, b))
    # f2: low-contrast blob — below any Canny threshold, fallback path
    c = np.full((H, W), 70, dtype=np.uint8)
    c[(xx - 60) ** 2 + (yy - 60) ** 2 <= 12 ** 2] = 55
    rows.append(frame(2, c))

    df = spark.createDataFrame(
        rows, "user_id bigint, frame_id bigint, ts timestamp, payload binary"
    )
    plain = {
        r.frame_id: r for r in detect_pupil_frames(df).collect()
    }
    refined = {
        r.frame_id: r
        for r in detect_pupil_frames(df, refine="edge").collect()
    }

    # clean ellipse: both paths near truth; refined stays tight
    t0 = refined[0]
    assert abs(t0.x - 80.0) < 1.0 and abs(t0.y - 60.0) < 1.0
    assert abs(t0.axis_major - 44.0) < 2.5
    assert abs(t0.axis_minor - 26.0) < 2.5
    assert abs(t0.angle_deg - 20.0) < 4.0
    assert t0.confidence > 0.85  # outline support, not roundness

    # ragged blob: moments axes collapse under the holes (area-based);
    # the edge fit recovers the true boundary
    m1, r1 = plain[1], refined[1]
    true_maj, true_min = 44.0, 26.0
    m_err = abs(m1.axis_major - true_maj) + abs(m1.axis_minor - true_min)
    r_err = abs(r1.axis_major - true_maj) + abs(r1.axis_minor - true_min)
    assert m_err > 4.0, f"speckle should bias the moments path ({m_err})"
    assert r_err < 2.5, f"edge fit should recover the boundary ({r_err})"
    assert r_err < m_err
    assert abs(r1.x - 80.0) < 1.0 and abs(r1.y - 60.0) < 1.0

    # low contrast: no edges -> the refined row IS the moments row
    m2, r2 = plain[2], refined[2]
    for k in ("x", "y", "axis_minor", "axis_major", "angle_deg",
              "confidence", "luminance"):
        assert getattr(m2, k) == getattr(r2, k), k


def test_pupil_edge_kernels_are_exact_on_analytic_inputs():
    """The pure-numpy kernels behind refine='edge': direct LSQ fit is
    exact on analytic ellipse points (incl. the angle convention
    matching the moments detector), Canny localizes a disk boundary to
    ~1 px, NMS thins edges, and degenerate fits return None."""
    import numpy as np

    from vedb_gaze_spark.operators.pupil_edge import (
        canny_edges,
        conic_to_ellipse,
        fit_ellipse_direct,
        outline_support,
    )

    t = np.linspace(0, 2 * np.pi, 48, endpoint=False)
    for sa, sb, ang_t in [(20.0, 12.0, 25.0), (15.0, 15.0, 0.0),
                          (30.0, 9.0, -70.0)]:
        th = np.radians(ang_t)
        x = 50 + sa * np.cos(t) * np.cos(th) - sb * np.sin(t) * np.sin(th)
        y = 40 + sa * np.cos(t) * np.sin(th) + sb * np.sin(t) * np.cos(th)
        got = conic_to_ellipse(fit_ellipse_direct(x, y))
        assert got is not None
        gx, gy, gmaj, gmin, gang = got
        assert abs(gx - 50) < 1e-6 and abs(gy - 40) < 1e-6
        assert abs(gmaj - 2 * sa) < 1e-6 and abs(gmin - 2 * sb) < 1e-6
        if sa != sb:  # angle undefined for circles
            d = abs(gang - ang_t) % 180.0
            assert min(d, 180.0 - d) < 1e-6, (gang, ang_t)

    # degenerate inputs refuse, never return garbage
    assert fit_ellipse_direct(np.arange(5.0), np.arange(5.0)) is None
    line = np.arange(10.0)
    assert (
        fit_ellipse_direct(line, 2 * line) is None
        or conic_to_ellipse(fit_ellipse_direct(line, 2 * line)) is None
    )

    # Canny on a disk: thin ring at the radius, nothing in the flats
    img = np.full((80, 80), 200.0)
    yy, xx = np.mgrid[0:80, 0:80]
    img[(xx - 40) ** 2 + (yy - 40) ** 2 <= 15 ** 2] = 30.0
    e = canny_edges(img)
    py_, px_ = np.nonzero(e)
    r = np.sqrt((px_ - 40.0) ** 2 + (py_ - 40.0) ** 2)
    assert e.sum() > 40  # a ring's worth of pixels
    assert r.min() > 13.0 and r.max() < 17.0  # localized to ~1 px
    assert not canny_edges(np.full((40, 40), 99.0)).any()
    sup = outline_support(e, 40.0, 40.0, 30.0, 30.0, 0.0)
    assert sup > 0.95  # the ring supports its own circle
    assert outline_support(e, 40.0, 40.0, 60.0, 60.0, 0.0) < 0.2


def test_pldata_capture_to_calibration_end_to_end(spark, tmp_path):
    """A reference user's actual workflow off disk: pupil datums and
    reference-marker datums land as pldata captures; read_pldata loads
    both topics, nearest-clock pairing builds the canonical point
    table, and calibration_linear_points recovers the planted linear
    gaze map with ~zero residual — the capture-file-to-calibration
    chain (load_pldata_file → calibrate, reference pipelines.py) with
    no CSV export step."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.calibration import (
        calibration_linear_points,
    )
    from vedb_gaze_spark.sources.pldata import read_pldata, write_pldata

    rec = tmp_path / "cap" / "rec0"
    # planted gaze map: g = (0.8 px + 0.1, 0.5 py + 0.05)
    pupil, ref = [], []
    for i in range(40):
        ts = 100.0 + i * 0.1
        px = 0.1 + (i % 10) * 0.08
        py = 0.2 + (i % 8) * 0.09
        pupil.append(
            {
                "topic": "pupil.0",
                "timestamp": ts,
                "confidence": 0.95,
                "norm_pos": [px, py],
                "id": 0,
            }
        )
        ref.append(
            {
                "topic": "gaze.marker",
                "timestamp": ts + 0.01,  # marker clock slightly offset
                "confidence": 1.0,
                "norm_pos": [0.8 * px + 0.1, 0.5 * py + 0.05],
            }
        )
    write_pldata(str(rec), "pupil", pupil)
    write_pldata(str(rec), "marker", ref)

    pup = read_pldata(spark, str(rec), "pupil").where(
        F.col("confidence") > 0.6
    )
    mrk = read_pldata(
        spark,
        str(rec),
        "marker",
        fields={
            "timestamp": ("timestamp", "double"),
            "norm_pos_x": ("norm_pos.0", "double"),
            "norm_pos_y": ("norm_pos.1", "double"),
        },
    )
    # nearest-clock pairing on the shared capture index (both topics
    # write one datum per sample here; the general path is match_nearest)
    pts = (
        pup.select(
            "idx",
            F.lit(1).alias("user_id"),
            F.col("norm_pos_x").alias("px"),
            F.col("norm_pos_y").alias("py"),
        )
        .join(
            mrk.select(
                "idx",
                F.col("norm_pos_x").alias("gx"),
                F.col("norm_pos_y").alias("gy"),
            ),
            "idx",
        )
    )
    fit = calibration_linear_points(pts).collect()[0]
    assert fit.n_points == 40
    assert abs(fit.slope_x - 0.8) < 1e-6 and abs(fit.intercept_x - 0.1) < 1e-6
    assert abs(fit.slope_y - 0.5) < 1e-6 and abs(fit.intercept_y - 0.05) < 1e-6
    assert fit.rmse < 1e-6


def test_pldata_odometry_capture_to_kinematics_end_to_end(spark, tmp_path):
    """ODOMETRY_FIELDS preset + capture-to-kinematics chain (r13
    verdict #4; reference odometry.py:27 load_odometry reads
    tracker_confidence / position / orientation quaternion / linear &
    angular velocity & acceleration from odometry.pldata, then derives
    euler angles (:97) and speed): a planted constant-velocity,
    yaw-rotating trajectory lands as a real odometry.pldata capture;
    read_pldata(ODOMETRY_FIELDS) exposes every load_odometry field as
    a typed column, euler_cols recovers the planted yaw ramp from the
    (w,x,y,z) quaternion, speed_from_positions recovers |v| from the
    position stream, and smooth_savgol rides the speed signal —
    capture file to smoothed kinematics with no intermediate export."""
    import math

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.labeling import euler_cols
    from vedb_gaze_spark.operators.odometry import speed_from_positions
    from vedb_gaze_spark.operators.smoothing import smooth_savgol
    from vedb_gaze_spark.sources.pldata import (
        ODOMETRY_FIELDS,
        read_pldata,
        write_pldata,
    )

    rec = tmp_path / "cap" / "rec0"
    vx, vy, vz = 0.5, 0.3, 0.1
    speed = math.sqrt(vx * vx + vy * vy + vz * vz)
    datums = []
    for i in range(100):
        t = i / 200.0  # the reference's 200 Hz tracker clock
        yaw = 0.4 + 0.001 * i
        datums.append(
            {
                "topic": "odometry",
                "timestamp": 100.0 + t,
                "source_timestamp": 100.0 + t,  # popped by load_odometry
                "tracker_confidence": 3,
                "position": [vx * t, vy * t, vz * t],
                "orientation": [
                    math.cos(yaw / 2), 0.0, 0.0, math.sin(yaw / 2)
                ],
                "linear_velocity": [vx, vy, vz],
                "angular_velocity": [0.0, 0.0, 0.2],
                "linear_acceleration": [0.0, 0.0, 0.0],
                "angular_acceleration": [0.0, 0.0, 0.0],
            }
        )
    write_pldata(str(rec), "odometry", datums)

    odo = read_pldata(spark, str(rec), "odometry", fields=ODOMETRY_FIELDS)
    rows = odo.orderBy("idx").collect()
    assert len(rows) == 100
    # every load_odometry data_field surfaces as a typed column
    for c in ODOMETRY_FIELDS:
        assert c in odo.columns, c
    assert rows[0].tracker_confidence == 3.0
    assert abs(rows[40].pos_x - vx * 0.2) < 1e-12
    assert abs(rows[40].lin_vel_y - vy) < 1e-12
    assert abs(rows[40].ang_vel_z - 0.2) < 1e-12

    # quaternion → euler: the planted pure-yaw ramp comes back exactly
    roll, pitch, yaw = euler_cols(
        F.col("quat_w"), F.col("quat_x"), F.col("quat_y"), F.col("quat_z")
    )
    ang = odo.select(
        "idx", roll.alias("roll"), pitch.alias("pitch"), yaw.alias("yaw")
    ).orderBy("idx").collect()
    for r in ang:
        assert abs(r.roll) < 1e-9 and abs(r.pitch) < 1e-9
        assert abs(r.yaw - (0.4 + 0.001 * r.idx)) < 1e-9

    # position stream → speed: constant-velocity trajectory → |v| on
    # every interior sample (convert_speed views ride along)
    p = odo.select(
        F.lit(1).alias("user_id"),
        F.col("idx").alias("event_id"),
        F.col("timestamp").alias("t"),
        F.col("pos_x").alias("x"),
        F.col("pos_y").alias("y"),
        F.col("pos_z").alias("z"),
    )
    sp = speed_from_positions(p).collect()
    assert len(sp) == 99  # first sample has no predecessor
    for r in sp:
        assert abs(r.speed_mps - speed) < 1e-5
        assert abs(r.speed_mph - speed * 3600.0 / 1609.34) < 1e-4

    # savgol over the capture-fed speed signal (odometry.py:27's
    # smoothing stage): a constant signal is a fixed point
    ev = odo.select(
        F.lit(1).alias("user_id"),
        F.col("idx").alias("event_id"),
        F.timestamp_micros(
            (F.col("timestamp") * 1_000_000).cast("long")
        ).alias("ts"),
        F.sqrt(
            F.col("lin_vel_x") ** 2
            + F.col("lin_vel_y") ** 2
            + F.col("lin_vel_z") ** 2
        ).alias("value"),
    )
    sm = smooth_savgol(ev).collect()
    assert len(sm) == 100 - 6  # 7-point interior-only kernel
    for r in sm:
        assert abs(r.smoothed - speed) < 1e-6


def test_msgpack_codec_roundtrip_property():
    """Property test (SURVEY §5): arbitrary nested capture-shaped
    objects survive pack→unpack exactly. Tuples normalize to lists
    (msgpack arrays), everything else is identity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vedb_gaze_spark.sources.pldata import (
        msgpack_packb,
        msgpack_unpackb,
    )

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False),
        st.text(max_size=40),
        st.binary(max_size=40),
    )
    nested = st.recursive(
        scalars,
        lambda inner: st.one_of(
            st.lists(inner, max_size=5),
            st.dictionaries(st.text(max_size=8), inner, max_size=5),
        ),
        max_leaves=25,
    )

    @settings(max_examples=150, deadline=None)
    @given(nested)
    def roundtrip(obj):
        assert msgpack_unpackb(msgpack_packb(obj)) == obj

    roundtrip()


def test_pldata_sink_roundtrips_recordings(spark, tmp_path):
    """write_pldata_recordings (the distributed PLData_Writer): typed
    rows packed back into per-recording capture files read back
    identically through read_pldata — nested ellipse paths rebuilt,
    sidecar carried from capture_ts, absent fields stay absent."""
    from vedb_gaze_spark.sources.pldata import (
        read_pldata,
        write_pldata,
        write_pldata_recordings,
    )

    src = tmp_path / "orig"
    datums_a = [
        {
            "topic": "pupil.0",
            "timestamp": 5.0 + i,
            "confidence": 0.9 - 0.1 * i,
            "norm_pos": [0.5, 0.4 + 0.05 * i],
            "diameter": 30.0 + i,
            "ellipse": {
                "center": [96.0 + i, 60.0],
                "axes": [14.0, 10.0],
                "angle": 30.0 * i,
            },
            "id": 0,
        }
        for i in range(3)
    ]
    # rec_b's datums LACK ellipse/diameter — absence must round-trip
    datums_b = [
        {
            "topic": "pupil.1",
            "timestamp": 9.5,
            "confidence": 0.3,
            "norm_pos": [0.1, 0.2],
            "id": 1,
        }
    ]
    write_pldata(str(src / "rec_a"), "pupil", datums_a)
    write_pldata(str(src / "rec_b"), "pupil", datums_b)

    orig = read_pldata(spark, str(src / "*"), "pupil")
    out_root = tmp_path / "written"
    write_pldata_recordings(orig, str(out_root), "pupil")
    back = read_pldata(spark, str(out_root / "*"), "pupil")

    key = lambda r: (r.recording, r.idx)  # noqa: E731
    a = sorted(map(tuple, orig.collect()), key=lambda t: (t[0], t[1]))
    b = sorted(map(tuple, back.collect()), key=lambda t: (t[0], t[1]))
    assert a == b and len(a) == 4
    # the sidecar really was rebuilt (not defaulted): capture clocks
    rb = {r.idx: r.capture_ts for r in back.where(
        "recording = 'rec_a'").collect()}
    assert rb == {0: 5.0, 1: 6.0, 2: 7.0}


def test_intrinsics_store_roundtrip_and_pose_from_store(spark, tmp_path):
    """Camera-calibration persistence (r12; reference
    file_methods.py:348/:377): (a) save_intrinsics maintains one
    msgpack file per camera with per-resolution REPLACE semantics and
    version:1; (b) save_extrinsics UPDATES (merges) an existing
    resolution entry; (c) read_intrinsics lifts the store into one
    typed DataFrame; (d) marker_3d_pose_from_store resolves its
    pinhole model from the store and returns the kwargs path's rows
    bit-for-bit."""
    import datetime

    from vedb_gaze_spark.operators.multimodal import marker_3d_pose
    from vedb_gaze_spark.sources.intrinsics import (
        load_intrinsics,
        load_object,
        marker_3d_pose_from_store,
        read_intrinsics,
        save_extrinsics,
        save_intrinsics,
    )

    d = str(tmp_path / "calib")
    K = [[600.0, 0.0, 320.0], [0.0, 600.0, 240.0], [0.0, 0.0, 1.0]]
    intr = {
        "camera_matrix": K,
        "dist_coefs": [[0.1, -0.05, 0.001, 0.0, 0.0]],
        "cam_type": "radial",
    }
    save_intrinsics(d, "Pupil Cam 1 ID2", (640, 480), intr)
    # second resolution for the same camera lands in the SAME file
    save_intrinsics(
        d, "Pupil Cam 1 ID2", (1280, 720),
        {"camera_matrix": [[1200.0, 0.0, 640.0],
                           [0.0, 1200.0, 360.0], [0.0, 0.0, 1.0]],
         "dist_coefs": [[0.0] * 5], "cam_type": "radial"},
    )
    raw = load_object(str(tmp_path / "calib" / "Pupil_Cam_1_ID2.intrinsics"))
    assert raw["version"] == 1
    assert set(raw) == {"version", "(640, 480)", "(1280, 720)"}
    got = load_intrinsics(d, "Pupil Cam 1 ID2", (640, 480))
    assert got["camera_matrix"] == K and got["cam_type"] == "radial"
    # replace semantics: re-saving a resolution overwrites its entry
    save_intrinsics(
        d, "Pupil Cam 1 ID2", (640, 480), {**intr, "cam_type": "fisheye"}
    )
    assert load_intrinsics(d, "Pupil Cam 1 ID2", (640, 480))[
        "cam_type"
    ] == "fisheye"

    # extrinsics: update semantics merge new keys into the entry
    save_extrinsics(d, "world", (640, 480), {"rotation": [0.0, 0.0, 0.0]})
    save_extrinsics(d, "world", (640, 480), {"translation": [1.0, 2.0, 3.0]})
    ext = load_object(str(tmp_path / "calib" / "world.extrinsics"))
    assert set(ext["(640, 480)"]) == {"rotation", "translation"}

    # typed Spark face: one row per (camera, resolution)
    rows = {
        (r.cam_name, r.res_w): r for r in read_intrinsics(spark, d).collect()
    }
    assert set(rows) == {
        ("Pupil_Cam_1_ID2", 640), ("Pupil_Cam_1_ID2", 1280)
    }
    r = rows[("Pupil_Cam_1_ID2", 640)]
    assert r.camera_matrix == [600.0, 0.0, 320.0, 0.0, 600.0, 240.0,
                               0.0, 0.0, 1.0]
    assert r.dist_coefs[:2] == [0.1, -0.05] and r.cam_type == "fisheye"

    # pose-from-store ≡ kwargs path bit-for-bit
    FX = FY = 600.0
    CX, CY = 320.0, 240.0
    D = 7.6
    ts0 = datetime.datetime.utcfromtimestamp(1_700_000_000)
    X, Y, Z = 20.0, -10.0, 500.0
    u, v = CX + FX * X / Z, CY + FY * Y / Z
    dia = FX * D / Z
    ell = spark.createDataFrame(
        [(1, 0, ts0, 1, u, v, dia, dia, 0.0, 1.0, u / 640, v / 480)],
        "user_id long, frame_id long, ts timestamp, marker_id int, "
        "x double, y double, axis_minor double, axis_major double, "
        "angle_deg double, confidence double, norm_x double, norm_y double",
    )
    save_intrinsics(d, "world cam", (640, 480), intr)
    via_store = marker_3d_pose_from_store(
        ell, d, "world cam", (640, 480), marker_diameter=D
    ).collect()
    via_kwargs = marker_3d_pose(ell, FX, FY, CX, CY, D).collect()
    assert [tuple(r) for r in via_store] == [tuple(r) for r in via_kwargs]
    assert abs(via_store[0].tz - Z) < 1e-3


def test_capture_ingest_parallelism_is_file_granular(spark, tmp_path):
    """The file-count scaling pin behind slope_bench's ingest family
    (r12): capture files are binaryFile sources — unsplittable, so no
    file spans tasks, and with the bin-packing budget below the file
    size each file gets its OWN partition: ingest parallelism scales
    with file count (the 100 TB story: a rig writes one file per
    recording; a sweep over N recordings is N-way parallel)."""
    import numpy as np

    from vedb_gaze_spark.sources.pldata import read_pldata, write_pldata
    from vedb_gaze_spark.sources.y4m import encode_y4m, read_y4m_frames

    n_files = 6
    pl_root = tmp_path / "pl"
    y4m_root = tmp_path / "y4m"
    y4m_root.mkdir()
    frame = np.arange(64 * 64, dtype=np.uint8).reshape(64, 64)
    for i in range(n_files):
        write_pldata(
            str(pl_root / f"rec_{i}"), "gaze",
            [{"topic": "g", "timestamp": float(j), "confidence": 0.9,
              "norm_pos": [0.5, 0.5]} for j in range(200)],
        )
        (y4m_root / f"seg_{i}.y4m").write_bytes(
            encode_y4m([frame, frame + 1])
        )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # force the bin-packer's budget below one file so packing
        # cannot merge files; unsplittability is then observable
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        pl = read_pldata(spark, str(pl_root / "*"), "gaze")
        assert pl.rdd.getNumPartitions() >= n_files
        assert pl.count() == n_files * 200
        y = read_y4m_frames(spark, str(y4m_root))
        assert y.rdd.getNumPartitions() == n_files  # one task per file
        assert y.count() == n_files * 2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_coordinate_converters_point_grid_and_export_dirs(spark, tmp_path):
    """The last small reference utilities (r12): (a) normalize /
    denormalize pixel<->norm converters incl. the flip_y order
    subtlety (methods.py:55/:69 — normalize flips AFTER the divide,
    denormalize BEFORE the multiply; the composition round-trips to
    float precision), as both scalar twins and codegen column
    expressions;
    (b) get_point_grid (calibration.py:416) — dense-horizontal +
    dense-vertical line layout with the ceil(n/aspect) vertical count;
    (c) next_export_sub_dir (file_methods.py:196) — the 000/001 Pupil
    export numbering."""
    import numpy as np
    import pyspark.sql.functions as F

    from vedb_gaze_spark.functions.coords import (
        denormalize,
        denormalize_cols,
        normalize,
        normalize_cols,
    )
    from vedb_gaze_spark.operators.calibration import (
        point_grid,
        point_grid_df,
    )
    from vedb_gaze_spark.sources.intrinsics import next_export_sub_dir

    # (a) scalar parity with the reference formulas + exact round-trip
    size = (640, 480)
    for flip in (False, True):
        n = normalize((160.0, 120.0), size, flip_y=flip)
        assert n == ((0.25, 0.75) if flip else (0.25, 0.25))
        back = denormalize(n, size, flip_y=flip)
        assert back == (160.0, 120.0)
    # column expressions agree with the scalar twins
    df = spark.createDataFrame(
        [(160.0, 120.0), (0.0, 480.0), (639.0, 1.0)], "px double, py double"
    )
    nx, ny = normalize_cols(F.col("px"), F.col("py"), 640, 480, flip_y=True)
    bx, by = denormalize_cols(nx, ny, 640, 480, flip_y=True)
    for r in df.select("px", "py", nx.alias("nx"), ny.alias("ny"),
                       bx.alias("bx"), by.alias("by")).collect():
        sn = normalize((r.px, r.py), size, flip_y=True)
        assert (r.nx, r.ny) == sn
        assert abs(r.bx - r.px) < 1e-9 and abs(r.by - r.py) < 1e-9

    # (b) point grid: counts and layout mirror the reference recipe
    xg, yg = point_grid(n_points=10, n_horizontal_lines=3,
                        n_vertical_lines=5)
    n_vert_pts = int(np.ceil(10 / (5 / 3)))
    assert len(xg) == 10 * 3 + 5 * n_vert_pts == len(yg)
    # horizontal-line block: y constant per line, x spans [0, 1]
    assert set(np.round(yg[:30], 6)) == {0.0, 0.5, 1.0}
    assert xg[:10].min() == 0.0 and xg[:10].max() == 1.0
    grid_df = point_grid_df(spark, n_points=10, n_horizontal_lines=3,
                            n_vertical_lines=5)
    assert grid_df.count() == len(xg)

    # (c) export numbering: empty -> 000, then increments past gaps
    root = str(tmp_path / "exports")
    import os

    assert next_export_sub_dir(root).endswith("/000")
    os.makedirs(os.path.join(root, "000"))
    os.makedirs(os.path.join(root, "007"))
    assert next_export_sub_dir(root).endswith("/008")
