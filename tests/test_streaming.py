"""Streaming twins: file-source → memory-sink with AvailableNow must equal
the same plan run in batch over the same parquet."""

import datetime

import pytest

from vedb_gaze_spark.sources.tables import load_events_stream, load_table
from vedb_gaze_spark.streaming.sessions import streaming_rate, streaming_sessionize


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.mark.parametrize("op", [streaming_sessionize, streaming_rate])
def test_streaming_matches_batch(op, spark, sf_dir):
    import pyspark.sql.functions as F

    batch = load_table(spark, "events", sf_dir)
    stream_raw = load_events_stream(spark, sf_dir)
    name = f"mem_{op.__name__}"
    q = _run_stream(op(stream_raw), name)
    try:
        got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
        want = {tuple(r) for r in op(batch).collect()}
        assert got == want
        assert len(want) > 0
    finally:
        q.stop()


def test_stateful_blinks_across_batches(spark, sf_dir, tmp_path):
    """streaming_blinks must equal batch detect_blinks for every run that
    CLOSES before end-of-stream, with state carrying open runs across
    micro-batches (two time-split files, maxFilesPerTrigger=1)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.labeling import detect_blinks
    from vedb_gaze_spark.sources.signals import with_gaze
    from vedb_gaze_spark.streaming.stateful import streaming_blinks

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]

    src = str(tmp_path / "stream_src")
    early = batch.where(F.unix_micros("ts") <= mid)
    late = batch.where(F.unix_micros("ts") > mid)
    early.coalesce(1).write.parquet(os.path.join(src, "c0"))
    late.coalesce(1).write.parquet(os.path.join(src, "c1"))
    # force discovery order = time order (file source sorts by mod time)
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_blinks(stream)
        .writeStream.format("memory")
        .queryName("mem_blinks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM mem_blinks").collect()}
        # runs still open at the last sample of a user never close in the
        # stream; exclude them from the batch expectation
        last = with_gaze(batch).groupBy("user_id").agg(
            F.max_by("event_id", F.struct("t", "event_id")).alias("last_id")
        )
        want = {
            tuple(r)
            for r in detect_blinks(batch)
            .join(last, "user_id")
            .where(F.col("end_event_id") != F.col("last_id"))
            .select("user_id", "start_event_id", "end_event_id", "n_events", "duration_s")
            .collect()
        }
        assert got == want
        assert len(want) > 0
    finally:
        q.stop()


def test_streaming_dedup_exact(spark, sf_dir):
    """Streamed exact dedup must surface exactly the batch-distinct set of
    content hashes, one row each."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.streaming.sessions import streaming_dedup_exact

    batch = load_table(spark, "documents", sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        streaming_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName("mem_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = spark.sql("SELECT content_hash, count(*) c FROM mem_dedup GROUP BY 1")
        got_hashes = {r["content_hash"] for r in got.collect()}
        assert all(r["c"] == 1 for r in got.collect())
        want = {r["content_hash"] for r in streaming_dedup_exact(batch).collect()}
        assert got_hashes == want and len(want) > 0
    finally:
        q.stop()


def test_stateful_odometry_across_batches(spark, sf_dir, tmp_path):
    """streaming_odometry must equal batch odometry_speed on every row
    (the first sample per user emits nothing in both forms), with the
    previous-position state surviving the micro-batch boundary."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.odometry import odometry_speed
    from vedb_gaze_spark.streaming.stateful import streaming_odometry

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "odo_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_odometry(stream)
        .writeStream.format("memory")
        .queryName("mem_odo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {r.event_id: r for r in spark.sql("SELECT * FROM mem_odo").collect()}
        want = {r.event_id: r for r in odometry_speed(batch).collect()}
        assert set(got) == set(want)
        assert len(want) > 0
        for k, w in want.items():
            g = got[k]
            assert g.user_id == w.user_id, k
            # both sides round with floor(x*1e6+0.5)/1e6 on the same
            # IEEE doubles since r14 — EXACT equality, and NULL parity
            # at zero speed (the batch's stationary-sample NULL)
            assert g.speed_mps == w.speed_mps, k
            assert g.speed_mph == w.speed_mph, k
            assert g.mins_per_mile == w.mins_per_mile or (
                g.mins_per_mile is None and w.mins_per_mile is None
            ), k
    finally:
        q.stop()


def test_stateful_binocular_across_batches(spark, sf_dir, tmp_path):
    """streaming_binocular must equal the batch operator in its
    pairing="past" mode (the reference's online on_pupil_datum view) on
    every row, with the last-high-conf-sample-per-eye state surviving the
    micro-batch boundary."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.binocular import _eye_fits, gaze_map_binocular
    from vedb_gaze_spark.sources.signals import with_gaze
    from vedb_gaze_spark.streaming.stateful import streaming_binocular

    batch = load_table(spark, "events", sf_dir)
    g = with_gaze(batch).withColumn("eye", (F.col("event_id") % 2).cast("int"))
    fits = {
        (r.user_id, r.eye): (r.ax, r.bx, r.ay, r.by)
        for r in _eye_fits(g).collect()
        if r.ax is not None and r.bx is not None
    }
    assert fits

    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "bin_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_binocular(stream, fits)
        .writeStream.format("memory")
        .queryName("mem_binocular")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            r.event_id: r
            for r in spark.sql("SELECT * FROM mem_binocular").collect()
        }
        want = {
            r.event_id: r
            for r in gaze_map_binocular(batch, pairing="past").collect()
        }
        assert set(got) == set(want)
        assert len(want) > 0
        assert {r.source for r in want.values()} >= {"binocular", "mono0", "mono1"}
        for k, w in want.items():
            gr = got[k]
            assert gr.user_id == w.user_id and gr.source == w.source, k
            assert gr.t_out == w.t_out, k
            # JVM round (BigDecimal HALF_UP) vs Python round at the 6th
            # decimal — compare to a half-ulp-of-rounding tolerance
            assert abs(gr.gaze_x - w.gaze_x) <= 1e-6, k
            assert abs(gr.gaze_y - w.gaze_y) <= 1e-6, k
            assert abs(gr.conf_out - w.conf_out) <= 1e-6, k
    finally:
        q.stop()


def test_stateful_saccades_across_batches(spark, sf_dir, tmp_path):
    """streaming_saccades must equal batch detect_saccades for every run
    closed before end-of-stream; velocity state (previous gaze sample)
    must survive the micro-batch boundary."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.labeling import detect_saccades
    from vedb_gaze_spark.sources.signals import with_gaze
    from vedb_gaze_spark.streaming.stateful import streaming_saccades

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "sacc_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_saccades(stream)
        .writeStream.format("memory")
        .queryName("mem_saccades")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM mem_saccades").collect()}
        last = with_gaze(batch).groupBy("user_id").agg(
            F.max_by("event_id", F.struct("t", "event_id")).alias("last_id")
        )
        want = {
            tuple(r)
            for r in detect_saccades(batch)
            .join(last, "user_id")
            .where(F.col("end_event_id") != F.col("last_id"))
            .select(
                "user_id", "start_event_id", "end_event_id", "n_events",
                "duration_s", "peak_vel", "amplitude_deg",
            )
            .collect()
        }
        assert got == want
        assert len(want) > 0
    finally:
        q.stop()


def test_stateful_fixations_across_batches(spark, sf_dir, tmp_path):
    """streaming_fixations must equal batch detect_fixations for every
    run closed before end-of-stream (a run whose last sample is the
    user's final event stays open in the stream and is excluded)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.labeling import detect_fixations
    from vedb_gaze_spark.sources.signals import with_gaze
    from vedb_gaze_spark.streaming.stateful import streaming_fixations

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "fix_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_fixations(stream)
        .writeStream.format("memory")
        .queryName("mem_fixations")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r.user_id, r.start_event_id, r.end_event_id): r
            for r in spark.sql("SELECT * FROM mem_fixations").collect()
        }
        last = with_gaze(batch).groupBy("user_id").agg(
            F.max_by("event_id", F.struct("t", "event_id")).alias("last_id")
        )
        want = {
            (r.user_id, r.start_event_id, r.end_event_id): r
            for r in detect_fixations(batch)
            .join(last, "user_id")
            .where(F.col("end_event_id") != F.col("last_id"))
            .collect()
        }
        assert set(got) == set(want)
        assert len(want) > 0
        for k, w in want.items():
            g = got[k]
            assert g.n_events == w.n_events and g.duration_s == w.duration_s, k
            # centroid sums run in different orders (window agg vs
            # sequential fold) — compare to float tolerance
            assert abs(g.centroid_x_deg - w.centroid_x_deg) < 1e-4, k
            assert abs(g.centroid_y_deg - w.centroid_y_deg) < 1e-4, k
            assert abs(g.extent_deg - w.extent_deg) < 1e-6, k
    finally:
        q.stop()


def test_stateful_match_asof_across_batches(spark, sf_dir, tmp_path):
    """streaming_match_asof must equal batch match_asof on EVERY row (the
    as-of join is past-only, so no open-run exclusions), with the
    last-signal state surviving the micro-batch boundary."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.temporal import match_asof
    from vedb_gaze_spark.streaming.stateful import streaming_match_asof

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "asof_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_match_asof(stream)
        .writeStream.format("memory")
        .queryName("mem_asof")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {r.event_id: r for r in spark.sql("SELECT * FROM mem_asof").collect()}
        want = {r.event_id: r for r in match_asof(batch).collect()}
        assert set(got) == set(want)
        assert len(want) > 0
        for k, w in want.items():
            g = got[k]
            assert g.user_id == w.user_id, k
            assert g.matched_event_id == w.matched_event_id, k
            # floor(x*1e6+0.5)/1e6 vs JVM BigDecimal HALF_UP — compare to
            # rounding tolerance like the odometry twin
            assert abs(g.dist_sec - w.dist_sec) <= 1e-6, k
    finally:
        q.stop()


def test_streaming_stateless_text_gates(spark, sf_dir):
    """The stateless text family (quality scoring, language ID, token
    counting, stopword scrub) composes over a document STREAM unchanged —
    pure projections need no state, no watermark, no output-mode caveats.
    Streamed results must equal the batch operator row-for-row."""
    from vedb_gaze_spark.operators.text import lang_id, text_quality

    batch = load_table(spark, "documents", sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    df = text_quality(stream).join(lang_id(stream), "doc_id")
    q = (
        df.writeStream.format("memory")
        .queryName("mem_textgates")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM mem_textgates").collect()}
        want = {
            tuple(r)
            for r in text_quality(batch).join(lang_id(batch), "doc_id").collect()
        }
        assert got == want
        assert len(want) > 0
    finally:
        q.stop()


def test_stateful_match_asof_late_signal_never_regresses_state(spark, tmp_path):
    """A signal arriving in a LATER micro-batch with an OLDER event time
    must not replace the stored newer signal: refs after it still match
    the newest signal by (t, event_id) — the batch operator's order.
    (Without the state guard, the late signal would corrupt every
    subsequent ref's match.)"""
    import os

    from vedb_gaze_spark.streaming.stateful import streaming_match_asof

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    base = 1_700_000_000_000_000  # micros

    def rows(*specs):
        return [
            (eid, datetime.datetime.fromtimestamp(base / 1e6 + t, datetime.timezone.utc).replace(tzinfo=None), 1, et)
            for eid, t, et in specs
        ]

    # c0: signal S1(t=10), ref R1(t=11)
    # c1: LATE signal S0(t=5) then refs R2(t=12); fresh signal S2(t=15), ref R3(t=16)
    c0 = rows((100, 10.0, "view"), (200, 11.0, "click"))
    c1 = rows((99, 5.0, "view"), (201, 12.0, "click"),
              (101, 15.0, "view"), (202, 16.0, "click"))
    src = str(tmp_path / "late_src")
    spark.createDataFrame(c0, schema).coalesce(1).write.parquet(os.path.join(src, "c0"))
    spark.createDataFrame(c1, schema).coalesce(1).write.parquet(os.path.join(src, "c1"))
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(src, "c0")).schema
        )
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_match_asof(stream)
        .writeStream.format("memory")
        .queryName("mem_asof_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            r.event_id: r.matched_event_id
            for r in spark.sql("SELECT * FROM mem_asof_late").collect()
        }
        # R1 -> S1; R2 -> S1 (NOT the late S0); R3 -> S2
        assert got == {200: 100, 201: 100, 202: 101}
    finally:
        q.stop()


def test_streaming_dedup_minhash_lsh_matches_batch(spark, sf_dir, tmp_path):
    """Near-dup pair parity across micro-batch boundaries: streaming
    MinHash-LSH over the corpus split into two chronological files must
    emit EXACTLY the batch operator's verified pair set — each pair once
    (the min-band rule), even when its two docs arrive in different
    micro-batches — with per-bucket state bounded by the watermark."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import dedup_minhash_lsh
    from vedb_gaze_spark.streaming.stateful import streaming_dedup_minhash_lsh

    batch = load_table(spark, "documents", sf_dir)
    mid = batch.agg(F.median("doc_id")).collect()[0][0]
    src = str(tmp_path / "mh_src")
    batch.where(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.col("doc_id") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_dedup_minhash_lsh(stream)
        .writeStream.format("memory")
        .queryName("mem_mh")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    try:
        got_rows = spark.sql("SELECT * FROM mem_mh").collect()
        got = {(r.doc_a, r.doc_b, r.jaccard) for r in got_rows}
        want = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup_minhash_lsh(batch).collect()
        }
        assert got == want, (len(got), len(want))
        assert len(want) > 0
        # exactly-once: no pair emitted twice across bands/batches
        assert len(got_rows) == len(got)
        # cross-batch coverage: at least one pair spans the file split
        assert any(a <= mid < b for a, b, _ in got), "no cross-batch pair"
    finally:
        q.stop()


def test_streaming_dedup_embedding_lsh_matches_batch(spark, sf_dir, tmp_path):
    """Embedding near-dup pair parity across micro-batch boundaries:
    streaming sign-LSH over the corpus split into two chronological
    files must emit EXACTLY the batch operator's pair set — scores
    bit-identical (the left-to-right fold), each pair once."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import dedup_embedding_lsh
    from vedb_gaze_spark.streaming.stateful import streaming_dedup_embedding_lsh

    batch = load_table(spark, "embeddings", sf_dir)
    mid = batch.agg(F.median("vec_id")).collect()[0][0]
    src = str(tmp_path / "emb_src")
    batch.where(F.col("vec_id") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.col("vec_id") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_dedup_embedding_lsh(stream)
        .writeStream.format("memory")
        .queryName("mem_emb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    try:
        got_rows = spark.sql("SELECT * FROM mem_emb").collect()
        got = {(r.vec_a, r.vec_b, r.cosine) for r in got_rows}
        want = {
            (r.vec_a, r.vec_b, r.cosine)
            for r in dedup_embedding_lsh(batch).collect()
        }
        assert got == want, (len(got), len(want), (got - want), (want - got))
        assert len(want) > 0
        assert len(got_rows) == len(got)  # exactly-once
        assert any(a <= mid < b for a, b, _ in got), "no cross-batch pair"
    finally:
        q.stop()


def test_streaming_stateless_curation_gates_r4(spark, sf_dir):
    """pii_scrub and repetition_score are pure per-row projections, so
    they compose over a document stream unchanged — streamed results
    equal the batch operators row-for-row."""
    from vedb_gaze_spark.operators.text import pii_scrub, repetition_score

    batch = load_table(spark, "documents", sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    for name, op in [("mem_pii", pii_scrub), ("mem_rep", repetition_score)]:
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
            want = {tuple(r) for r in op(batch).collect()}
            assert got == want, name
            assert len(want) > 0
        finally:
            q.stop()


def test_streaming_corpus_gates_r4(spark, sf_dir):
    """Corpus-composition twins: stratified_sample (pure row-local hash
    filter — the batch operator streams unchanged) and decontaminate
    (static benchmark n-gram set broadcast, row-local membership test)
    both equal their batch results row-for-row."""
    from vedb_gaze_spark.operators.corpus import decontaminate, stratified_sample
    from vedb_gaze_spark.streaming.corpus import (
        bench_ngram_set,
        streaming_decontaminate,
    )

    batch = load_table(spark, "documents", sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    q = (
        stratified_sample(stream)
        .writeStream.format("memory")
        .queryName("mem_strat")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM mem_strat").collect()}
        want = {tuple(r) for r in stratified_sample(batch).collect()}
        assert got == want and len(want) > 0
    finally:
        q.stop()

    bench = bench_ngram_set(batch)
    q = (
        streaming_decontaminate(stream, bench)
        .writeStream.format("memory")
        .queryName("mem_decon")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM mem_decon").collect()}
        want = {tuple(r) for r in decontaminate(batch).collect()}
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_dau_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """Incremental DAU over two time-split micro-batches equals the
    batch rollup's dau column: the watermark-bounded user-day dedup
    state carries distinctness across the batch boundary (complete
    output mode so the memory sink holds final counts)."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.analytics import dau_rollup
    from vedb_gaze_spark.streaming.sessions import streaming_dau

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        str(tmp_path / "a")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        str(tmp_path / "b")
    )
    import shutil

    src = tmp_path / "stream"
    src.mkdir()
    shutil.copy(next((tmp_path / "a").glob("*.parquet")), src / "0.parquet")
    shutil.copy(next((tmp_path / "b").glob("*.parquet")), src / "1.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        streaming_dau(stream)
        .writeStream.format("memory")
        .queryName("mem_dau")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r["day_idx"], r["dau"])
            for r in spark.sql("SELECT * FROM mem_dau").collect()
        }
        want = {
            (r["day_idx"], r["dau"])
            for r in dau_rollup(batch).select("day_idx", "dau").collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_hll_registers_match_batch(spark, sf_dir, tmp_path):
    """Mergeable-sketch streaming: HLL registers maintained over two
    time-split micro-batches equal the batch operator's registers
    exactly (max is order-insensitive, so no watermark and no dedup
    state) — hence identical estimates."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.sessions import streaming_hll_registers

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        str(tmp_path / "a")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        str(tmp_path / "b")
    )
    import shutil

    src = tmp_path / "stream"
    src.mkdir()
    shutil.copy(next((tmp_path / "a").glob("*.parquet")), src / "0.parquet")
    shutil.copy(next((tmp_path / "b").glob("*.parquet")), src / "1.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        streaming_hll_registers(stream)
        .writeStream.format("memory")
        .queryName("mem_hll")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r["event_type"], r["idx"], r["mx"])
            for r in spark.sql("SELECT * FROM mem_hll").collect()
        }
        # order-insensitivity: the same operator over the batch frame
        want = {
            (r["event_type"], r["idx"], r["mx"])
            for r in streaming_hll_registers(batch).collect()
        }
        assert got == want and len(want) > 0
        # TRUE batch parity: estimates derived from the STREAMED
        # registers must equal hll_distinct's — pins register drift
        # between the twins without re-stating their expressions
        from collections import defaultdict

        from vedb_gaze_spark.operators.corpus import hll_distinct

        regs = defaultdict(dict)
        for et, idx, mx in got:
            regs[et][idx] = mx
        import math

        for r in hll_distinct(batch).collect():
            rr = regs[r["event_type"]]
            s = sum(int(2 ** (52 - mx)) for mx in rr.values())
            s += (P.HLL_M - len(rr)) * (1 << 52)
            e_raw = P.HLL_NUM_SCALED / float(s)
            v = P.HLL_M - len(rr)
            est = (
                float(P.HLL_M) * math.log(float(P.HLL_M) / float(v))
                if (e_raw <= 2.5 * P.HLL_M and v > 0)
                else e_raw
            )
            assert abs(round(est, 4) - r["hll_estimate"]) < 1e-9, r
    finally:
        q.stop()


def test_streaming_cluster_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """The continuous nightly-append composition: documents streamed in
    three micro-batches through ClusterMaintenance (index extend →
    incremental pairs → contracted-graph cluster fold) must leave a
    stored assignment EQUAL to batch dedup_clusters over the full
    corpus — and the union of per-batch pair emissions must equal the
    batch operator's pair set (each pair exactly once, no index×index
    re-probes)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.dedup import dedup_clusters, dedup_minhash_lsh
    from vedb_gaze_spark.streaming.maintenance import (
        streaming_cluster_maintenance,
    )

    batch = load_table(spark, "documents", sf_dir)
    row = batch.agg(
        F.percentile_approx("doc_id", 1.0 / 3, 10000).alias("a"),
        F.percentile_approx("doc_id", 2.0 / 3, 10000).alias("b"),
    ).collect()[0]
    q1, q2 = row["a"], row["b"]
    src = str(tmp_path / "cm_src")
    parts = [
        batch.where(F.col("doc_id") <= q1),
        batch.where((F.col("doc_id") > q1) & (F.col("doc_id") <= q2)),
        batch.where(F.col("doc_id") > q2),
    ]
    t0 = 1_700_000_000
    for i, p in enumerate(parts):
        d = os.path.join(src, f"c{i}")
        p.coalesce(1).write.parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    state = str(tmp_path / "cm_state")
    q, cm = streaming_cluster_maintenance(
        stream, state, str(tmp_path / "cm_ckpt"), available_now=True
    )
    q.awaitTermination(600)
    q.stop()

    want_pairs = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(batch).collect()
    }
    got_pair_rows = cm.pairs(spark).collect()
    got_pairs = {(r.doc_a, r.doc_b) for r in got_pair_rows}
    assert got_pairs == want_pairs and len(want_pairs) > 0
    assert len(got_pair_rows) == len(got_pairs)  # exactly-once

    want = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(batch).collect()
    }
    got = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cm.clusters(spark).collect()
    }
    assert got == want
    # cross-batch clusters exist (a pair spanning the file split)
    assert any(a <= q1 < b for a, b in got_pairs), "no cross-batch pair"


def test_streaming_dsir_score_matches_batch(spark, sf_dir):
    """The frozen-model DSIR scorer over a stream must emit exactly the
    batch dsir_scores rows — integer micro-nat sums make the parity
    bit-exact, the Python md5 bucket hash must agree with the JVM
    portable hash, and target-slice / gramless docs must emit
    nothing."""
    from vedb_gaze_spark.operators.corpus import dsir_scores
    from vedb_gaze_spark.streaming.corpus import (
        dsir_lr_table,
        streaming_dsir_score,
    )

    batch = load_table(spark, "documents", sf_dir)
    lr, default_lr = dsir_lr_table(batch)
    # default = the tc=rc=0 Laplace cell = ln((R+B)/(T+B)): positive,
    # since the raw slice is 12x the target slice
    assert len(lr) > 0 and default_lr > 0
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        streaming_dsir_score(stream, lr, default_lr)
        .writeStream.format("memory")
        .queryName("mem_dsir")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r.doc_id, r.logw_unats, r.n_grams)
            for r in spark.sql("SELECT * FROM mem_dsir").collect()
        }
        want = {
            (r.doc_id, r.logw_unats, r.n_grams)
            for r in dsir_scores(batch).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_phash_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming pHash near-dup over two micro-batches must emit
    EXACTLY the batch operator's pair set with true Hamming distances,
    each pair once (min-band rule), including pairs whose two payloads
    arrive in different micro-batches."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.multimodal import multimodal_phash_dedup
    from vedb_gaze_spark.streaming.stateful import streaming_phash_dedup

    batch = load_table(spark, "documents", sf_dir)
    mid = batch.agg(F.median("doc_id")).collect()[0][0]
    src = str(tmp_path / "ph_src")
    batch.where(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.col("doc_id") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_phash_dedup(stream)
        .writeStream.format("memory")
        .queryName("mem_phash")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    try:
        got_rows = spark.sql("SELECT * FROM mem_phash").collect()
        got = {(r.doc_a, r.doc_b, r.hamming) for r in got_rows}
        want = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in multimodal_phash_dedup(batch).collect()
        }
        assert got == want and len(want) > 0
        assert len(got_rows) == len(got)  # exactly-once
        assert any(a <= mid < b for a, b, _ in got), "no cross-batch pair"
    finally:
        q.stop()


def test_cluster_maintenance_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Crash-replay contract: re-processing a batch id must leave every
    state table byte-identical in CONTENT — reads filter to strictly
    prior ids and writes overwrite the same directories, so a replayed
    batch sees what its first attempt saw."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.streaming.maintenance import ClusterMaintenance

    batch = load_table(spark, "documents", sf_dir)
    mid = batch.agg(F.median("doc_id")).collect()[0][0]
    parts = [
        batch.where(F.col("doc_id") <= mid),
        batch.where(F.col("doc_id") > mid),
    ]
    cm = ClusterMaintenance(str(tmp_path / "state"))
    cm.process(parts[0], 0)
    cm.process(parts[1], 1)
    after_first = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cm.clusters(spark).collect()
    }
    pairs_first = {(r.doc_a, r.doc_b) for r in cm.pairs(spark).collect()}
    # replay batch 1 (crash between its writes and the checkpoint commit)
    cm.process(parts[1], 1)
    after_replay = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cm.clusters(spark).collect()
    }
    pairs_replay = {(r.doc_a, r.doc_b) for r in cm.pairs(spark).collect()}
    assert after_replay == after_first and len(after_first) > 0
    assert pairs_replay == pairs_first


def test_streaming_event_transitions_across_batches(spark, sf_dir, tmp_path):
    """The streamed transition-pair multiset must equal the batch lag
    window's pairs exactly, with per-user last-event state carrying
    across the time-split micro-batch boundary."""
    import os
    from collections import Counter

    import pyspark.sql.functions as F

    from vedb_gaze_spark.streaming.stateful import streaming_event_transitions

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "tr_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_event_transitions(stream)
        .writeStream.format("memory")
        .queryName("mem_trans")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = Counter(
            (r.user_id, r.from_type, r.to_type)
            for r in spark.sql("SELECT * FROM mem_trans").collect()
        )
        w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
        lag_w = w.partitionBy("user_id").orderBy(
            F.unix_micros("ts"), "event_id"
        )
        want = Counter(
            (r.user_id, r.from_type, r.to_type)
            for r in batch.select(
                "user_id",
                F.lag("event_type").over(lag_w).alias("from_type"),
                F.col("event_type").alias("to_type"),
            )
            .where(F.col("from_type").isNotNull())
            .collect()
        )
        assert got == want and len(want) > 0
        # state genuinely crossed the boundary: some user's transition
        # spans the split (first event before mid, next after)
        spans = batch.select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.lag(F.unix_micros("ts")).over(lag_w).alias("pt"),
        ).where(
            F.col("pt").isNotNull() & (F.col("pt") <= mid) & (F.col("t") > mid)
        )
        assert spans.count() > 0
    finally:
        q.stop()


def test_cluster_maintenance_writes_only_affected_buckets(spark, tmp_path):
    """The partition-pruned write claim, pinned: a batch whose pairs
    touch ONE hash(doc_id) bucket must create a new version for that
    bucket only — every other bucket gets no new version dir and its
    existing files stay BYTE-identical (no rewrite, not even an
    identical one). Final assignment still equals the batch recompute."""
    import hashlib
    import os

    from vedb_gaze_spark.operators.dedup import dedup_clusters
    from vedb_gaze_spark.streaming.maintenance import ClusterMaintenance

    def uniq(i):
        return " ".join(f"only{i}tok{j}" for j in range(15))

    text_a = " ".join(f"dupatok{j}" for j in range(15))
    text_b = " ".join(f"dupbtok{j}" for j in range(15))
    # n_buckets=8: cluster {1, 9} lives wholly in bucket 1, {2, 10} in
    # bucket 2; the rest are singletons (no pairs → not in the table)
    docs0 = [(1, text_a), (9, text_a), (2, text_b), (10, text_b)] + [
        (i, uniq(i)) for i in (3, 4, 5, 6, 7, 11, 12)
    ]
    # batch 1: doc 17 (bucket 1) duplicates text_a → touches bucket 1
    # only; doc 20 is pairless and must not touch its bucket either
    docs1 = [(17, text_a), (20, uniq(20))]
    schema = "doc_id long, text string"
    cm = ClusterMaintenance(str(tmp_path / "state"))
    cm.process(spark.createDataFrame(docs0, schema), 0)

    base = str(tmp_path / "state" / "clusters")

    def snapshot(skip_bucket):
        out = {}
        for root, _, files in os.walk(base):
            if f"bucket={skip_bucket}" in root or "_commits" in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, base)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    before = snapshot(skip_bucket=1)
    assert before  # bucket 2 (at least) exists and has files
    cm.process(spark.createDataFrame(docs1, schema), 1)
    # touched bucket advanced; untouched buckets have no v=1 anywhere
    assert os.path.isdir(os.path.join(base, "bucket=1", "v=1"))
    for k in range(8):
        if k != 1:
            assert not os.path.exists(os.path.join(base, f"bucket={k}", "v=1"))
    assert snapshot(skip_bucket=1) == before
    # and the result is still exactly the batch recompute
    full = spark.createDataFrame(docs0 + docs1, schema)
    want = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(full).collect()
    }
    got = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cm.clusters(spark).collect()
    }
    assert got == want
    assert (17, 1, 3) in got  # the new doc joined {1, 9} under label 1


def test_compact_table_collapses_maintenance_batch_spray(spark, sf_dir, tmp_path):
    """compact_table against its actual use case: ClusterMaintenance
    sprays one pairs directory per micro-batch; compaction must
    collapse the spray to fewer files with identical content
    (the batch partition column included)."""
    import glob

    import pyspark.sql.functions as F

    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.sources.writers import compact_table
    from vedb_gaze_spark.streaming.maintenance import ClusterMaintenance

    batch = load_table(spark, "documents", sf_dir)
    row = batch.agg(
        F.percentile_approx("doc_id", 1.0 / 3, 10000).alias("a"),
        F.percentile_approx("doc_id", 2.0 / 3, 10000).alias("b"),
    ).collect()[0]
    q1, q2 = row["a"], row["b"]
    cm = ClusterMaintenance(str(tmp_path / "state"))
    cm.process(batch.where(F.col("doc_id") <= q1), 0)
    cm.process(batch.where((F.col("doc_id") > q1) & (F.col("doc_id") <= q2)), 1)
    cm.process(batch.where(F.col("doc_id") > q2), 2)

    pairs_path = str(tmp_path / "state" / "pairs")
    n_before = len(glob.glob(pairs_path + "/batch=*/*.parquet"))
    assert n_before >= 3  # one spray per micro-batch
    dst = compact_table(spark, pairs_path, target_bytes=1 << 30)
    n_after = len(glob.glob(dst + "/*.parquet"))
    assert 0 < n_after < n_before
    cols = ["doc_a", "doc_b", "jaccard", "batch"]
    want = sorted(
        map(tuple, spark.read.parquet(pairs_path).select(*cols).collect())
    )
    got = sorted(map(tuple, spark.read.parquet(dst).select(*cols).collect()))
    assert got == want and len(want) > 0


def test_streaming_interval_join_parity(spark, sf_dir, tmp_path):
    """The stream-stream bucketed range join must emit exactly the
    batch interval_join pair multiset when the replay stays inside the
    watermark: incidents arriving in batch 0 must still match points
    arriving in batch 1 (join state carries across the trigger)."""
    import os
    from collections import Counter

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.temporal import interval_join
    from vedb_gaze_spark.streaming.joins import streaming_interval_join

    batch = load_table(spark, "events", sf_dir)
    # keep the test fast: one week of events
    week = batch.where(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    mid = week.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "ivj_src")
    week.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    week.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(week.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    # watermark longer than the replayed span: nothing is late-dropped,
    # so the multiset must be EXACTLY the batch pairs
    q = (
        streaming_interval_join(stream, watermark="8 days")
        .writeStream.format("memory")
        .queryName("mem_ivj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = Counter(
            (r.incident_id, r.event_id, r.lag_us)
            for r in spark.sql("SELECT * FROM mem_ivj").collect()
        )
        iv = week.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("incident_id"),
            F.unix_micros("ts").alias("t0_us"),
        )
        want = Counter(
            (r.incident_id, r.event_id, r.lag_us)
            for r in interval_join(week, iv).collect()
        )
        assert got == want
        assert sum(want.values()) > 0
    finally:
        q.stop()


def test_stateless_filter_operators_run_unchanged_on_streams(spark, sf_dir, tmp_path):
    """gopher_rules / c4_clean / quality_classifier are pure per-row
    projections (zero shuffles), so the SAME operator definition runs on
    a readStream frame with no streaming twin at all — single-definition
    batch/stream semantics, row-for-row equal."""
    import os

    from vedb_gaze_spark.operators import filtering

    batch = load_table(spark, "documents", sf_dir)
    src = str(tmp_path / "flt_src")
    batch.coalesce(2).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    for i, op in enumerate(
        [filtering.gopher_rules, filtering.c4_clean, filtering.quality_classifier]
    ):
        name = f"mem_flt_{i}"
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            got = sorted(map(repr, spark.sql(f"SELECT * FROM {name}").collect()))
            want = sorted(map(repr, op(batch).collect()))
            assert got == want, op.__name__
        finally:
            q.stop()


def test_streaming_quality_filters_compose_unchanged(spark, sf_dir):
    """gopher_rules and quality_classifier are pure per-row expression
    plans, so the BATCH operators compose over a stream with no twin —
    row-for-row parity with the batch run, including the keep flags
    and first-failing-rule labels."""
    from vedb_gaze_spark.operators.filtering import (
        gopher_rules,
        quality_classifier,
    )

    batch = load_table(spark, "documents", sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    for name, op in (("gopher", gopher_rules), ("qc", quality_classifier)):
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(f"mem_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        try:
            got = {
                tuple(r) for r in spark.sql(f"SELECT * FROM mem_{name}").collect()
            }
            want = {tuple(r) for r in op(batch).collect()}
            assert got == want and len(want) > 0, name
        finally:
            q.stop()


def test_streaming_frame_detection_composes_unchanged(spark, tmp_path):
    """detect_frame_markers is a stateless Arrow-batched map (one frame =
    one independent work item), so the BATCH operator composes over a
    frame STREAM with no twin — row-for-row parity with the batch run
    across micro-batches, malformed payloads dropped in both."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_frame_markers,
        encode_pnm,
    )

    rows = []
    for s in range(8):
        a = np.zeros((60, 80), dtype=np.uint8)
        a[10:15, 20 + s : 25 + s] = 255
        rows.append(
            (
                1,
                s,
                datetime.datetime.utcfromtimestamp(1_700_000_000 + s),
                bytearray(encode_pnm(a)),
            )
        )
    rows.append(
        (1, 99, datetime.datetime.utcfromtimestamp(1_700_000_100), bytearray(b"nope"))
    )
    schema = "user_id long, frame_id long, ts timestamp, payload binary"
    batch = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "frames")
    # two files → two micro-batches with maxFilesPerTrigger=1
    batch.where("frame_id % 2 = 0").coalesce(1).write.parquet(src + "/a")
    batch.where("frame_id % 2 = 1").coalesce(1).write.parquet(src + "/b")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        detect_frame_markers(stream)
        .writeStream.format("memory")
        .queryName("mem_framedet")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM mem_framedet").collect()
        }
        want = {tuple(r) for r in detect_frame_markers(batch).collect()}
        assert got == want and len(want) == 8
    finally:
        q.stop()


def test_streaming_ccnet_buckets_matches_batch(spark, sf_dir):
    """The frozen-LM CCNet bucketer over a stream reproduces the batch
    NTILE assignment BIT-exactly on replayed docs: same rounded
    cross-entropy (BigDecimal HALF_UP reproduced via Decimal(repr)),
    same tertile, same bucket label."""
    from vedb_gaze_spark.operators.filtering import ccnet_ppl_buckets
    from vedb_gaze_spark.streaming.corpus import (
        ccnet_model,
        streaming_ccnet_buckets,
    )

    batch = load_table(spark, "documents", sf_dir)
    logq, cutoffs = ccnet_model(batch)
    assert len(logq) > 0 and len(cutoffs) > 0
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        streaming_ccnet_buckets(stream, logq, cutoffs)
        .writeStream.format("memory")
        .queryName("mem_ccnet")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r.doc_id, r.lang, r.cross_entropy, r.tertile, r.bucket)
            for r in spark.sql("SELECT * FROM mem_ccnet").collect()
        }
        want = {
            (r.doc_id, r.lang, r.cross_entropy, r.tertile, r.bucket)
            for r in ccnet_ppl_buckets(batch).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_bpe_stats_matches_batch(spark, sf_dir):
    """Frozen-merge streaming BPE scoring emits exactly the batch
    bpe_stats rows (exact-integer piece counts; the ratio is the same
    double arithmetic on both sides)."""
    from vedb_gaze_spark.operators.bpe import bpe_stats, bpe_train
    from vedb_gaze_spark.streaming.corpus import streaming_bpe_stats

    batch = load_table(spark, "documents", sf_dir)
    merges = bpe_train(batch)
    assert len(merges) > 0
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        streaming_bpe_stats(stream, merges)
        .writeStream.format("memory")
        .queryName("mem_bpe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r.doc_id, r.n_words, r.n_pieces, r.pieces_per_word)
            for r in spark.sql("SELECT * FROM mem_bpe").collect()
        }
        want = {
            (r.doc_id, r.n_words, r.n_pieces, r.pieces_per_word)
            for r in bpe_stats(batch).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_value_anomalies_across_batches(spark, sf_dir, tmp_path):
    """The streamed anomaly rows must equal the batch value_anomalies
    rows BIT-exactly (same rounded mean/z doubles), with each user's
    trailing cents window carried across the time-split micro-batch
    boundary."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.analytics import value_anomalies
    from vedb_gaze_spark.streaming.stateful import streaming_value_anomalies

    batch = load_table(spark, "events", sf_dir)
    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "anom_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_value_anomalies(stream)
        .writeStream.format("memory")
        .queryName("mem_anom")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r.event_id, r.user_id, r.value, r.n_prev, r.mean_prev, r.z)
            for r in spark.sql("SELECT * FROM mem_anom").collect()
        }
        want = {
            (r.event_id, r.user_id, r.value, r.n_prev, r.mean_prev, r.z)
            for r in value_anomalies(batch).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_pq_serving_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch PQ-serving job must answer streamed queries with
    EXACTLY the batch ann_pq rows: the index (codes + rerank vectors)
    is stored once, each micro-batch runs the shared _pq_search kernel
    against it, and replaying a batch id rewrites identical rows
    (exactly-once by idempotent overwrite)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import ann_pq
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import PQServing, write_pq_index

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "pq_index")
    books = write_pq_index(emb, idx)

    # queries stream in two micro-batches, split by vec_id parity
    qsrc = str(tmp_path / "pq_queries")
    queries = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    queries.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(qsrc, "c0")
    )
    queries.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(qsrc, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(qsrc, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    job = PQServing(idx, str(tmp_path / "pq_out"), books)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(qsrc)
    )
    q = (
        stream.writeStream.foreachBatch(job.process)
        .option("checkpointLocation", str(tmp_path / "pq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in ann_pq(emb).collect()}
    assert got == want and len(want) > 0

    # crash-replay idempotency: re-running a batch id rewrites the same rows
    job.process(queries.where(F.col("vec_id") % 2 == 0), 0)
    again = {tuple(r) for r in job.results(spark).collect()}
    assert again == want


def test_streaming_ivfpq_serving_prunes_partitions_and_matches_batch(
    spark, sf_dir, tmp_path
):
    """The cell-partitioned IVFADC index: (a) the per-batch codes scan
    carries the probed-cell predicate as a PartitionFilter (parquet
    file pruning — the scan never reads unprobed cells' files); (b)
    streamed answers equal the batch ann_ivfpq rows exactly (shared
    _ivfpq_search kernel over the same trained codebooks); (c)
    replaying a batch id is idempotent."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import ann_ivfpq, _vecs
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        IVFPQServing,
        write_ivfpq_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "ivfpq_index")
    books = write_ivfpq_index(emb, idx)
    # the stored layout IS the inverted file: one directory per cell
    cells_on_disk = {
        d for d in os.listdir(os.path.join(idx, "codes")) if d.startswith("cell=")
    }
    assert len(cells_on_disk) > 1

    job = IVFPQServing(idx, str(tmp_path / "ivfpq_out"), books)
    queries = _vecs(
        emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    pruned_scan = job.probed_codes(spark, queries)
    plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    qsrc = str(tmp_path / "ivfpq_queries")
    qraw = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    qraw.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(qsrc, "c0")
    )
    qraw.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(qsrc, "c1")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(qsrc)
    )
    q = (
        stream.writeStream.foreachBatch(job.process)
        .option("checkpointLocation", str(tmp_path / "ivfpq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in ann_ivfpq(emb).collect()}
    assert got == want and len(want) > 0

    job.process(qraw.where(F.col("vec_id") % 2 == 1), 1)
    again = {tuple(r) for r in job.results(spark).collect()}
    assert again == want


def test_streaming_ivfpq_serving_uses_the_indexs_own_quantizer(
    spark, sf_dir, tmp_path
):
    """A TRAINED IVFADC index is self-describing: write_ivfpq_index
    persists its coarse quantizer at `{path}/centroids`, and the server
    probes/decodes with THOSE centroids (never the P.IVF_CENTROIDS
    literals — residual codes are meaningless under any other
    quantizer). Served answers over the trained index equal batch
    ann_ivfpq handed the same trained centroids."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        _vecs,
        ann_ivfpq,
        ivf_train_centroids,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        IVFPQServing,
        write_ivfpq_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cents = ivf_train_centroids(emb, k=16, iters=2)
    assert cents != [list(map(float, c)) for c in P.IVF_CENTROIDS]
    idx = str(tmp_path / "ivfpq_trained_index")
    books = write_ivfpq_index(emb, idx, coarse_centroids=cents)

    job = IVFPQServing(idx, str(tmp_path / "ivfpq_trained_out"), books)
    assert job._load_cents(spark) == cents

    qraw = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    job.process(qraw, 0)
    got = {tuple(r) for r in job.results(spark).collect()}
    want = {
        tuple(r) for r in ann_ivfpq(emb, coarse_centroids=cents).collect()
    }
    assert got == want and len(want) > 0


def test_append_ivfpq_index_grows_without_rewrite(spark, sf_dir, tmp_path):
    """The stored-index GROW step (train → store → serve → grow):
    (a) appending two batches yields exactly the codes that encoding
    the full corpus with the index's STORED quantizer+codebooks would
    (never retrained — residual codes stay commensurable); (b) every
    pre-existing index file is byte-identical after the appends; (c)
    replaying an appended batch is a no-op (neighbor_id anti-join);
    (d) a server handed NO model state (books=None) loads the stored
    codebooks and its answers over the grown index equal the shared
    search kernel over the same codes."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        _ivfpq_encode_gen,
        _ivfpq_search,
        _vecs,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        IVFPQServing,
        append_ivfpq_index,
        write_ivfpq_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    n_total = emb.count()
    cut1 = P.ANN_N_QUERIES + (n_total - P.ANN_N_QUERIES) // 2
    cut2 = cut1 + (n_total - cut1) // 2
    idx = str(tmp_path / "ivfpq_grow_index")
    books = write_ivfpq_index(emb.where(F.col("vec_id") < cut1), idx)

    def file_hashes():
        out = {}
        for root, _, files in os.walk(idx):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = file_hashes()
    append_ivfpq_index(
        emb.where((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)), idx
    )
    append_ivfpq_index(emb.where(F.col("vec_id") >= cut2), idx)
    after = file_hashes()
    for p, h in before.items():
        assert after[p] == h, f"pre-existing index file rewritten: {p}"
    assert len(after) > len(before)

    cents = [list(map(float, c)) for c in P.IVF_CENTROIDS]
    corpus = _vecs(emb).where(F.col("vec_id") >= P.ANN_N_QUERIES)
    expected = {
        (r.neighbor_id, r.cell, tuple(r.codes))
        for r in corpus.mapInPandas(
            _ivfpq_encode_gen(books, cents),
            "neighbor_id bigint, cell int, codes array<int>",
        ).collect()
    }
    grown = spark.read.parquet(f"{idx}/codes")
    got = {
        (r.neighbor_id, int(r.cell), tuple(r.codes)) for r in grown.collect()
    }
    assert got == expected and len(got) == n_total - P.ANN_N_QUERIES

    n_rows = grown.count()
    append_ivfpq_index(
        emb.where((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)), idx
    )
    assert spark.read.parquet(f"{idx}/codes").count() == n_rows

    queries = _vecs(emb.where(F.col("vec_id") < P.ANN_N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    job = IVFPQServing(idx, str(tmp_path / "grow_out"), books=None)
    job.process(emb.where(F.col("vec_id") < P.ANN_N_QUERIES), 0)
    got_srv = {tuple(r) for r in job.results(spark).collect()}
    codes_df = spark.read.parquet(f"{idx}/codes").select(
        "neighbor_id", F.col("cell").cast("int").alias("cell"), "codes"
    )
    full = spark.read.parquet(f"{idx}/vectors")
    want_srv = {
        tuple(r)
        for r in _ivfpq_search(
            queries, codes_df, full, books, cents, P.ANN_K, P.IVF_PROBES, 8
        ).collect()
    }
    assert got_srv == want_srv and len(want_srv) > 0


def test_streaming_novelty_scoring_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch novelty gate over the frozen gram index: the
    document stream's scores equal the batch novelty_vs_index rows
    exactly (shared kernel, shared stored index), and replaying a batch
    id rewrites identical rows."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.text import (
        novelty_vs_index,
        write_gram_index,
    )
    from vedb_gaze_spark.streaming.corpus import NoveltyScoring

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where("doc_id % 5 != 0")
    probe = docs.where("doc_id % 5 = 0")
    tbl = "novelty_gram_idx_stream_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        write_gram_index(corpus, tbl)

        src = str(tmp_path / "novelty_docs")
        probe.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "c0")
        )
        probe.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "c1")
        )
        job = NoveltyScoring(tbl, str(tmp_path / "novelty_out"))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(job.process)
            .option("checkpointLocation", str(tmp_path / "novelty_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {tuple(r) for r in job.results(spark).collect()}
        want = {
            tuple(r) for r in novelty_vs_index(probe, spark.table(tbl)).collect()
        }
        assert got == want and len(want) > 0

        job.process(probe.where(F.col("doc_id") % 2 == 0), 0)
        again = {tuple(r) for r in job.results(spark).collect()}
        assert again == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_streaming_novelty_advances_index_with_idempotent_replay(
    spark, sf_dir, tmp_path
):
    """NoveltyScoring(advance=True) — the intake gate that ADMITS each
    scored batch: (a) after two batches, the index gram set equals a
    from-scratch rebuild over base ∪ batch0 ∪ batch1; (b) batch 1's
    streamed scores equal batch novelty_vs_index against the index as
    grown by batch 0 (the gate sees admissions from earlier batches);
    (c) replaying batch 1 (crash-recovery: its grams are already
    appended, `since`-stamped) reproduces IDENTICAL scores — the
    prior-corpus view `since < batch_id` excludes the batch's own
    half-committed grams — and leaves the index unchanged."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.text import (
        novelty_vs_index,
        write_gram_index,
    )
    from vedb_gaze_spark.sources.tables import load_table
    from vedb_gaze_spark.streaming.corpus import NoveltyScoring

    docs = load_table(spark, "documents", sf_dir)
    base = docs.where("doc_id % 5 in (1, 2, 3, 4)")
    b0 = docs.where("doc_id % 10 = 0")
    b1 = docs.where("doc_id % 10 = 5")
    tbl = "novelty_gram_idx_advance_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        write_gram_index(base, tbl)
        job = NoveltyScoring(
            tbl, str(tmp_path / "adv_out"), advance=True
        )
        job.process(b0, 0)
        # scores batch 1 must see: the index grown by batch 0
        want_b1 = {
            tuple(r)
            for r in novelty_vs_index(
                b1, spark.table(tbl).where(F.col("since") < 1)
            ).collect()
        }
        job.process(b1, 1)
        grown = {r.g for r in spark.table(tbl).select("g").collect()}

        from vedb_gaze_spark.operators.text import _doc_grams
        from vedb_gaze_spark.plans import params as P

        rebuilt = {
            r.g
            for r in _doc_grams(
                base.unionByName(b0).unionByName(b1), P.NOVELTY_NGRAM
            )
            .select("g")
            .distinct()
            .collect()
        }
        assert grown == rebuilt and len(grown) > 0
        got_b1 = {
            tuple(r)
            for r in spark.read.schema(NoveltyScoring._OUT_SCHEMA)
            .parquet(str(tmp_path / "adv_out" / "batch=1"))
            .collect()
        }
        assert got_b1 == want_b1 and len(want_b1) > 0

        # crash-replay of batch 1: same scores, index unchanged
        n_rows = spark.table(tbl).count()
        job.process(b1, 1)
        replay_b1 = {
            tuple(r)
            for r in spark.read.schema(NoveltyScoring._OUT_SCHEMA)
            .parquet(str(tmp_path / "adv_out" / "batch=1"))
            .collect()
        }
        assert replay_b1 == want_b1
        assert spark.table(tbl).count() == n_rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_streaming_sq8_serving_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch SQ8-serving job answers streamed queries with
    EXACTLY the batch ann_sq8 rows: the self-describing index (per-dim
    stats + 8-bit codes) is stored once, each micro-batch runs the
    shared _sq8_search kernel against it (quantizer loaded from the
    index, never from params), and replaying a batch id rewrites
    identical rows (exactly-once by idempotent overwrite)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import ann_sq8
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import SQ8Serving, write_sq8_index

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "sq8_index")
    write_sq8_index(emb, idx)

    qsrc = str(tmp_path / "sq8_queries")
    queries = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    queries.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(qsrc, "c0")
    )
    queries.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(qsrc, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(qsrc, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    job = SQ8Serving(idx, str(tmp_path / "sq8_out"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(qsrc)
    )
    q = (
        stream.writeStream.foreachBatch(job.process)
        .option("checkpointLocation", str(tmp_path / "sq8_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in ann_sq8(emb).collect()}
    assert got == want and len(want) > 0

    # crash-replay idempotency
    job.process(queries.where(F.col("vec_id") % 2 == 0), 0)
    again = {tuple(r) for r in job.results(spark).collect()}
    assert again == want


def test_streaming_ivfsq8_serving_prunes_partitions_and_matches_batch(
    spark, sf_dir, tmp_path
):
    """IVF+SQ8 serving pins: (a) the stored layout IS the inverted file
    (one codes/cell=N/ directory per cell); (b) the probed scan pushes
    `cell IN (...)` as a parquet PartitionFilter; (c) streamed answers
    equal the batch ann_ivf_sq8 rows exactly (shared probe + search
    kernels, quantizer and stats loaded from the index); (d) replaying
    a batch id rewrites identical rows."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        _ivf_sq8_probe,
        _vecs,
        ann_ivf_sq8,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        IVFSQ8Serving,
        write_ivfsq8_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "ivfsq8_index")
    write_ivfsq8_index(emb, idx)
    cells_on_disk = {
        d
        for d in os.listdir(os.path.join(idx, "codes"))
        if d.startswith("cell=")
    }
    assert len(cells_on_disk) > 1

    job = IVFSQ8Serving(idx, str(tmp_path / "ivfsq8_out"))
    queries = _vecs(emb.where(F.col("vec_id") < P.ANN_N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probed = _ivf_sq8_probe(queries, job._load_cents(spark), P.IVF_PROBES)
    pruned_scan = job.probed_codes(spark, probed)
    plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    qsrc = str(tmp_path / "ivfsq8_queries")
    qraw = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    qraw.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(qsrc, "c0")
    )
    qraw.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(qsrc, "c1")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(qsrc)
    )
    q = (
        stream.writeStream.foreachBatch(job.process)
        .option("checkpointLocation", str(tmp_path / "ivfsq8_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in ann_ivf_sq8(emb).collect()}
    assert got == want and len(want) > 0

    job.process(qraw.where(F.col("vec_id") % 2 == 1), 1)
    again = {tuple(r) for r in job.results(spark).collect()}
    assert again == want


def _scan(df, path):
    """Run `df` and return (partitions read, partition filters) of the
    one parquet scan of `path` in its final plan, walking adaptive
    query stages and subqueries."""

    def seq(xs):
        return [xs.apply(i) for i in range(xs.size())]

    def walk(node):
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif kind.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = seq(node.children())
        yield node
        for kid in kids + seq(node.subqueries()):
            yield from walk(kid)

    df.collect()
    scans = [
        n
        for n in walk(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and [str(r.toString()) for r in seq(n.relation().location().rootPaths())]
        == [f"file:{path}"]
    ]
    assert len(scans) == 1, [n.toString() for n in scans]
    return (
        int(scans[0].metrics().apply("numPartitions").value()),
        " ".join(str(e.toString()) for e in seq(scans[0].partitionFilters())),
    )


@pytest.mark.parametrize("kind", ["ivfpq", "ivfsq8", "ivfsq8_mining"])
def test_ivf_serve_prunes_cells_through_its_own_probe(
    spark, sf_dir, tmp_path, kind
):
    """A served batch reads only its probed cells, and the pruning comes
    from the kernel's own broadcast probe: the codes scan of the answer
    plan carries a dynamic-partition-pruning PartitionFilter and reads
    exactly the cells probed_codes names for the batch, fewer than the
    index holds. With dynamic partition pruning off, the same plan
    reads every cell."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import _ivf_sq8_probe, _vecs
    from vedb_gaze_spark.streaming.serving import (
        IVFPQServing,
        IVFSQ8Serving,
        write_ivfpq_index,
        write_ivfsq8_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / kind)
    batch = emb.where(F.col("vec_id") == 3)
    queries = _vecs(batch).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    if kind == "ivfpq":
        write_ivfpq_index(emb, idx, iters=1)
        job = IVFPQServing(idx, str(tmp_path / "out"))
        probed = job.probed_codes(spark, queries)
    else:
        mining = kind == "ivfsq8_mining"
        write_ivfsq8_index(emb, idx, with_labels=mining)
        job = IVFSQ8Serving(idx, str(tmp_path / "out"), mine_labels=mining)
        probed = job.probed_codes(
            spark, _ivf_sq8_probe(queries, job._load_cents(spark), job.nprobe)
        )
    cells = {r["cell"] for r in probed.select("cell").distinct().collect()}
    on_disk = [d for d in os.listdir(f"{idx}/codes") if d.startswith("cell=")]
    assert 0 < len(cells) < len(on_disk)

    read, filters = _scan(job._answers(batch), f"{idx}/codes")
    assert "dynamicpruning" in filters, filters
    assert read == len(cells), (read, cells)

    key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        read_all, filters_all = _scan(job._answers(batch), f"{idx}/codes")
    finally:
        spark.conf.set(key, saved)
    assert "dynamicpruning" not in filters_all
    assert read_all == len(on_disk)


def test_declared_index_schemas_match_their_writers(spark, sf_dir, tmp_path):
    """Every stored-index table is read under a declared schema; each
    one must be the schema its writer produces (inferred from the
    files), so a writer change cannot silently diverge from the
    reads."""
    from vedb_gaze_spark.streaming import serving as S

    emb = load_table(spark, "embeddings", sf_dir)
    base = str(tmp_path)
    S.write_pq_index(emb, f"{base}/pq", iters=1)
    S.write_ivfpq_index(emb, f"{base}/ivfpq", iters=1)
    S.write_sq8_index(emb, f"{base}/sq8")
    S.write_ivfsq8_index(emb, f"{base}/ivfsq8")
    S.write_ivfsq8_index(emb, f"{base}/ivfsq8_labels", with_labels=True)
    S.write_label_centroids(emb, f"{base}/labels")
    declared = {
        "pq/codes": S._CODES_SCHEMA,
        "pq/vectors": S._VECTORS_SCHEMA,
        "ivfpq/codes": S._CELL_CODES_SCHEMA,
        "ivfpq/vectors": S._VECTORS_SCHEMA,
        "ivfpq/centroids": S._CENTROIDS_SCHEMA,
        "ivfpq/codebooks": S._CODEBOOKS_SCHEMA,
        "sq8/codes": S._CODES_SCHEMA,
        "sq8/stats": S._STATS_SCHEMA,
        "ivfsq8/codes": S._CELL_CODES_SCHEMA,
        "ivfsq8/stats": S._STATS_SCHEMA,
        "ivfsq8/centroids": S._CENTROIDS_SCHEMA,
        "ivfsq8_labels/codes": S._LABELED_CELL_CODES_SCHEMA,
        "labels/centroids": S._LABEL_CENTROIDS_SCHEMA,
    }
    for table, schema in declared.items():
        path = f"{base}/{table}"
        written = spark.read.parquet(path).schema
        assert written == spark.read.schema(schema).parquet(path).schema, (
            table,
            written.simpleString(),
        )


def test_ivfpq_serving_falls_back_to_literal_centroids(
    spark, sf_dir, tmp_path
):
    """An index written before the coarse quantizer was stored has no
    `{path}/centroids`; it was always written with the P.IVF_CENTROIDS
    literals, and the server falls back to them: the declared-schema
    read of the missing directory raises PATH_NOT_FOUND, and the
    served answers equal batch ann_ivfpq."""
    import shutil

    import pyspark.sql.functions as F
    from pyspark.errors import AnalysisException

    from vedb_gaze_spark.operators.similarity import ann_ivfpq
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        _CENTROIDS_SCHEMA,
        IVFPQServing,
        write_ivfpq_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "pre_r8_index")
    write_ivfpq_index(emb, idx)
    shutil.rmtree(f"{idx}/centroids")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        spark.read.schema(_CENTROIDS_SCHEMA).parquet(f"{idx}/centroids")

    job = IVFPQServing(idx, str(tmp_path / "out"))
    job.process(emb.where(F.col("vec_id") < P.ANN_N_QUERIES), 0)
    assert job._cents == [list(map(float, c)) for c in P.IVF_CENTROIDS]
    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in ann_ivfpq(emb).collect()}
    assert got == want and len(want) > 0


def test_streaming_nb_lang_id_matches_batch(spark, sf_dir):
    """The frozen-model NB language-ID scorer over a stream reproduces
    the batch nb_lang_id rows EXACTLY (exact long log-likelihood sums,
    same lexicographic argmax ties; the model dicts come from the same
    frames the batch face joins)."""
    from vedb_gaze_spark.operators.text import nb_lang_id
    from vedb_gaze_spark.streaming.corpus import (
        nb_lang_model,
        streaming_nb_lang_id,
    )

    batch = load_table(spark, "documents", sf_dir)
    logp, logp0, logprior = nb_lang_model(batch)
    assert len(logp) > 0 and len(logp0) > 0
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        streaming_nb_lang_id(stream, logp, logp0, logprior)
        .writeStream.format("memory")
        .queryName("mem_nblid")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {tuple(r) for r in spark.sql("SELECT * FROM mem_nblid").collect()}
        want = {tuple(r) for r in nb_lang_id(batch).collect()}
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_streaming_quality_classifier_score_composes_unchanged(spark, sf_dir):
    """The trained classifier's scoring half is row-local expressions
    over gopher_rules' one-scan plan, so it composes UNCHANGED over a
    document stream (the gopher_rules pattern): train offline, freeze
    (w, mu, sd), run the same quality_classifier_score on the stream —
    streamed rows ≡ batch rows."""
    from vedb_gaze_spark.operators.filtering import (
        quality_classifier_score,
        quality_classifier_train,
    )

    batch = load_table(spark, "documents", sf_dir)
    w, mu, sd, _ = quality_classifier_train(batch, epochs=4)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = (
        quality_classifier_score(stream, w, mu, sd)
        .writeStream.format("memory")
        .queryName("mem_qcscore")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM mem_qcscore").collect()
        }
        want = {
            tuple(r) for r in quality_classifier_score(batch, w, mu, sd).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_append_ivfsq8_index_grows_without_rewriting(spark, sf_dir, tmp_path):
    """IVF+SQ8 index growth pins (the append_ivfpq_index contract at
    the SQL-green end): (a) appending encodes with the STORED model —
    codes over the grown index equal a full re-encode of old ∪ new;
    (b) pre-existing code files are byte-identical; (c) replaying the
    append adds nothing (anti-join idempotency); (d) served answers
    over the grown index equal the shared kernel over old ∪ new."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        _ivf_sq8_probe,
        _ivf_sq8_search,
        _vecs,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        IVFSQ8Serving,
        append_ivfsq8_index,
        write_ivfsq8_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    corpus_all = emb.where(F.col("vec_id") >= P.ANN_N_QUERIES)
    old = corpus_all.where(F.col("vec_id") % 3 != 0)
    new = corpus_all.where(F.col("vec_id") % 3 == 0)

    # index built from the OLD slice only — include the query rows so
    # write's n_queries split keeps them out of the codes
    queries_raw = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)
    idx = str(tmp_path / "ivfsq8_grow")
    write_ivfsq8_index(queries_raw.unionByName(old), idx)

    def file_hashes():
        out = {}
        for root, _, files in os.walk(os.path.join(idx, "codes")):
            for f in files:
                p = os.path.join(root, f)
                out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    before = file_hashes()
    n_before = spark.read.parquet(f"{idx}/codes").count()
    append_ivfsq8_index(new, idx)
    after = file_hashes()
    for p, h in before.items():
        assert after[p] == h, p
    n_after = spark.read.parquet(f"{idx}/codes").count()
    assert n_after == n_before + new.count()

    # the grown index is encoded under the OLD slice's stored stats by
    # design (a grown index never re-trains silently), so the contract
    # is self-consistency: serving answers over it equal the shared
    # kernel over its own codes (below), not a full-retrain rebuild
    append_ivfsq8_index(new, idx)  # replay: adds nothing
    assert spark.read.parquet(f"{idx}/codes").count() == n_after

    job = IVFSQ8Serving(idx, str(tmp_path / "grow_out"))
    queries = _vecs(queries_raw).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    job.process(queries_raw, 0)
    got = {tuple(r) for r in job.results(spark).collect()}
    probed = _ivf_sq8_probe(queries, job._load_cents(spark), P.IVF_PROBES)
    want = {
        tuple(r)
        for r in _ivf_sq8_search(
            probed,
            spark.read.parquet(f"{idx}/codes"),
            job._load_stats(spark),
            P.ANN_K,
        ).collect()
    }
    assert got == want and len(want) > 0


def test_append_ivfsq8_keeps_labels_of_a_labeled_index(spark, sf_dir, tmp_path):
    """An index written with labels stays labeled when it grows: every
    appended row carries `nlbl`, and mining over the grown index
    (IVFSQ8Serving(mine_labels=True)) returns exactly the batch
    mine_hard_negatives_ivfsq8 rows over old ∪ new. The written slice
    holds every per-dim extreme, so its stored stats are the full
    corpus's and the miner's own encode is the same quantizer."""
    import numpy as np
    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        mine_hard_negatives_ivfsq8,
        sq8_stats,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        _LABELED_CELL_CODES_SCHEMA,
        IVFSQ8Serving,
        append_ivfsq8_index,
        write_ivfsq8_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=float)
    extremes = sorted(
        {int(i) for i in ids[vecs.argmin(axis=0)]}
        | {int(i) for i in ids[vecs.argmax(axis=0)]}
    )
    in_old = (F.col("vec_id") < 300) | F.col("vec_id").isin(extremes)
    idx = str(tmp_path / "labeled_grow")
    stats = write_ivfsq8_index(emb.where(in_old), idx, with_labels=True)
    assert stats == sq8_stats(emb)
    append_ivfsq8_index(emb.where(~in_old), idx)

    codes = spark.read.schema(_LABELED_CELL_CODES_SCHEMA).parquet(f"{idx}/codes")
    assert codes.count() == len(rows) - P.ANN_N_QUERIES
    assert codes.where(F.col("nlbl").isNull()).count() == 0

    job = IVFSQ8Serving(idx, str(tmp_path / "labeled_out"), mine_labels=True)
    job.process(emb.where(F.col("vec_id") < P.ANN_N_QUERIES), 0)
    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in mine_hard_negatives_ivfsq8(emb).collect()}
    assert got == want and len(want) > 0


def test_append_ivfsq8_out_of_range_vectors_clamp_to_8bit(
    spark, sf_dir, tmp_path
):
    """r9 clamp pin (ADVICE r8): append_ivfsq8_index encodes NEW
    vectors under the index's STORED per-dim min/max, so an appended
    value outside the build corpus's range must SATURATE at 0/255
    (FAISS QT_8bit semantics) — without the clamp the "8-bit" codes
    silently escape [0, 255]. Plants appends at ±1000× the data range
    and pins every stored code into the byte range, with both rails
    actually hit."""
    import pyspark.sql.functions as F

    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        append_ivfsq8_index,
        write_ivfsq8_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    write_ivfsq8_index(emb, str(tmp_path / "clamp_idx"))
    idx = str(tmp_path / "clamp_idx")

    wild = emb.where(
        (F.col("vec_id") >= P.ANN_N_QUERIES) & (F.col("vec_id") % 7 == 0)
    ).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(1000.0) - F.lit(300.0)
        ).alias("embedding"),
    )
    append_ivfsq8_index(wild, idx)

    grown = (
        spark.read.parquet(f"{idx}/codes")
        .where(F.col("neighbor_id") >= 10_000_000)
        .select(
            F.array_min("codes").alias("mn"), F.array_max("codes").alias("mx")
        )
        .agg(F.min("mn").alias("lo"), F.max("mx").alias("hi"))
        .collect()[0]
    )
    assert grown.lo == 0 and grown.hi == 255, (grown.lo, grown.hi)


def test_epoch_order_store_grows_bucket_locally_and_matches_batch(
    spark, sf_dir, tmp_path
):
    """Training-order maintenance twin (r8 verdict #7): the stored
    epoch-shuffle table grows by APPEND with bucket-local re-ranking.
    Pins: (a) after two appends the read-back equals epoch_shuffle over
    the full corpus EXACTLY (every epoch, every doc, same global rank);
    (b) parquet files of buckets the batch never touched stay
    byte-identical; (c) replaying an append changes nothing (anti-join
    idempotency); (d) the offsets sidecar stays metadata-sized
    (<= 256 x epochs rows)."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.corpus import epoch_shuffle
    from vedb_gaze_spark.streaming.maintenance import (
        append_epoch_order,
        read_epoch_order,
        write_epoch_order,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    old = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 9 == 1)
    b2 = docs.where((F.col("doc_id") % 9 == 1) | (F.col("doc_id") % 9 == 4))  # b1 subset: replay-ish

    store = str(tmp_path / "epoch_order")
    write_epoch_order(old, store, epochs=2)

    def hashes():
        out = {}
        for root, _, files in os.walk(os.path.join(store, "order")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    before = hashes()
    append_epoch_order(b1, store)
    after = hashes()
    # batch buckets: the (epoch, bucket) partitions b1's hashes name
    from vedb_gaze_spark.streaming.maintenance import _epoch_order_rows

    touched = {
        (r.epoch, r.bucket)
        for r in _epoch_order_rows(b1, 2).select("epoch", "bucket").distinct().collect()
    }
    for p, h in before.items():
        parts = dict(
            kv.split("=") for kv in p.split(os.sep) if "=" in kv
        )
        key = (int(parts["epoch"]), int(parts["bucket"]))
        if key not in touched:
            assert after.get(p) == h, p

    append_epoch_order(b2, store)  # b1 ⊂ b2: only the 40 new docs land
    snap = {tuple(r) for r in read_epoch_order(spark, store).collect()}
    append_epoch_order(b2, store)  # full replay: nothing changes
    assert {tuple(r) for r in read_epoch_order(spark, store).collect()} == snap

    want = {
        tuple(r)
        for r in epoch_shuffle(old.unionByName(b2), epochs=2).collect()
    }
    assert snap == want and len(want) > 0

    from vedb_gaze_spark.streaming.maintenance import _read_epoch_offsets

    n_off = _read_epoch_offsets(spark, store).count()
    assert n_off <= 256 * 2

    # (e) the append path's affected-partition read PRUNES: a literal
    # (epoch, bucket) predicate over the store touches a strict subset
    # of the partition dirs' files (the PartitionFilters contract the
    # append docstring claims — a broadcast join would scan them all)
    order = spark.read.parquet(f"{store}/order")
    one = next(iter(touched))
    pruned = order.where(
        (F.col("epoch") == one[0]) & (F.col("bucket") == one[1])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2, plan[:400]
    head = seg[1][:200]
    assert "epoch" in head and "bucket" in head, head

    # (f) r10 crash-heal pin (ADVICE r9): a crash BETWEEN the order
    # partition overwrite and the offsets write leaves the sidecar
    # missing the crashed batch's per-bucket increments. Simulated by
    # doctoring the sidecar: one bucket b2 touches gets its count
    # decremented (exactly the lost-increment state). Replaying the
    # same batch finds no fresh docs but must STILL rebuild the sidecar
    # from the store's ACTUAL touched-partition counts — read_epoch_order
    # heals back to the exact batch-semantics table.
    from pyspark.sql import Row

    from vedb_gaze_spark.streaming.maintenance import _write_epoch_offsets

    touched2 = {
        (r.epoch, r.bucket)
        for r in _epoch_order_rows(b2, 2)
        .select("epoch", "bucket")
        .distinct()
        .collect()
    }
    cur_counts = [
        (r.epoch, r.bucket, r.c) for r in _read_epoch_offsets(spark, store).collect()
    ]
    # the victim needs a HIGHER-bucket neighbor in its epoch so the
    # lost increment observably shifts someone's cumulative offset
    victim = next(
        (ep, bk)
        for ep, bk, c in cur_counts
        if (ep, bk) in touched2
        and c > 0
        and any(e2 == ep and b2_ > bk for e2, b2_, _ in cur_counts)
    )
    _write_epoch_offsets(
        [
            Row(epoch=ep, bucket=bk, c=c - 1 if (ep, bk) == victim else c)
            for ep, bk, c in cur_counts
        ],
        store,
        spark,
    )
    corrupted = {tuple(r) for r in read_epoch_order(spark, store).collect()}
    assert corrupted != want  # the stale sidecar is observably wrong
    append_epoch_order(b2, store)  # replay: no fresh docs, heals sidecar
    healed = {tuple(r) for r in read_epoch_order(spark, store).collect()}
    assert healed == want


def test_streaming_typed_and_checkerboard_detectors_compose_unchanged(
    spark, tmp_path
):
    """The r9/r10 detectors are the same stateless Arrow-batched map
    class as detect_frame_markers, so the BATCH operators compose over
    a frame stream with no twin: detect_ring_markers (typed Ref/Stop,
    both polarities), detect_checkerboard_frames (saddle grid),
    detect_pupil_frames (dark ellipse moments) and
    detect_ellipse_markers (bright moment ellipses) each reproduce
    their batch rows exactly across micro-batches."""
    import datetime

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import (
        detect_checkerboard_frames,
        detect_ellipse_markers,
        detect_pupil_frames,
        detect_ring_markers,
        encode_pnm,
    )

    yy, xx = np.mgrid[0:70, 0:120]
    rows = []
    for s in range(6):
        a = np.zeros((70, 120), dtype=np.uint8)
        # bright ring w/ dark core (ref), drifting
        cy, cx = 20, 30 + s
        a[cy - 4 : cy + 5, cx - 4 : cx + 5] = 255
        a[cy - 1 : cy + 2, cx - 1 : cx + 2] = 0
        # dark pupil ellipse on a mid-gray pad (clear of the ring/board)
        a[5:32, 85:118] = 150
        el = ((xx - 100.0 - s) / 7.0) ** 2 + ((yy - 18.0) / 5.0) ** 2 <= 1.0
        a[el] = 20
        # 2x3-inner-corner checkerboard (3x4 cells, 8 px) at (40, 60+s)
        for j in range(4):
            for i in range(3):
                if (i + j) % 2 == 0:
                    a[40 + j * 8 : 48 + j * 8, 60 + s + i * 8 : 68 + s + i * 8] = 255
        rows.append(
            (
                2,
                s,
                datetime.datetime.utcfromtimestamp(1_700_000_000 + s),
                bytearray(encode_pnm(a)),
            )
        )
    schema = "user_id long, frame_id long, ts timestamp, payload binary"
    batch = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "frames2")
    batch.where("frame_id % 2 = 0").coalesce(1).write.parquet(src + "/a")
    batch.where("frame_id % 2 = 1").coalesce(1).write.parquet(src + "/b")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    for name, op in (
        ("mem_ringdet", detect_ring_markers),
        ("mem_cbdet", lambda f: detect_checkerboard_frames(f, board=(2, 3))),
        ("mem_pupdet", lambda f: detect_pupil_frames(f, threshold=60)),
        (
            "mem_elldet",
            lambda f: detect_ellipse_markers(f, min_size=5, min_confidence=0.0),
        ),
    ):
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        try:
            got = {
                tuple(map(repr, r))
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            want = {tuple(map(repr, r)) for r in op(batch).collect()}
            assert got == want and len(want) >= 6, (name, len(want))
        finally:
            q.stop()


def test_streaming_label_separation_serving_matches_batch(
    spark, sf_dir, tmp_path
):
    """Frozen-centroid label-separation serving (r10, r9 verdict #8):
    the stored per-label centroid model scores embedding micro-batches
    row-locally; streamed per-member rows equal the one-shot batch
    scorer EXACTLY; the per-label quantized mean of the streamed
    own_cos rows reproduces batch label_separation's intra_mean_cos and
    the frozen centroid-vs-centroid nn half; and replaying a batch id
    rewrites identical rows (exactly-once by idempotent overwrite)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        label_centroids,
        label_separation,
        score_label_margins,
    )
    from vedb_gaze_spark.streaming.serving import (
        LabelSeparationServing,
        write_label_centroids,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "lbl_index")
    write_label_centroids(emb, idx)

    src = str(tmp_path / "lbl_batches")
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            os.path.join(src, f"c{i}")
        )
    t0 = 1_700_000_000
    for i in range(3):
        for root, _, files in os.walk(os.path.join(src, f"c{i}")):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    job = LabelSeparationServing(idx, str(tmp_path / "lbl_out"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(job.process)
        .option("checkpointLocation", str(tmp_path / "lbl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    cents = [
        (int(r["label"]), [float(x) for x in r["cv"]])
        for r in label_centroids(emb).collect()
    ]
    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in score_label_margins(emb, cents).collect()}
    assert got == want and len(want) > 0

    # the REPORT half: per-label quantized mean of streamed own_cos ==
    # batch label_separation's intra_mean_cos; nn half matches the
    # frozen centroids
    mine = {
        r.label: r.m
        for r in job.results(spark)
        .select(
            "label",
            F.floor(F.col("own_cos") * 1e6 + 0.5).cast("long").alias("cq"),
        )
        .groupBy("label")
        .agg(
            F.expr(
                "floor(cast(sum(cq) as double) / count(1) + 0.5) / 1e6"
            ).alias("m")
        )
        .collect()
    }
    ref = {r.label: r for r in label_separation(emb).collect()}
    assert set(mine) == set(ref)
    for lbl in ref:
        assert mine[lbl] == ref[lbl].intra_mean_cos, lbl

    # crash-replay idempotency
    job.process(emb.where(F.col("vec_id") % 3 == 0), 0)
    again = {tuple(r) for r in job.results(spark).collect()}
    assert again == want


def test_score_label_margins_degenerate_semantics(spark):
    """r11 (ADVICE r10): the serving scorer's degenerate cases are
    DEFINED, not silent nulls — a <2-label frozen model raises at
    compile time (no 'other' label to margin against), and a row whose
    label is absent from the model keeps own_cos/margin NULL (the
    unseen-label signal) while nn_label/nn_cos still carry the best
    stored label."""
    import math

    import pytest

    from vedb_gaze_spark.operators.similarity import score_label_margins

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1), (3, [1.0, 1.0], 7)],
        "vec_id long, embedding array<double>, label int",
    )
    with pytest.raises(ValueError, match=">=2 labels"):
        score_label_margins(emb, [(0, [1.0, 0.0])])

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = {r.vec_id: r for r in score_label_margins(emb, cents).collect()}
    assert rows[1].own_cos == 1.0 and rows[1].nn_label == 1
    assert rows[1].margin == 1.0
    # unseen label 7: no own centroid -> own_cos/margin NULL; nn half
    # is the best over ALL stored labels (tie on cos=0.707107 breaks
    # to the smaller label)
    r7 = rows[3]
    assert r7.own_cos is None and r7.margin is None
    assert r7.nn_label == 0
    assert math.isclose(r7.nn_cos, 0.707107, abs_tol=1e-6)


def test_cluster_maintenance_side_index_discovery_and_fallback(
    spark, tmp_path
):
    """The r10 cluster→bucket side index, pinned: (a) every bucket
    rewrite lands its cindex twin at the same version; (b) a batch
    whose pair endpoints all hash to ONE bucket still discovers and
    patches the OTHER bucket holding a member of the remapped cluster
    — via the index, with the rep join reading only endpoint buckets;
    (c) a pre-index store (cindex tree removed) falls back to the full
    scan, stays exact, and re-grows index twins for buckets it
    touches."""
    import os
    import shutil

    from vedb_gaze_spark.operators.dedup import dedup_clusters
    from vedb_gaze_spark.streaming.maintenance import ClusterMaintenance

    def uniq(i):
        return " ".join(f"only{i}tok{j}" for j in range(15))

    text_a = " ".join(f"dupatok{j}" for j in range(15))
    text_c = " ".join(f"dupctok{j}" for j in range(15))
    # cluster {1, 2} spans buckets 1 AND 2 (n_buckets=8)
    docs0 = [(1, text_a), (2, text_a)] + [(i, uniq(i)) for i in (3, 4, 5)]
    # batch 1: doc 17 (bucket 1) joins the cluster — endpoints only in
    # bucket 1, but bucket 2's member needs the size patch 2 → 3
    docs1 = [(17, text_a)]
    schema = "doc_id long, text string"
    state = str(tmp_path / "state")
    cm = ClusterMaintenance(state)
    cm.process(spark.createDataFrame(docs0, schema), 0)
    base = os.path.join(state, "clusters")
    # (a) index twin beside every written bucket version
    for k in (1, 2):
        assert os.path.isdir(os.path.join(base, f"bucket={k}", "v=0"))
        assert os.path.isdir(
            os.path.join(base, "cindex", f"bucket={k}", "v=0")
        ), k

    cm.process(spark.createDataFrame(docs1, schema), 1)
    # (b) bucket 2 was discovered through the index and re-versioned
    assert os.path.isdir(os.path.join(base, "bucket=2", "v=1"))
    assert os.path.isdir(os.path.join(base, "cindex", "bucket=2", "v=1"))
    got = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cm.clusters(spark).collect()
    }
    assert got == {(1, 1, 3), (2, 1, 3), (17, 1, 3)}

    # (c) legacy store: no index anywhere → full-scan fallback, exact
    shutil.rmtree(os.path.join(base, "cindex"))
    docs2 = [(25, text_c), (33, text_c)]  # new cluster {25, 33}
    cm.process(spark.createDataFrame(docs2, schema), 2)
    want = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(
            spark.createDataFrame(
                docs0 + docs1 + docs2, schema
            )
        ).collect()
    }
    got = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in cm.clusters(spark).collect()
    }
    assert got == want
    # touched buckets re-grew their index twins at v=2
    assert os.path.isdir(os.path.join(base, "cindex", "bucket=1", "v=2"))


def test_stateful_blinks_phased_across_batches(spark, sf_dir, tmp_path):
    """streaming_blinks_phased (r11, r10 verdict #5) must equal batch
    detect_blinks_phased for every blink whose OPENING run completes
    before end-of-stream, with the open phase run and the two-run
    pattern history carried across micro-batches (two time-split
    files, maxFilesPerTrigger=1) and the per-user normalization
    consumed as a frozen eyelid_model."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.eyelid import (
        detect_blinks_phased,
        eyelid_distance,
        eyelid_model,
    )
    from vedb_gaze_spark.streaming.stateful import streaming_blinks_phased

    batch = load_table(spark, "events", sf_dir)
    model = {
        int(r.user_id): (float(r.ct), float(r.st), float(r.max_dist))
        for r in eyelid_model(batch).collect()
    }
    assert len(model) > 0

    mid = batch.agg(F.median(F.unix_micros("ts"))).collect()[0][0]
    src = str(tmp_path / "phased_src")
    batch.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        os.path.join(src, "c0")
    )
    batch.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        os.path.join(src, "c1")
    )
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        streaming_blinks_phased(stream, model)
        .writeStream.format("memory")
        .queryName("mem_phased")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM mem_phased").collect()
        }
        # a blink whose opening run reaches the user's final sample
        # never completes in the stream; exclude it from the batch side
        last = eyelid_distance(batch).groupBy("user_id").agg(
            F.max_by("event_id", F.struct("t", "event_id")).alias("last_id")
        )
        want = {
            tuple(r)
            for r in detect_blinks_phased(batch)
            .join(last, "user_id")
            .where(F.col("end_event_id") != F.col("last_id"))
            .drop("last_id")
            .collect()
        }
        assert got == want
        assert len(want) > 0
    finally:
        q.stop()


def test_streaming_pldata_ingest_matches_batch(spark, tmp_path):
    """stream_pldata (binaryFile streaming source + the SAME decode
    kernel as the batch reader): recording files discovered across two
    micro-batches produce exactly the batch read_pldata body rows
    (minus the sidecar capture_ts, a batch-side join)."""
    import os

    from vedb_gaze_spark.sources.pldata import (
        GAZE_FIELDS,
        read_pldata,
        stream_pldata,
        write_pldata,
    )

    root = tmp_path / "captures"

    def gaze_datum(ts, conf, nx, ny):
        return {
            "topic": "gaze.3d.0",
            "timestamp": ts,
            "confidence": conf,
            "norm_pos": [nx, ny],
        }

    write_pldata(
        str(root / "rec_a"),
        "gaze",
        [gaze_datum(10.0 + i * 0.1, 0.9 - i * 0.2, 0.2 + i * 0.1, 0.8)
         for i in range(4)],
    )
    write_pldata(
        str(root / "rec_b"),
        "gaze",
        [gaze_datum(20.0, 0.5, 0.1, 0.9), gaze_datum(20.1, 0.7, 0.15, 0.85)],
    )
    # force discovery order: rec_a's file older than rec_b's
    t0 = 1_700_000_000
    for i, rec in enumerate(["rec_a", "rec_b"]):
        p = str(root / rec / "gaze.pldata")
        os.utime(p, (t0 + i, t0 + i))

    stream = stream_pldata(
        spark, str(root / "*"), "gaze", fields=GAZE_FIELDS,
        options={"maxFilesPerTrigger": "1"},  # genuine cross-batch run
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("mem_pldata")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM mem_pldata").collect()
        }
        want = {
            tuple(r)
            for r in read_pldata(
                spark, str(root / "*"), "gaze", fields=GAZE_FIELDS
            )
            .drop("capture_ts")
            .collect()
        }
        assert got == want
        assert len(want) == 6
    finally:
        q.stop()


def test_streaming_y4m_frames_match_batch_and_drive_detector(spark, tmp_path):
    """stream_y4m_frames: segment files discovered across micro-batches
    produce exactly the batch read_y4m_frames rows (shared decode
    kernel), and the stateless pupil detector composes over the stream
    unchanged (batch operator on a stream — the r7 pattern)."""
    import datetime
    import os

    import numpy as np

    from vedb_gaze_spark.operators.multimodal import detect_pupil_frames
    from vedb_gaze_spark.sources.y4m import (
        encode_y4m,
        read_y4m_frames,
        stream_y4m_frames,
    )

    root = tmp_path / "segments"
    os.makedirs(root)
    H, W = 48, 64
    yy, xx = np.mgrid[0:H, 0:W]
    for seg in range(2):
        frames = []
        for i in range(3):
            a = np.full((H, W), 180, dtype=np.uint8)
            a[(xx - (20 + 4 * seg + i)) ** 2 + (yy - 24) ** 2 <= 36] = 20
            frames.append(a)
        (root / f"eye{seg}.y4m").write_bytes(
            encode_y4m(frames, fps=(30, 1))
        )
        os.utime(root / f"eye{seg}.y4m", (1_700_000_000 + seg,) * 2)

    t0 = datetime.datetime(2026, 1, 1)
    stream = stream_y4m_frames(
        spark, str(root), start_ts=t0,
        options={"maxFilesPerTrigger": "1"},
    )
    q = (
        detect_pupil_frames(stream)
        .writeStream.format("memory")
        .queryName("mem_y4m")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM mem_y4m").collect()
        }
        batch = read_y4m_frames(spark, str(root), start_ts=t0)
        want = {tuple(r) for r in detect_pupil_frames(batch).collect()}
        assert got == want
        assert len(want) == 6
        # the detections actually track the planted moving pupil
        xs = sorted(r[3] for r in want)
        assert xs[0] < xs[-1] and all(18 < x < 30 for x in xs)
    finally:
        q.stop()


def test_streaming_pca_projection_matches_batch(spark, sf_dir, tmp_path):
    """The trained PCA model streams as a frozen literal expression
    (pca_projection_expr — the nb_lang_id frozen-model discipline):
    embedding micro-batches project row-locally to EXACTLY the batch
    embed_pca rows."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        embed_pca,
        pca_projection_expr,
        pca_train,
    )
    from vedb_gaze_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    mean, comps, scale = pca_train(emb, d_out=8, whiten=True)
    expr = pca_projection_expr(mean, comps, scale, vec_col="v")

    src = str(tmp_path / "emb_stream")
    half = emb.where("vec_id % 2 = 0")
    rest = emb.where("vec_id % 2 = 1")
    half.coalesce(1).write.parquet(os.path.join(src, "c0"))
    rest.coalesce(1).write.parquet(os.path.join(src, "c1"))
    t0 = 1_700_000_000
    for i, d in enumerate(["c0", "c1"]):
        for root, _, files in os.walk(os.path.join(src, d)):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .select("vec_id", F.expr(expr).alias("proj"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("mem_pca")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            r.vec_id: tuple(r.proj)
            for r in spark.sql("SELECT * FROM mem_pca").collect()
        }
        want = {
            r.vec_id: tuple(r.proj)
            for r in embed_pca(emb, d_out=8, whiten=True).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_ivfsq8_mining_serves_over_stored_labeled_index(
    spark, sf_dir, tmp_path
):
    """Hard-negative mining over the STORED cell-partitioned index
    (r11 verdict #5): (a) write_ivfsq8_index(with_labels=True) persists
    nlbl beside the codes; (b) IVFSQ8Serving(mine_labels=True) streamed
    over query micro-batches returns EXACTLY the batch
    mine_hard_negatives_ivfsq8 rows (shared probe + search kernel +
    pair_filter, model loaded from the index); (c) the codes scan is
    partition-pruned on the probed cells; (d) every answered neighbor
    sits in a probed cell of its query (containment)."""
    import os

    import pyspark.sql.functions as F

    from vedb_gaze_spark.operators.similarity import (
        _dots_expr_for,
        _ivf_sq8_probe,
        _vecs,
        mine_hard_negatives_ivfsq8,
    )
    from vedb_gaze_spark.plans import params as P
    from vedb_gaze_spark.streaming.serving import (
        IVFSQ8Serving,
        write_ivfsq8_index,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    idx = str(tmp_path / "mine_idx")
    write_ivfsq8_index(emb, idx, with_labels=True)
    # labels live beside the codes
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    assert "nlbl" in codes.columns

    job = IVFSQ8Serving(idx, str(tmp_path / "mine_out"), mine_labels=True)
    qraw = emb.where(F.col("vec_id") < P.ANN_N_QUERIES)

    # partition pruning still fires with the label column present
    queries = _vecs(qraw).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probed = _ivf_sq8_probe(queries, job._load_cents(spark), P.IVF_PROBES)
    plan = (
        job.probed_codes(spark, probed)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan

    # two micro-batches ≡ the batch miner
    job.process(qraw.where(F.col("vec_id") % 2 == 0), 0)
    job.process(qraw.where(F.col("vec_id") % 2 == 1), 1)
    got = {tuple(r) for r in job.results(spark).collect()}
    want = {tuple(r) for r in mine_hard_negatives_ivfsq8(emb).collect()}
    assert got == want and len(want) > 0

    # containment: every answered neighbor's cell is probed by its query
    cents = job._load_cents(spark)
    cell_of = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id",
            F.expr(
                _dots_expr_for(cents, "cast(embedding as array<double>)")
            ).alias("d"),
        )
        .select(
            "vec_id",
            (F.expr("array_position(d, array_max(d))") - 1)
            .cast("int")
            .alias("cell"),
        )
        .collect()
    }
    probed_cells = {}
    for r in probed.select("query_id", "cell").collect():
        probed_cells.setdefault(r.query_id, set()).add(r.cell)
    for r in job.results(spark).collect():
        assert cell_of[r.neighbor_id] in probed_cells[r.query_id], r
    # and the mining answers really exclude same-label pairs
    for r in job.results(spark).collect():
        assert r.query_label != r.neighbor_label, r
