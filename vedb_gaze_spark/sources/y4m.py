"""Y4M (YUV4MPEG2) video-FILE ingest — the last reference end-to-end gap.

The reference's frame detectors iterate frames OUT OF A VIDEO FILE via
cv2/file_io (marker_detection.py:50 find_concentric_circles,
pupil_detection_pl.py:30 plabs_detect_pupil); this repo's detectors
consume per-frame payload ROWS. Y4M is the public, textual-header,
uncompressed interchange format (mjpegtools/ffmpeg `-f yuv4mpeg`), and
it parses with numpy alone — no cv2, no codec:

    stream header:  "YUV4MPEG2 W<w> H<h> F<num>:<den> [Ip] [A..] [C..]\\n"
    per frame:      "FRAME[ params]\\n" + planar Y [+ Cb + Cr] bytes

Spark-first mapping (the tarshards.py discipline):

- `spark.read.format("binaryFile")` lists the files — one row per
  .y4m, splits = files. Capture pipelines shard recordings into
  minutes-long segment files, so file count is the parallelism unit,
  exactly like WebDataset tar shards.
- An Arrow-batched ``mapInPandas`` parses each file and emits frame
  rows in BOUNDED chunks (``frames_per_batch``) so a long segment
  never materializes as one executor-resident batch.
- The emitted payload is the raw luma (Y) plane re-encoded as binary
  P5 — the exact frame-row contract every real-pixel detector in
  operators/multimodal.py consumes, so
  read_y4m_frames → detect_* → marker_filter_cluster composes with no
  adapter. Chroma planes are skipped at parse time (the detectors are
  luma-only, like the reference's grayscale conversion); full-range vs
  video-range Y is passed through untouched — deterministic bytes in,
  deterministic bytes out.

Frame timestamps are exact rational arithmetic off the header's F
numerator/denominator (frame i lands at start + i·den/num seconds,
computed in integer microseconds — no float drift over long videos).
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from vedb_gaze_spark.functions.core import portable_hash60_py

_Y4M_MAGIC = b"YUV4MPEG2"

# colorspace tag -> (chroma plane count, x subsample shift, y subsample
# shift). Luma is always w*h; each chroma plane is
# (w >> sx) * (h >> sy). Covers every tag mjpegtools/ffmpeg emit.
_COLORSPACES = {
    "C420": (2, 1, 1),
    "C420jpeg": (2, 1, 1),
    "C420mpeg2": (2, 1, 1),
    "C420paldv": (2, 1, 1),
    "C422": (2, 1, 0),
    "C444": (2, 0, 0),
    "Cmono": (0, 0, 0),
}
_DEFAULT_COLORSPACE = "C420jpeg"


def parse_y4m_header(buf: bytes) -> dict:
    """Parse the stream header. Returns {width, height, fps_num,
    fps_den, colorspace, data_off (first byte after the header
    newline), frame_bytes (per-frame plane payload size)}. Raises
    ValueError on anything that is not a well-formed YUV4MPEG2 header —
    a video source must fail loudly, not emit zero frames silently."""
    nl = buf.find(b"\n")
    if not buf.startswith(_Y4M_MAGIC) or nl < 0:
        raise ValueError("not a YUV4MPEG2 stream (bad magic/header)")
    w = h = num = den = None
    cs = _DEFAULT_COLORSPACE
    for tok in buf[len(_Y4M_MAGIC):nl].decode("ascii", "replace").split():
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            cs = tok
        # I (interlace), A (aspect), X (comment): irrelevant to decode
    if not w or not h or not num or not den:
        raise ValueError(f"YUV4MPEG2 header missing W/H/F: {buf[:nl]!r}")
    if cs not in _COLORSPACES:
        raise ValueError(f"unsupported Y4M colorspace {cs!r}")
    n_chroma, sx, sy = _COLORSPACES[cs]
    frame_bytes = w * h + n_chroma * ((w >> sx) * (h >> sy))
    return {
        "width": w,
        "height": h,
        "fps_num": num,
        "fps_den": den,
        "colorspace": cs,
        "data_off": nl + 1,
        "frame_bytes": frame_bytes,
    }


def iter_y4m_luma(buf: bytes) -> Iterator[tuple[int, bytes]]:
    """Yield (frame_idx, raw Y-plane bytes) for every complete frame.
    FRAME headers may carry per-frame params (rare but legal) — scan to
    each header's newline instead of assuming a fixed stride. A
    trailing truncated frame (crashed writer) is dropped, not padded:
    the per-frame detectors' corrupt-payload contract handles missing
    pixels explicitly, so a half-frame must not masquerade as data."""
    hd = parse_y4m_header(buf)
    w, h, fb = hd["width"], hd["height"], hd["frame_bytes"]
    pos, idx = hd["data_off"], 0
    n = len(buf)
    while pos < n:
        if buf[pos:pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        nl = buf.find(b"\n", pos)
        if nl < 0 or nl + 1 + fb > n:
            break  # truncated tail frame
        yield idx, buf[nl + 1:nl + 1 + w * h]
        pos = nl + 1 + fb
        idx += 1


def encode_y4m(
    frames,
    fps: tuple[int, int] = (30, 1),
    colorspace: str = _DEFAULT_COLORSPACE,
) -> bytes:
    """Gray uint8 (h, w) arrays → Y4M bytes: the test-planting twin of
    read_y4m_frames (round-trip of the Y plane is lossless). Chroma
    planes, where the colorspace has them, are neutral (128)."""
    import numpy as np

    frames = [np.ascontiguousarray(a, dtype=np.uint8) for a in frames]
    if not frames:
        raise ValueError("encode_y4m needs at least one frame")
    h, w = frames[0].shape
    if any(a.shape != (h, w) for a in frames):
        raise ValueError("all frames must share one (h, w)")
    n_chroma, sx, sy = _COLORSPACES[colorspace]
    chroma = bytes([128]) * ((w >> sx) * (h >> sy)) * n_chroma
    out = [
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 {colorspace}\n"
        .encode("ascii")
    ]
    for a in frames:
        out.append(b"FRAME\n")
        out.append(a.tobytes())
        out.append(chroma)
    return b"".join(out)


_FRAME_SCHEMA = (
    "user_id bigint, frame_id bigint, ts timestamp, payload binary"
)


def read_y4m_frames(
    spark: SparkSession,
    path: str,
    user_ids: dict[str, int] | None = None,
    start_ts: datetime.datetime | None = None,
    frames_per_batch: int = 64,
) -> DataFrame:
    """`{path}` (a glob or directory of .y4m segment files) → the
    standard frame-row table (user_id, frame_id, ts, payload=P5 luma)
    the real-pixel detectors consume — the reference's
    video-file-to-frame-stream step (marker_detection.py:50 /
    pupil_detection_pl.py:30 iterate cv2 captures) as a Spark source.

    user_id per FILE: ``user_ids`` maps basename → id explicitly
    (multi-camera rigs name segments per camera); unmapped files get
    the portable 60-bit md5 of their basename, the repo-wide
    deterministic-id discipline. ``start_ts`` anchors frame 0 of every
    file (default: the file's modificationTime from binaryFile, the
    capture-mtime convention); frame i lands at
    start + i·fps_den/fps_num seconds in exact integer microseconds.

    Scale: one task per segment file (binaryFile's split unit), frames
    re-batched every ``frames_per_batch`` rows so executor memory is
    bounded by batch_size·frame_bytes, not file size. The payload
    column prunes away for metadata-only queries as usual."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.y4m")
        .load(path)
        .select("path", "modificationTime", "content")
    )
    return files.mapInPandas(
        _frame_parser(user_ids, start_ts, frames_per_batch),
        schema=_FRAME_SCHEMA,
    )


def _frame_parser(
    user_ids: dict[str, int] | None,
    start_ts: datetime.datetime | None,
    frames_per_batch: int,
):
    """The shared segment-file → frame-rows decode closure: both the
    batch reader and the streaming face run THIS kernel, so streamed
    frame rows equal batch rows for the same files by construction."""
    umap = dict(user_ids or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vedb_gaze_spark.operators.multimodal import encode_pnm

        def flush(rows):
            return pd.DataFrame(
                {
                    "user_id": pd.Series(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "frame_id": pd.Series(
                        [r[1] for r in rows], dtype="int64"
                    ),
                    "ts": pd.Series(
                        [r[2] for r in rows], dtype="datetime64[us]"
                    ),
                    "payload": [r[3] for r in rows],
                }
            )

        import numpy as np

        for pdf in batches:
            rows = []
            for fpath, mtime, content in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                base = fpath.rsplit("/", 1)[-1]
                uid = umap.get(base)
                if uid is None:
                    uid = portable_hash60_py(base)
                buf = bytes(content)
                hd = parse_y4m_header(buf)
                w, h = hd["width"], hd["height"]
                t0 = start_ts if start_ts is not None else mtime
                t0_us = int(
                    pd.Timestamp(t0).value // 1000
                )  # ns -> us, exact
                num, den = hd["fps_num"], hd["fps_den"]
                for idx, yplane in iter_y4m_luma(buf):
                    ts_us = t0_us + (idx * 1_000_000 * den) // num
                    pnm = encode_pnm(
                        np.frombuffer(yplane, dtype=np.uint8).reshape(
                            (h, w)
                        )
                    )
                    rows.append(
                        (
                            int(uid),
                            int(idx),
                            pd.Timestamp(ts_us, unit="us"),
                            pnm,
                        )
                    )
                    if len(rows) >= frames_per_batch:
                        yield flush(rows)
                        rows = []
            if rows:
                yield flush(rows)

    return run


# the binaryFile source's fixed schema (needed up front by readStream)
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_y4m_frames(
    spark: SparkSession,
    path: str,
    user_ids: dict[str, int] | None = None,
    start_ts: datetime.datetime | None = None,
    frames_per_batch: int = 64,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming video ingest: `binaryFile` is a streaming-capable
    source, so each newly-landed .y4m segment file becomes one task in
    the micro-batch that discovers it, decoded by the SAME kernel as
    the batch reader — streamed frame rows ≡ batch rows for the same
    files by construction. The frame detectors (detect_frame_markers /
    detect_pupil_frames and friends) are stateless Arrow-batched maps,
    so they compose over this stream with no twin — a camera rig that
    drops segment files into a directory becomes a live detection
    pipeline. Pass ``start_ts`` explicitly for deterministic stamps
    (the mtime default is fine live, but replays re-stamp)."""
    reader = spark.readStream.format("binaryFile").schema(
        _BINARYFILE_SCHEMA
    )
    for k, v in (options or {}).items():  # e.g. maxFilesPerTrigger
        reader = reader.option(k, v)
    files = (
        reader.option("pathGlobFilter", "*.y4m")
        .load(path)
        .select("path", "modificationTime", "content")
    )
    return files.mapInPandas(
        _frame_parser(user_ids, start_ts, frames_per_batch),
        schema=_FRAME_SCHEMA,
    )
