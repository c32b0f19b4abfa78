"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Decode coverage (round 4): PNG, BMP, baseline JPEG (T.81), GIF (LZW),
TIFF 6.0, and lossless WebP (VP8L) images, RIFF/PCM WAV audio, ISO-BMFF
(MP4) metadata, and MJPEG-in-AVI video frames ALL decode FOR REAL on the
stdlib + numpy (functions/media_decode.py, functions/vp8l.py) — the same
from-scratch approach as the %PDF decoder. What remains codec-bound is
explicit, never faked: lossy-VP8 WebP yields real header dimensions with
status='header_only'; MP3 walks frame headers under 'header_only'; other
image formats and non-MJPEG video get a deterministic stub
(``_fake_decode_image`` / frame hashes), flagged per row as
status='stub_decoded'. The one image decoder is the stdlib one on every
machine; a codec-library decoder plugs in through ``decode_images``'
``decoder=`` parameter. A zero-byte payload is a 'failure' row and a null
payload a 'skipped' row in every operator.

Scale notes: binary payloads never enter a shuffle — each operator is a row
function over ``operators/extract.py::map_rows`` (one ``mapInArrow``,
sliced Arrow batches, no pandas frame) on the scan partitions, and only the
(small) feature columns flow downstream. spark.sql.files.maxPartitionBytes
bounds per-task memory for big media files.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc_parser_spark.operators.extract import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.FloatType(), True),
        T.StructField("decode_status", T.StringType(), False),
    ]
)

def _map_media(media: DataFrame, kind: str, row, schema) -> DataFrame:
    """``row(media_id, payload)`` over the media rows of one ``kind``."""
    return map_rows(
        media.where(F.col("kind") == kind).select("media_id", "payload"),
        row,
        schema,
    )


def _fake_decode_image(payload: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for a real decode: dims and luma derive from
    the payload hash. Replace with a codec-library decoder on a cluster."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    mean_luma = h[2] / 255.0
    return width, height, mean_luma


def _stdlib_decode_image(payload: bytes):
    """Real stdlib decode for PNG/BMP/baseline-JPEG/GIF/TIFF; other formats
    fall back to the deterministic stub (flagged per row as 'stub_decoded').
    Returns (width, height, mean_luma, status)."""
    from doc_parser_spark.functions.media_decode import (
        GIF_MAGICS,
        JPEG_MAGIC,
        PNG_MAGIC,
        TIFF_MAGICS,
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        decode_tiff,
        decode_webp,
        is_webp,
    )

    if payload[:8] == PNG_MAGIC:
        w, h, luma = decode_png(payload)
        return w, h, luma, "decoded"
    if payload[:2] == b"BM":
        w, h, luma = decode_bmp(payload)
        return w, h, luma, "decoded"
    if payload[:2] == JPEG_MAGIC:
        w, h, luma = decode_jpeg(payload)
        return w, h, luma, "decoded"
    if payload[:6] in GIF_MAGICS:
        w, h, luma = decode_gif(payload)
        return w, h, luma, "decoded"
    if payload[:4] in TIFF_MAGICS:
        w, h, luma = decode_tiff(payload)
        return w, h, luma, "decoded"
    if is_webp(payload):
        # VP8L decodes fully; lossy VP8 reports real dims + null luma with
        # status 'header_only' (pixel decode is codec-bound, like MP3)
        return decode_webp(payload)
    w, h, luma = _fake_decode_image(payload)
    return w, h, luma, "stub_decoded"


def decode_images(media: DataFrame, decoder=None) -> DataFrame:
    """Image decode / feature extraction over binary payloads.

    ``decoder``: payload bytes → (width, height, mean_luma) or (width,
    height, mean_luma, status); defaults to the stdlib decoder, which
    reports per row whether the decode was real. The function object is
    captured by the row function's closure, so a custom decoder runs on the
    executors through the identical distributed path (the swap-in seam — no
    code change needed on a cluster with codec libs). A decoder exception or
    an empty payload yields a ``failure`` row, never a stub fallback.
    """
    dec = decoder or _stdlib_decode_image

    def row(media_id, payload):
        if payload is None:
            return [(media_id, "", 0, None, None, None, "skipped")]
        lineage = (media_id, hashlib.sha256(payload).hexdigest(), len(payload))
        failed = [lineage + (None, None, None, "failure")]
        if not payload:
            return failed
        try:
            res = dec(payload)
        except Exception:
            return failed
        return [lineage + tuple(res) + (("decoded",) if len(res) == 3 else ())]

    return _map_media(media, "image", row, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("decode_status", T.StringType(), False),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction for RIFF/PCM WAV on the stdlib
    (functions/media_decode.py::decode_wav): channels / rate / frames /
    duration + full-scale-normalized RMS and peak. MP3 walks every frame
    header for exact channels / rate / frame count / duration under an
    honest 'header_only' status with null RMS/peak (PCM decode is
    codec-bound — hybrid filterbank + IMDCT — same seam policy as
    lossy-VP8 WebP). Other/corrupt/empty payloads land status='failure'
    with null features — no stub fallback.

    Same scale shape as decode_images: runs on the scan partitions, binary
    never shuffles."""
    from doc_parser_spark.functions.media_decode import (
        MediaDecodeError,
        decode_wav,
        is_mp3,
        parse_mp3_meta,
    )

    def row(media_id, payload):
        if payload is None:
            return [(media_id,) + (None,) * 6 + ("skipped",)]
        try:
            if is_mp3(payload):
                f = parse_mp3_meta(payload)
                rms, peak, status = None, None, "header_only"
            else:
                f = decode_wav(payload)
                rms, peak, status = f["rms"], f["peak"], "decoded"
        except MediaDecodeError:
            return [(media_id,) + (None,) * 6 + ("failure",)]
        return [(media_id, f["channels"], f["sample_rate"], f["n_frames"],
                 f["duration_s"], rms, peak, status)]

    return _map_media(media, "audio", row, AUDIO_FEATURES_SCHEMA)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("decode_status", T.StringType(), False),
    ]
)


def video_metadata(media: DataFrame) -> DataFrame:
    """REAL container metadata for ISO-BMFF (MP4/MOV) video: ftyp brand,
    mvhd duration, trak count via a stdlib box walk — no codec work.
    Frame decoding is ``video_frames``."""
    from doc_parser_spark.functions.media_decode import (
        MediaDecodeError,
        parse_mp4_meta,
    )

    def row(media_id, payload):
        if payload is None:
            return [(media_id, None, None, None, "skipped")]
        try:
            m = parse_mp4_meta(payload)
        except MediaDecodeError:
            return [(media_id, None, None, None, "failure")]
        return [(media_id, m["brand"], m["duration_s"], m["n_tracks"],
                 "decoded")]

    return _map_media(media, "video", row, VIDEO_META_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("decode_status", T.StringType(), False),
    ]
)


def video_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL video frame sampling: MJPEG-in-AVI payloads are fully decoded
    on the stdlib (RIFF chunk walk → per-frame baseline-JPEG decode via the
    from-scratch T.81 decoder), one row per sampled frame with true dims and
    BT.601 mean luma. Non-AVI containers (MP4/H.264 etc. — genuinely
    codec-library-bound) fall back to the deterministic frame stub, flagged
    per row as 'stub_decoded' (same honest seam as the image path); a
    malformed AVI, a non-JPEG frame inside one or an empty payload is a
    'failure' row, never a stub. ``map_rows`` slices the Arrow batch, so
    one slice of long videos bounds a task's frame rows."""
    from doc_parser_spark.functions.media_decode import (
        AVI_MAGIC_HEAD,
        AVI_MAGIC_TYPE,
        MediaDecodeError,
        decode_avi_mjpeg,
    )

    def row(media_id, payload):
        if payload is None:
            return [(media_id, None, None, None, None, "skipped")]
        if not payload:
            return [(media_id, None, None, None, None, "failure")]
        if payload[:4] == AVI_MAGIC_HEAD and payload[8:12] == AVI_MAGIC_TYPE:
            try:
                frames = decode_avi_mjpeg(payload, every_n=every_n)
            except MediaDecodeError:
                return [(media_id, None, None, None, None, "failure")]
            return [(media_id, idx, w, h, luma, "decoded")
                    for idx, w, h, luma in frames]
        out = []
        for fi in range(0, 1 + payload[0] % 30, every_n):
            h = hashlib.sha256(payload + fi.to_bytes(4, "big")).digest()
            out.append((media_id, fi, 64 + h[0] * 4, 64 + h[1] * 4,
                        h[2] / 255.0, "stub_decoded"))
        return out

    return _map_media(media, "video", row, VIDEO_FRAME_SCHEMA)


def synth_media(spark, n: int = 50) -> DataFrame:
    """Deterministic synthetic media table for tests."""
    rng = np.random.RandomState(42)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        payload = bytes(rng.randint(0, 256, size=128 + (i % 64)).astype(np.uint8))
        rows.append(
            (i, f"conv-{i % 5}", i % 7, kinds[i % 3], payload, "application/octet-stream")
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
