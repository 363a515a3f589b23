"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns exactly like the
PDF bytes do. The decode step is REAL, from scratch, for every format
the synthetic corpus and the PDF image sink emit (see
operators/mediadec.py): BMP / PPM-PGM, full PNG (Adam7 interlace, bit
depths 1-16), GIF, baseline + progressive JPEG, JPEG 2000 (JPX), WebP
(VP8L lossless), and PCM WAV audio. Payloads that are none of these
surface a typed decode_status failure code instead, the same contract
the PDF pipeline uses. The Spark plumbing — schema, Arrow batch shape,
mapInPandas signature, partitioning — is identical for every format.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .mediadec import (  # noqa: F401  (decode_image is this module's API too)
    MediaDecodeError,
    UnsupportedMediaError,
    decode_audio,
    decode_gif_frames,
    decode_image,
    encode_bmp,
    encode_wav,
)
from .parallelize import ensure_min_parallelism, map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media", BinaryType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("checksum", StringType()),
        # real decoded-pixel features (NULL when decode_status != ok)
        StructField("decode_status", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("ncomp", IntegerType()),
        StructField("mean_pixel", DoubleType()),
        # real decoded-audio features (NULL for non-audio rows)
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", DoubleType()),
        StructField("mean_amplitude", DoubleType()),
    ]
)


def _leading(df: DataFrame, *names: str) -> DataFrame:
    """``df`` with ``names`` as its first columns, for row functions that
    read them by position: ``df`` itself when they lead already (as in
    ``synth_media`` and ``synth_video`` output), else their projection."""
    return df if df.columns[: len(names)] == list(names) else df.select(*names)


def _synth_row(doc_id, text) -> list:
    """Deterministic REAL payloads: doc_id % 4 == 0 gets an 8x8 gray BMP
    whose pixels derive from md5(text); % 4 == 2 gets the SAME pixels as
    a lossless WebP (VP8L — the web's second image format); odd doc_ids
    get an opaque 'audio' blob (no pure-Python audio codec — byte
    features only)."""
    from delphi_pdf_parser_spark.fixtures import webp_encode

    doc_id = int(doc_id)
    seed = hashlib.md5((text or "").encode("utf-8")).digest()
    blob = (seed * ((64 // len(seed)) + 1))[:64]
    if doc_id % 4 == 0:
        payload = encode_bmp(8, 8, 1, blob)
        mtype = "image/bmp"
    elif doc_id % 4 == 2:
        payload = webp_encode(8, 8, 1, blob, use_lz77=True)
        mtype = "image/webp"
    else:
        # real PCM clip: 64 signed 16-bit samples from the seed
        samples = b"".join(
            (blob[i] - 128).to_bytes(2, "little", signed=True) for i in range(64)
        )
        payload = encode_wav(16000, 1, 16, samples)
        mtype = "audio/wav"
    return [(doc_id, payload, mtype, 8, 8)]


def synth_media(documents: DataFrame) -> DataFrame:
    """Attach a deterministic binary payload per document (stands in for
    a decoded-at-ingest thumbnail / audio clip). Image payloads are real
    BMP files so the decode path below runs on real pixels."""
    docs = ensure_min_parallelism(documents.select("doc_id", "text"), heavy=True)
    return map_rows(docs, _synth_row, MEDIA_SCHEMA)


def _feature_row(doc_id, media, mtype, *_) -> list:
    data = bytes(media)
    arr = np.frombuffer(data, dtype=np.uint8)
    status, w, h, nc, mp = "not_media", None, None, None, None
    rate, dur, amp = None, None, None
    if str(mtype).startswith("image/"):
        try:
            w, h, nc, pixels = decode_image(data)
            px = np.frombuffer(pixels, dtype=np.uint8)
            mp = round(float(px.mean()), 4) if len(px) else 0.0
            status = "ok"
        except UnsupportedMediaError as e:
            status, w, h, nc = f"unsupported:{e}", None, None, None
        except MediaDecodeError as e:
            status = f"corrupt:{e}"
    elif str(mtype).startswith("audio/"):
        try:
            rate, channels, bits, samples = decode_audio(data)
            dt = np.int16 if bits == 16 else np.uint8
            sv = np.frombuffer(samples, dtype=dt).astype(np.float64)
            if bits == 8:
                sv -= 128.0
            scale = 32768.0 if bits == 16 else 128.0
            n_frames = len(sv) // channels
            dur = round(n_frames / rate * 1000.0, 3)
            amp = round(float(np.abs(sv).mean()) / scale, 6) if len(sv) else 0.0
            nc = channels
            status = "ok"
        except UnsupportedMediaError as e:
            status, rate = f"unsupported:{e}", None
        except MediaDecodeError as e:
            status = f"corrupt:{e}"
    return [
        (
            int(doc_id),
            mtype,
            len(data),
            round(float(arr.mean()), 4) if len(arr) else 0.0,
            hashlib.md5(data).hexdigest(),
            status,
            w,
            h,
            nc,
            mp,
            rate,
            dur,
            amp,
        )
    ]


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the binary column: byte-level
    stats for every payload + real decoded-pixel features (dimensions,
    components, mean pixel) for decodable image formats."""
    return map_rows(
        _leading(media, "doc_id", "media", "media_type"), _feature_row, FEATURE_SCHEMA
    )


# --- video (animated GIF) frame sampling ------------------------------------

VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media", BinaryType()),
        StructField("media_type", StringType()),
        StructField("n_frames", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames_total", IntegerType()),
        StructField("mean_pixel", DoubleType()),
        StructField("frame_md5", StringType()),
        StructField("decode_status", StringType()),
    ]
)


def _synth_video_row(doc_id, text) -> list:
    """Deterministic animated GIF per document: 8x8, 6 frames whose
    palette indices derive from md5(text || frame)."""
    from delphi_pdf_parser_spark.fixtures import gif_encode_animated

    seed = (text or "").encode("utf-8")
    palette = hashlib.md5(seed + b"|pal").digest()[:12]  # 4 colors
    frames = []
    for f in range(6):
        d = hashlib.md5(seed + b"|f%d" % f).digest()
        frames.append([d[i % 16] & 3 for i in range(64)])
    payload = gif_encode_animated(8, 8, frames, palette)
    return [(int(doc_id), payload, "video/gif", 6)]


def synth_video(documents: DataFrame) -> DataFrame:
    """Attach a deterministic animated-GIF 'video' payload per document
    (the frame-sampling stand-in for real video containers; the GIF
    animation decode is real — operators/mediadec.decode_gif_frames)."""
    docs = ensure_min_parallelism(documents.select("doc_id", "text"), heavy=True)
    return map_rows(docs, _synth_video_row, VIDEO_SCHEMA)


def sample_video_frames(video: DataFrame, every_k: int = 2) -> DataFrame:
    """Sample every k-th frame of each video payload and emit per-frame
    features (the training-data 'frame-sample' primitive: one input row
    fans out to ceil(n_frames/k) frame rows). Map-only — scales linearly
    with corpus size; frame decode cost is bounded by max_frames=64."""

    def frame_rows(doc_id, media, *_) -> list:
        doc_id = int(doc_id)
        try:
            w, h, frames = decode_gif_frames(bytes(media))
        except MediaDecodeError as e:
            return [(doc_id, -1, None, None, None, None, None, f"corrupt:{e}")]
        return [
            (
                doc_id,
                fi,
                w,
                h,
                len(frames),
                round(float(np.frombuffer(frames[fi], dtype=np.uint8).mean()), 4),
                hashlib.md5(frames[fi]).hexdigest(),
                "ok",
            )
            for fi in range(0, len(frames), every_k)
        ]

    return map_rows(_leading(video, "doc_id", "media"), frame_rows, FRAME_SCHEMA)


# --- image resize ------------------------------------------------------------

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("resized", BinaryType()),
        StructField("mean_before", DoubleType()),
        StructField("mean_after", DoubleType()),
        StructField("decode_status", StringType()),
    ]
)


def resize_images(
    media: DataFrame, out_w: int = 4, out_h: int = 4
) -> DataFrame:
    """Nearest-neighbor resize of every decodable image payload (the
    thumbnail/normalize step of a multimodal ingest pipeline), emitted
    as raw interleaved bytes. Vectorized per image via NumPy fancy
    indexing; map-only."""

    def resized_rows(doc_id, media, *_) -> list:
        doc_id = int(doc_id)
        try:
            w, h, nc, pixels = decode_image(bytes(media))
        except UnsupportedMediaError as e:
            return [(doc_id,) + (None,) * 7 + (f"unsupported:{e}",)]
        except MediaDecodeError as e:
            return [(doc_id,) + (None,) * 7 + (f"corrupt:{e}",)]
        px = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, nc)
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        resized = px[ys][:, xs]
        return [
            (
                doc_id,
                w,
                h,
                out_w,
                out_h,
                resized.tobytes(),
                round(float(px.mean()), 4),
                round(float(resized.mean()), 4),
                "ok",
            )
        ]

    images = media.filter(F.col("media_type").startswith("image/"))
    return map_rows(_leading(images, "doc_id", "media"), resized_rows, RESIZED_SCHEMA)
