"""Multimodal column plumbing: image/audio/video as opaque ``binary``.

The Spark-side contract is fully real — schemas, Arrow batch shapes,
partitioning, the ``mapInPandas`` stage signatures — and so are the
codecs: PNG (zlib + scanline filters, ``codecs.decode_png``), baseline +
progressive JPEG (from-scratch ITU T.81, ``jpegcodec.decode_jpeg``) and
WAV (``wave``) decode to real dimensions / aHash / histogram / RMS
features, and MP4 containers parse (from-scratch ISO/IEC 14496-12,
``mp4box.py``) for real keyframe byte-range sampling. Only compressed
VIDEO/AUDIO bitstream pixel/pcm decode genuinely needs external libs;
those payloads yield NULL feature columns with a real ``n_bytes`` — a
100-TB job must not die on the first exotic payload — and the
clearly-marked plug-in point is where PIL/torchvision/pyav slot in on a
cluster that ships them.

Pattern notes for 100 TB of media: payload bytes must cross into Python
exactly once (one fused decode+featurize stage), batches must be SMALL
(``maxRecordsPerBatch`` down to O(10) for multi-MB payloads — same
bounded-working-set reasoning as the reference's image-memory incident,
``docs/RESILIENT_OCR_PLAN.md:15-24``), and outputs should be fixed-size
features/metadata, never re-encoded payloads, so everything downstream is
columnar again.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from struct import error as struct_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),      # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("mime", T.StringType(), True),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("phash", T.LongType(), True),        # perceptual-hash slot
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])

FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("ts_ms", T.LongType(), False),
    T.StructField("frame_phash", T.LongType(), False),
])

FEATURE_DIM = 16


def image_feature_stage(media: DataFrame) -> DataFrame:
    """decode → resize → featurize, fused into one Arrow-batched stage.

    PNG and JPEG payloads decode with the from-scratch codecs
    (``codecs.image_features`` — true width/height, 8×8 average-hash,
    grayscale histogram). Out-of-subset payloads emit NULL feature
    columns (n_bytes stays real); exotic formats plug in at the marked
    point when PIL/torchvision exist on the cluster."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs import UnsupportedMediaError, image_features
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_bytes = len(payload or b"")
                try:
                    f = image_features(bytes(payload or b""),
                                       n_features=FEATURE_DIM)
                except UnsupportedMediaError:
                    # plug-in point: PIL/torchvision decode for other
                    # formats goes here on clusters that ship the libs
                    f = {"width": None, "height": None,
                         "phash": None, "features": None}
                recs.append(dict(media_id=mid, n_bytes=n_bytes, **f))
            out = pd.DataFrame.from_records(recs)
            yield out[[c.name for c in IMAGE_FEATURES_SCHEMA.fields]]

    src = media.select("media_id", "payload")
    return src.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])


def audio_feature_stage(media: DataFrame) -> DataFrame:
    """Real audio featurize: 16-bit-PCM WAV payloads decode with the
    stdlib ``wave`` codec (``codecs.audio_features`` — channels, sample
    rate, duration, per-segment RMS profile). Non-WAV payloads emit NULL
    feature columns; compressed formats (mp3/ogg) plug in at the marked
    point when ffmpeg/pyav exist."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs import UnsupportedMediaError, audio_features
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_bytes = len(payload or b"")
                try:
                    f = audio_features(bytes(payload or b""),
                                       n_segments=FEATURE_DIM)
                except UnsupportedMediaError:
                    # plug-in point: pyav/ffmpeg decode for compressed
                    # audio goes here
                    f = {"n_channels": None, "sample_rate": None,
                         "duration_ms": None, "features": None}
                recs.append(dict(media_id=mid, n_bytes=n_bytes, **f))
            out = pd.DataFrame.from_records(recs)
            yield out[[c.name for c in AUDIO_FEATURES_SCHEMA.fields]]

    return media.select("media_id", "payload").mapInPandas(
        run, AUDIO_FEATURES_SCHEMA)


def frame_sample_stage(media: DataFrame, every_ms: int = 1000,
                       max_frames: int = 8) -> DataFrame:
    """Video frame sampling — a one-to-many (UDTF-shaped) stage: each input
    row yields ≤ ``max_frames`` frame rows (the engine's explode-after-decode
    pattern, same shape as the reference's ``_split_by_pages``,
    marker_backend.py:185-206).

    Payloads parse as ISO BMFF containers (from-scratch ISO/IEC 14496-12,
    ``mp4box.py``): keyframes are the track's sync samples, timestamps
    come from the stts table, and each emitted row's hash is over the
    actual frame byte range sliced out of mdat — so only selected keyframe
    bytes (not whole videos) would cross into a pixel codec, which remains
    the documented plug-in for compressed bitstream decode.
    Non-BMFF/damaged payloads emit zero rows rather than failing the
    job."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs import UnsupportedMediaError
        from ..mp4box import video_keyframes
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    picked = video_keyframes(
                        bytes(payload or b""), every_ms=every_ms,
                        max_frames=max_frames)
                except (UnsupportedMediaError, struct_error,
                        IndexError, OverflowError):
                    continue          # hostile/foreign payload
                for s in picked:
                    fh = hashlib.blake2b(s["data"], digest_size=8).digest()
                    recs.append(dict(
                        media_id=mid, frame_idx=s["sample_idx"],
                        ts_ms=s["ts_ms"],
                        frame_phash=int.from_bytes(
                            fh, "little", signed=True)))
            out = pd.DataFrame.from_records(recs)
            if out.empty:
                out = pd.DataFrame(
                    columns=[c.name for c in FRAME_SAMPLE_SCHEMA.fields])
            yield out[[c.name for c in FRAME_SAMPLE_SCHEMA.fields]]

    return media.select("media_id", "payload").mapInPandas(
        run, FRAME_SAMPLE_SCHEMA)
