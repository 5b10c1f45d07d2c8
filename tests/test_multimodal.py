"""Multimodal plumbing: schema, batch shape, determinism, NULL fallback."""

from __future__ import annotations

import pytest

from ocr_devnagari_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    frame_sample_stage,
    image_feature_stage,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [(f"m{i}", "image", bytes([i % 251]) * (100 + i * 37), "image/fake")
            for i in range(40)]
    return spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, mime string") \
        .cache()


@pytest.fixture(scope="module")
def png_media(spark):
    from ocr_devnagari_spark.codecs import encode_png
    rows = []
    for i in range(40):
        w, h = 4 + i % 9, 3 + i % 7
        px = [((i * 31 + j * 7) % 256,) for j in range(w * h)]
        rows.append((f"m{i}", "image", encode_png(px, w, h, 1), "image/png"))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_image_features_schema_and_determinism(spark, png_media):
    payloads = {r.media_id: r.payload for r in png_media.collect()}
    out1 = {r.media_id: r for r in image_feature_stage(png_media).collect()}
    out2 = {r.media_id: r for r in
            image_feature_stage(png_media.repartition(5)).collect()}
    assert len(out1) == 40
    for mid, r in out1.items():
        i = int(mid[1:])
        assert (r.width, r.height) == (4 + i % 9, 3 + i % 7)
        assert len(r.features) == FEATURE_DIM
        assert r.n_bytes == len(payloads[mid])
        r2 = out2[mid]
        assert (r.width, r.height, r.phash) == (r2.width, r2.height, r2.phash)
        assert r.features == r2.features


def test_frame_sampling_one_to_many(spark):
    from ocr_devnagari_spark.mp4box import encode_mp4
    # clip i: 1 + i % 20 frames at 10 fps, every frame a keyframe
    rows = [(f"m{i}", "video",
             encode_mp4([bytes([i, j]) * 8 for j in range(1 + i % 20)],
                        fps=10, sync_every=1), "video/mp4")
            for i in range(40)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = frame_sample_stage(media, every_ms=500, max_frames=4).collect()
    by_id = {}
    for f in frames:
        by_id.setdefault(f.media_id, []).append(f)
    assert set(by_id) == {f"m{i}" for i in range(40)}
    for mid, fs in by_id.items():
        n_clip = 1 + int(mid[1:]) % 20
        assert len(fs) == min(4, -(-n_clip // 5))
        assert sorted(f.ts_ms for f in fs) == [k * 500 for k in
                                               range(len(fs))]
        for f in fs:
            assert f.ts_ms == f.frame_idx * 100


def test_real_decode_nulls_unsupported_formats(spark, media):
    """Non-image bytes must NOT kill the job — feature
    columns are NULL, n_bytes stays real (a 100-TB corpus always
    contains payloads the stdlib codec can't read)."""
    rows = image_feature_stage(media).collect()
    assert len(rows) == media.count()
    for r in rows:
        assert r.width is None and r.phash is None and r.features is None
        assert r.n_bytes > 0


def test_real_png_decode_in_stage(spark):
    """PNG payloads: the stage returns TRUE dimensions
    and an aHash that is identical for identical images and differs for
    different ones — a real decoder, not a content-hash fake."""
    from ocr_devnagari_spark.codecs import encode_png

    def png(seed, w, h):
        px = [((seed * 31 + i * 7) % 256,) for i in range(w * h)]
        return encode_png(px, w, h, channels=1)

    rows = [("a", "image", png(1, 20, 10), "image/png"),
            ("a2", "image", png(1, 20, 10), "image/png"),   # identical
            ("b", "image", png(2, 33, 7), "image/png"),
            ("j", "image", b"\xff\xd8\xff\xe0 not decodable", "image/jpeg")]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           image_feature_stage(media).collect()}
    assert (got["a"].width, got["a"].height) == (20, 10)
    assert (got["b"].width, got["b"].height) == (33, 7)
    assert got["a"].phash == got["a2"].phash
    assert got["a"].phash != got["b"].phash
    assert len(got["a"].features) == 16
    assert abs(sum(got["a"].features) - 1.0) < 1e-3   # histogram sums to 1
    assert got["j"].width is None and got["j"].n_bytes > 0


def test_real_wav_decode_in_stage(spark):
    """audio_feature_stage decodes 16-bit PCM WAV with the stdlib codec:
    real channel count, sample rate, duration, flat RMS profile for a
    steady sine; non-WAV bytes yield NULLs."""
    import io
    import math
    import struct as st
    import wave

    from ocr_devnagari_spark.operators.multimodal import (
        audio_feature_stage,
    )

    def sine_wav(freq, seconds, rate=8000, amp=18000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            for i in range(int(rate * seconds)):
                w.writeframes(st.pack(
                    "<h", int(amp * math.sin(2 * math.pi * freq * i / rate))))
        return buf.getvalue()

    rows = [("s1", "audio", sine_wav(440, 0.5), "audio/wav"),
            ("s2", "audio", sine_wav(440, 2.0), "audio/wav"),
            ("x", "audio", b"OggS not a wav", "audio/ogg")]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in audio_feature_stage(media).collect()}
    assert got["s1"].sample_rate == 8000 and got["s1"].n_channels == 1
    assert got["s1"].duration_ms == 500
    assert got["s2"].duration_ms == 2000
    assert len(got["s1"].features) == 16
    mean = sum(got["s1"].features) / 16
    assert all(abs(f - mean) < 0.02 for f in got["s1"].features)
    assert got["x"].sample_rate is None and got["x"].n_bytes > 0


def test_png_roundtrip_all_filters():
    """Encoder/decoder roundtrip across every PNG scanline filter and
    channel count pins the filter arithmetic without an external codec."""
    import random

    from ocr_devnagari_spark.codecs import decode_png, encode_png
    rng = random.Random(11)
    for ch in (1, 3, 4):
        w, h = 17, 5
        px = [tuple(rng.randrange(256) for _ in range(ch))
              for _ in range(w * h)]
        for ftype in range(5):
            out = decode_png(encode_png(px, w, h, ch, filter_type=ftype))
            assert out["pixels"] == px, (ch, ftype)
            assert (out["width"], out["height"]) == (w, h)
