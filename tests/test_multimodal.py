"""Multimodal plumbing tests: binary columns through Arrow-batched decode.

Covers all three decoder tiers (see operators/multimodal.py): the
distributed contract (schema, null handling, fan-out shape, determinism)
on stub-decoded bytes; the REAL pure-Python tiers — container-header
parsing and stdlib-wave audio decode — against hand-crafted VALID
PNG/GIF/BMP/JPEG/WAV bytes; and the PIL pixel tier, env-gated.
"""

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image_meta,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "image", b"\x89PNG fake bytes 0", "s3://bucket/0.png"),
        (1, "image", b"\x89PNG other bytes 1", "s3://bucket/1.png"),
        (2, "image", None, "s3://bucket/missing.png"),
        (3, "video", b"\xff\xd8 fake video 3", "s3://bucket/3.mp4"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2)


def test_decode_schema_and_nulls(media):
    out = decode_image_meta(media)
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[2].decode_ok is False and rows[2].width is None
    for mid in (0, 1, 3):
        r = rows[mid]
        assert r.decode_ok and r.width >= 64 and r.height >= 64
        assert 1 <= r.channels <= 4
        assert len(r.sha256) == 64


def test_decode_deterministic(media):
    a = sorted(map(tuple, decode_image_meta(media).collect()))
    b = sorted(map(tuple, decode_image_meta(media).collect()))
    assert a == b


def test_frame_sampling_fanout(media):
    frames = sample_frames(media.where(F.col("kind") == "video"), max_frames=8)
    rows = frames.collect()
    assert 1 <= len(rows) <= 8
    assert all(r.media_id == 3 for r in rows)
    assert [r.frame_idx for r in rows] == list(range(len(rows)))
    assert len({r.frame_sha256 for r in rows}) == len(rows)


def test_resize_contract(media):
    from merchant_classification_spark.operators.multimodal import resize_images

    out = resize_images(media, width=8, height=8)
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 4
    # null content propagates as not-ok, never a task failure
    assert rows[2].resize_ok is False and rows[2].content is None
    ok = rows[0]
    assert ok.resize_ok and ok.width == 8 and ok.height == 8
    assert len(ok.content) <= 8 * 8 * 3
    # deterministic across runs
    again = {r.media_id: r for r in resize_images(media, 8, 8).collect()}
    assert again[0].content == ok.content


def test_audio_features_fanout(media):
    from merchant_classification_spark.operators.multimodal import (
        extract_audio_features,
    )

    out = extract_audio_features(media, n_features=16, max_windows=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    # null-content row dropped entirely
    assert 2 not in by_id
    for mid, rows in by_id.items():
        assert 1 <= len(rows) <= 4
        assert sorted(r.window_idx for r in rows) == list(range(len(rows)))
        for r in rows:
            assert len(r.features) == 16
            assert all(0.0 <= v < 1.0 for v in r.features)


# ---------------------------------------------------------------------------
# REAL media bytes: hand-crafted valid files through the real decode tiers
# ---------------------------------------------------------------------------


def make_png(width=2, height=1, rgb=(7, 8, 9)) -> bytes:
    """A VALID minimal PNG (8-bit RGB), built with stdlib zlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_wav(n_frames=8, rate=8000, channels=1) -> bytes:
    """A VALID minimal WAV (16-bit PCM), built with stdlib wave only."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(bytes(2 * channels * n_frames))
    return buf.getvalue()


def test_parse_image_header_real_formats():
    """Pure-Python header parse returns TRUE dimensions for real bytes of
    every supported container."""
    import struct

    from merchant_classification_spark.operators.multimodal import (
        parse_image_header,
    )

    assert parse_image_header(make_png(5, 3)) == (5, 3, 3)
    gif = b"GIF89a" + struct.pack("<HH", 11, 7) + b"\x00" * 20
    assert parse_image_header(gif) == (11, 7, 3)
    bmp = (
        b"BM"
        + b"\x00" * 16
        + struct.pack("<ii", 13, 9)
        + b"\x01\x00"
        + struct.pack("<H", 24)
    )
    assert parse_image_header(bmp) == (13, 9, 3)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"  # APP0, skipped by length
        + b"\xff\xc0" + struct.pack(">H", 11)
        + b"\x08" + struct.pack(">HH", 17, 23) + b"\x03" + b"\x00" * 4
    )
    assert parse_image_header(jpeg) == (23, 17, 3)
    assert parse_image_header(b"not an image at all") is None


def test_decode_image_meta_real_png(spark):
    """The driver-facing operator reports REAL pixel dimensions for real
    PNG bytes (header tier without PIL, pixel tier with it)."""
    rows = [
        (0, "image", make_png(2, 1), "mem://real0.png"),
        (1, "image", make_png(4, 6, (1, 2, 3)), "mem://real1.png"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2)
    got = {r.media_id: r for r in decode_image_meta(df).collect()}
    assert (got[0].width, got[0].height, got[0].channels) == (2, 1, 3)
    assert (got[1].width, got[1].height, got[1].channels) == (4, 6, 3)
    assert all(r.decode_ok for r in got.values())


def test_decode_audio_meta_real_wav(spark):
    """WAV decode is fully real (stdlib wave): rate/channels/frames come
    from the actual container; garbage bytes fail soft."""
    from merchant_classification_spark.operators.multimodal import (
        decode_audio_meta,
    )

    rows = [
        (0, "audio", make_wav(8, 8000, 1), "mem://a0.wav"),
        (1, "audio", make_wav(16000, 16000, 2), "mem://a1.wav"),
        (2, "audio", b"definitely not audio", "mem://bad.wav"),
        (3, "audio", None, "mem://missing.wav"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2)
    got = {r.media_id: r for r in decode_audio_meta(df).collect()}
    assert (got[0].sample_rate, got[0].channels, got[0].n_frames) == (8000, 1, 8)
    assert got[0].duration_s == pytest.approx(0.001)
    assert (got[1].sample_rate, got[1].channels, got[1].n_frames) == (16000, 2, 16000)
    assert got[1].duration_s == pytest.approx(1.0)
    assert got[2].decode_ok is False and got[2].sample_rate is None
    assert len(got[2].sha256) == 64  # hash still recorded for bad bytes
    assert got[3].decode_ok is False and got[3].sha256 is None


def test_decode_image_meta_real_pixels_with_pil(spark):
    """Env-gated: with PIL installed the pixel tier decodes our real PNG
    and agrees with the header tier; skipped where PIL is absent."""
    pytest.importorskip("PIL")
    rows = [(0, "image", make_png(3, 2), "mem://p.png")]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    r = decode_image_meta(df).collect()[0]
    assert (r.width, r.height, r.channels) == (3, 2, 3)
    assert r.decode_ok
