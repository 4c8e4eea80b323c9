"""Multimodal plumbing tests: binary payload columns through mapInPandas
stages (decode stubbed deterministically — no codec libs in container)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from kamu_engine_flink_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("duration_ms", LongType()),
        ]
    )
    rows = [(i, bytes([i % 256]) * (100 + i), 3500 + i * 100) for i in range(20)]
    return spark.createDataFrame(rows, schema).repartition(4)


def test_decode_images_schema_and_determinism(media):
    out = multimodal.decode_images(media)
    assert "image_meta" in out.columns
    rows1 = {r.media_id: r.image_meta for r in out.collect()}
    rows2 = {r.media_id: r.image_meta for r in multimodal.decode_images(media).collect()}
    assert rows1 == rows2  # deterministic across runs
    meta = rows1[0]
    assert 64 <= meta.width < 256 and 64 <= meta.height < 256
    assert meta.channels in (1, 3)
    assert meta.format in ("png", "jpeg", "webp")


def test_sample_frames_explosion(media):
    frames = multimodal.sample_frames(media, every_ms=1000)
    counts = {r.media_id: r.n for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    # duration 3500ms + 100*i sampled at 1s -> 4+ frames
    assert counts[0] == 4
    assert counts[19] == 6  # 5400ms -> t in {0,1000,...,5000}
    one = frames.filter((F.col("media_id") == 0)).orderBy("frame_index").collect()
    assert [r.frame_time_ms for r in one] == [0, 1000, 2000, 3000]
    assert len({r.frame_payload for r in one}) == 4  # distinct per frame


def test_decode_audio_schema_and_determinism(media):
    out = multimodal.decode_audio(media)
    assert "audio_meta" in out.columns
    rows1 = {r.media_id: r.audio_meta for r in out.collect()}
    rows2 = {r.media_id: r.audio_meta for r in multimodal.decode_audio(media).collect()}
    assert rows1 == rows2
    meta = rows1[0]
    assert meta.sample_rate in (8000, 16000, 22050, 44100)
    assert meta.channels in (1, 2)
    assert 1000 <= meta.duration_ms < 61000
    assert meta.codec in ("wav", "flac", "opus")


def test_sample_audio_windows_explosion(media):
    wins = multimodal.sample_audio_windows(media, window_ms=500, sample_rate=16000)
    counts = {r.media_id: r.n for r in wins.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    assert counts[0] == 7  # 3500ms / 500ms
    assert counts[19] == 11  # 5400ms -> ceil(5400/500)
    one = wins.filter(F.col("media_id") == 19).orderBy("window_index").collect()
    assert [r.start_ms for r in one][:3] == [0, 500, 1000]
    assert one[-1].end_ms == 5400  # last window clamped to duration
    assert one[-1].n_samples == (5400 - 5000) * 16000 // 1000
    assert one[0].n_samples == 500 * 16000 // 1000
    assert len({r.window_payload for r in one}) == len(one)  # distinct digests


def test_real_decode_path_gated(media, spark):
    with pytest.raises(Exception) as exc_info:
        multimodal.decode_images(media, deterministic_fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "codec" in str(exc_info.value)


def _make_png(width, height, rgb_rows):
    """Minimal real PNG encoder (8-bit RGB, filter 0) — stdlib only."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(row) for row in rgb_rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(sample_rate=8000, channels=1, n_frames=4000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"\x01\x00" * n_frames * channels)
    return buf.getvalue()


def test_decode_images_real_png(spark):
    """deterministic_fake=False decodes a REAL PNG through the stdlib
    codec path (the verdict's 1x1-fixture criterion, plus a 2x2)."""
    png1 = _make_png(1, 1, [[255, 0, 0]])
    png2 = _make_png(2, 2, [[1, 2, 3, 4, 5, 6], [7, 8, 9, 10, 11, 12]])
    df = spark.createDataFrame(
        [(1, bytearray(png1)), (2, bytearray(png2))], ["media_id", "payload"]
    )
    got = {
        r["media_id"]: r["image_meta"].asDict()
        for r in multimodal.decode_images(df, deterministic_fake=False).collect()
    }
    assert got[1] == {"width": 1, "height": 1, "channels": 3, "format": "png"}
    assert got[2] == {"width": 2, "height": 2, "channels": 3, "format": "png"}


def test_decode_audio_real_wav(spark):
    wav = _make_wav(sample_rate=8000, n_frames=4000)  # 500 ms mono
    df = spark.createDataFrame([(1, bytearray(wav))], ["media_id", "payload"])
    got = multimodal.decode_audio(df, deterministic_fake=False).collect()[0][
        "audio_meta"
    ].asDict()
    assert got == {
        "sample_rate": 8000,
        "channels": 1,
        "duration_ms": 500,
        "codec": "wav",
    }


def test_decode_real_path_unreadable_container_raises(spark):
    """Bytes no available codec can read must fail loudly on the real
    path (and keep working on the digest-fake path)."""
    import pytest

    junk = b"not-an-image-at-all"
    df = spark.createDataFrame([(1, bytearray(junk))], ["media_id", "payload"])
    with pytest.raises(Exception) as ei:
        multimodal.decode_images(df, deterministic_fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)
    assert multimodal.decode_images(df, deterministic_fake=True).count() == 1
