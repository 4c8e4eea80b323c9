"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with typed metadata structs.
Decode / frame-sampling / audio-windowing run as Arrow-batched
`mapInPandas` stages — the Spark-side contract (schema, batch shape,
partitioning) is real and tested. The codec step resolves in order:

- PIL / soundfile when importable (not present in this container);
- pure-stdlib decoders (functions/codecs.py): PCM decode for RIFF/WAV,
  header metadata for PNG/JPEG/GIF/BMP — so `deterministic_fake=False`
  is a real path for those containers;
- `deterministic_fake=True` (default) derives reproducible
  metadata from the payload hash for container formats nothing
  present can read (the synthetic testdata payloads are such bytes).

At scale, the important properties are already here: media bytes never
leave the executor (no driver collect), Arrow moves batches into pandas
zero-copy-ish, and `spark.sql.files.maxPartitionBytes` bounds batch memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("format", StringType()),
    ]
)


def _decode_image_bytes(payload: bytes):
    """Real image decode: PIL when available, else the pure-stdlib
    container parsers (functions/codecs.py — header metadata for
    PNG/JPEG/GIF/BMP). Raises NotImplementedError only
    for containers nothing present can read."""
    try:
        from PIL import Image

        with Image.open(__import__("io").BytesIO(payload)) as im:
            return im.width, im.height, len(im.getbands()), (im.format or "?").lower()
    except ImportError:
        pass
    from ..functions import codecs

    try:
        meta = codecs.image_meta(payload)
    except ValueError as e:
        raise NotImplementedError(
            f"no available codec can read this image container: {e}"
        ) from e
    return meta["width"], meta["height"], meta["channels"], meta["format"]


def _fake_meta(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic pseudo-metadata from the payload digest."""
    d = hashlib.md5(payload or b"").digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    channels = 1 + (d[2] % 2) * 2  # 1 or 3
    fmt = ["png", "jpeg", "webp"][d[3] % 3]
    return width, height, channels, fmt


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    deterministic_fake: bool = True,
) -> DataFrame:
    """Attach an `image_meta` struct decoded from the binary payload."""
    out_schema = StructType(df.schema.fields + [StructField("image_meta", IMAGE_META_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = []
            for payload in pdf[payload_col]:
                raw = bytes(payload) if payload is not None else b""
                if deterministic_fake:
                    w, h, c, fmt = _fake_meta(raw)
                else:
                    w, h, c, fmt = _decode_image_bytes(raw)
                metas.append({"width": w, "height": h, "channels": c, "format": fmt})
            pdf = pdf.copy()
            pdf["image_meta"] = metas
            yield pdf

    return df.mapInPandas(batches, out_schema)


AUDIO_META_SCHEMA = StructType(
    [
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("codec", StringType()),
    ]
)


def _decode_audio_bytes(payload: bytes):
    """Real audio decode: soundfile when available, else the stdlib
    RIFF/WAV parser (functions/codecs.py — full PCM access). Raises
    NotImplementedError for containers nothing present can read."""
    try:
        import soundfile

        import io as _io

        with soundfile.SoundFile(_io.BytesIO(payload)) as f:
            dur = int(len(f) * 1000 / f.samplerate)
            return f.samplerate, f.channels, dur, (f.format or "?").lower()
    except ImportError:
        pass
    from ..functions import codecs

    try:
        meta = codecs.decode_wav(payload)
    except ValueError as e:
        raise NotImplementedError(
            f"no available codec can read this audio container: {e}"
        ) from e
    return meta["sample_rate"], meta["channels"], meta["duration_ms"], meta["codec"]


def _fake_audio_meta(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic pseudo audio metadata from digest bytes 4..8 (bytes
    0..3 are the image stub's — same payload can carry both modalities in
    tests without colliding fields)."""
    d = hashlib.md5(payload or b"").digest()
    sample_rate = [8000, 16000, 22050, 44100][d[4] % 4]
    channels = 1 + d[5] % 2
    duration_ms = 1000 + (d[6] * 256 + d[7]) % 60000
    codec = ["wav", "flac", "opus"][d[8] % 3]
    return sample_rate, channels, duration_ms, codec


def decode_audio(
    df: DataFrame,
    payload_col: str = "payload",
    deterministic_fake: bool = True,
) -> DataFrame:
    """Attach an `audio_meta` struct decoded from the binary payload."""
    out_schema = StructType(df.schema.fields + [StructField("audio_meta", AUDIO_META_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = []
            for payload in pdf[payload_col]:
                raw = bytes(payload) if payload is not None else b""
                if deterministic_fake:
                    sr, ch, dur, codec = _fake_audio_meta(raw)
                else:
                    sr, ch, dur, codec = _decode_audio_bytes(raw)
                metas.append(
                    {"sample_rate": sr, "channels": ch, "duration_ms": dur, "codec": codec}
                )
            pdf = pdf.copy()
            pdf["audio_meta"] = metas
            yield pdf

    return df.mapInPandas(batches, out_schema)


AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("window_index", IntegerType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n_samples", LongType()),
        StructField("window_payload", StringType()),  # stub: digest, not samples
    ]
)


def _audio_window_grid(durations, window_ms: int):
    """Vectorized fixed-window tiling: for each duration (clamped >= 1ms)
    return per-window (row_count, window_index, start_ms, end_ms) arrays,
    concatenated in row order. Windows tile [0, duration) exactly: no
    gaps, no overlap, last end == duration."""
    import numpy as np

    dur = np.maximum(np.asarray(durations, dtype=np.int64), 1)
    nwin = (dur + window_ms - 1) // window_ms
    total = int(nwin.sum())
    seg_starts = np.zeros(len(nwin), dtype=np.int64)
    np.cumsum(nwin[:-1], out=seg_starts[1:])
    idx = np.arange(total, dtype=np.int64) - np.repeat(seg_starts, nwin)
    start_ms = idx * window_ms
    end_ms = np.minimum(start_ms + window_ms, np.repeat(dur, nwin))
    return nwin, idx, start_ms, end_ms


def sample_audio_windows(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    window_ms: int = 500,
    duration_col: str = "duration_ms",
    sample_rate: int = 16000,
) -> DataFrame:
    """Explode an audio payload into fixed-length analysis windows (the
    grain resampling / spectral features / VAD run at). The explosion is
    fully vectorized per Arrow batch (np.repeat index arithmetic — no
    per-row Python loop for the shape); only the stubbed per-window digest
    walks rows. Durations are clamped to >= 1ms so every payload yields at
    least one window."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            nwin, idx, start_ms, end_ms = _audio_window_grid(
                pdf[duration_col].to_numpy(np.int64), window_ms
            )
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf[payload_col]
            ]
            row_of = np.repeat(np.arange(len(nwin), dtype=np.int64), nwin)
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(pdf[id_col].to_numpy(np.int64), nwin),
                    "window_index": idx.astype("int32"),
                    "start_ms": start_ms,
                    "end_ms": end_ms,
                    "n_samples": (end_ms - start_ms) * sample_rate // 1000,
                    "window_payload": [
                        hashlib.md5(
                            payloads[r] + int(s).to_bytes(8, "little")
                        ).hexdigest()
                        for r, s in zip(row_of, start_ms)
                    ],
                }
            )

    return df.mapInPandas(batches, AUDIO_WINDOW_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_time_ms", LongType()),
        StructField("frame_payload", StringType()),  # stub: digest, not pixels
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    every_ms: int = 1000,
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Explode a video payload into sampled frame rows (one row per
    `every_ms`). Frame decode is stubbed with a deterministic digest; the
    row-explosion shape (the part that matters for partitioning/shuffle
    planning at scale) is real."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # List-zip over materialized columns (like the audio-window path
        # above) — several-x faster than row-at-a-time pandas iterrows on
        # the frame-explode stage; per-frame work (the digest stub, or a
        # real decode) is inherent.
        for pdf in it:
            out = {"media_id": [], "frame_index": [], "frame_time_ms": [], "frame_payload": []}
            for mid, payload, duration in zip(
                pdf[id_col].tolist(),
                pdf[payload_col].tolist(),
                pdf[duration_col].tolist(),
            ):
                raw = bytes(payload) if payload is not None else b""
                mid = int(mid)
                for i, t in enumerate(range(0, max(int(duration), 1), every_ms)):
                    out["media_id"].append(mid)
                    out["frame_index"].append(i)
                    out["frame_time_ms"].append(t)
                    out["frame_payload"].append(
                        hashlib.md5(raw + t.to_bytes(8, "little")).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, FRAME_SCHEMA)
