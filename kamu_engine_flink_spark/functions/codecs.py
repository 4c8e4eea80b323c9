"""Pure-stdlib media codecs for the multimodal operators.

PIL/soundfile are not installable in this environment, but real decode is
still possible for the formats whose containers the standard library can
unpack: WAV (RIFF/`wave` module — full PCM sample access), and
header-level metadata for PNG, JPEG (SOF markers), GIF and BMP. The
multimodal operators try these before falling back to their
deterministic digest fakes, and a PIL/soundfile import still wins
when one appears in the environment.

Every decoder takes raw bytes and raises ValueError on data it cannot
handle — callers decide whether to fall back or propagate.
"""

from __future__ import annotations

import io
import struct

# ---------------------------------------------------------------------------
# PNG / JPEG / GIF / BMP — header-level metadata (dimensions without decode)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
             0xCD, 0xCE, 0xCF}


def image_meta(data: bytes) -> dict:
    """Metadata {'width','height','channels','format'} for PNG/JPEG/GIF/BMP
    headers; ValueError on anything else."""
    if data[:8] == _PNG_SIG and len(data) >= 24:
        w, h = struct.unpack(">II", data[16:24])
        color = data[25] if len(data) > 25 else 6
        return {"width": w, "height": h,
                "channels": _PNG_CHANNELS.get(color, 3), "format": "png"}
    if data[:2] == b"\xff\xd8":  # JPEG
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                ch = data[pos + 9] if pos + 9 < len(data) else 3
                return {"width": w, "height": h, "channels": ch, "format": "jpeg"}
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            pos += 2 + seglen
        raise ValueError("JPEG without SOF marker")
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return {"width": w, "height": h, "channels": 3, "format": "gif"}
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return {"width": w, "height": abs(h), "channels": 3, "format": "bmp"}
    raise ValueError("unrecognized image container")


# ---------------------------------------------------------------------------
# WAV — full PCM decode via the stdlib wave module
# ---------------------------------------------------------------------------


def decode_wav(data: bytes) -> dict:
    """Decode a RIFF/WAV payload into {'sample_rate','channels',
    'duration_ms','codec','sample_width','n_frames','frames'} (frames =
    raw interleaved PCM bytes). ValueError on non-WAV bytes."""
    import wave

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            sr = w.getframerate()
            ch = w.getnchannels()
            n = w.getnframes()
            width = w.getsampwidth()
            frames = w.readframes(n)
    except wave.Error as e:
        raise ValueError(f"WAV parse failure: {e}") from e
    duration_ms = (n * 1000) // max(sr, 1)
    return {"sample_rate": sr, "channels": ch, "duration_ms": duration_ms,
            "codec": "wav", "sample_width": width, "n_frames": n,
            "frames": frames}
