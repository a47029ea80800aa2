"""Pure-stdlib WAV (RIFF PCM) decode: the real audio arm for the
multimodal plumbing, mirroring engine/kernel/png.py for images — the
stdlib ``wave`` module parses the RIFF container and hands back raw
PCM frames; sample statistics are computed with ``struct`` (audioop is
deprecated and absent in newer Pythons).

Scope (honest): integer PCM at 8/16/32-bit depths, any channel count
and rate — what ``wave`` itself supports. Compressed WAV (ADPCM, MP3
in RIFF), float PCM, and every other audio container still need
external codecs and raise at the multimodal layer.
"""

from __future__ import annotations

import io
import struct
import wave

_FMT = {1: "b", 2: "<h", 4: "<i"}
_OFFSET = {1: -128, 2: 0, 4: 0}  # 8-bit WAV PCM is unsigned


def decode_wav(data: bytes) -> dict:
    """Decode a RIFF/WAVE payload to its real parameters plus cheap
    sample statistics. Returns dict(sample_rate, n_samples, channels,
    sample_width, duration_s, peak, rms). Raises ValueError (wrapping
    wave.Error) on anything that is not integer-PCM WAV."""
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            rate = w.getframerate()
            n = w.getnframes()
            ch = w.getnchannels()
            width = w.getsampwidth()
            frames = w.readframes(n)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"not an integer-PCM WAV: {e}") from e
    if width not in _FMT:
        raise ValueError(f"unsupported sample width {width}")
    fmt, off = _FMT[width], _OFFSET[width]
    count = len(frames) // width
    peak = 0
    acc = 0
    if width == 1:
        for b in frames:
            v = b + off
            acc += v * v
            if abs(v) > peak:
                peak = abs(v)
    else:
        for (v,) in struct.iter_unpack(fmt, frames[: count * width]):
            acc += v * v
            if abs(v) > peak:
                peak = abs(v)
    rms = (acc / count) ** 0.5 if count else 0.0
    return {
        "sample_rate": int(rate),
        "n_samples": int(n),
        "channels": int(ch),
        "sample_width": int(width),
        "duration_s": (n / rate) if rate else 0.0,
        "peak": int(peak),
        "rms": float(rms),
    }
