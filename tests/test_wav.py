"""Pure-stdlib WAV decode (engine/kernel/wav.py): roundtrip against
ground-truth parameters and samples, statistics exactness, and honest
rejection of non-PCM payloads."""

import math

import pytest

from codec_fixtures import encode_wav
from engine.kernel.wav import decode_wav


def test_roundtrip_16bit():
    samples = [
        int(10000 * math.sin(2 * math.pi * 440 * t / 16000))
        for t in range(320)
    ]
    blob = encode_wav(samples, sample_rate=16000, sample_width=2)
    meta = decode_wav(blob)
    assert meta["sample_rate"] == 16000
    assert meta["n_samples"] == 320
    assert meta["channels"] == 1 and meta["sample_width"] == 2
    assert meta["duration_s"] == pytest.approx(320 / 16000)
    assert meta["peak"] == max(abs(s) for s in samples)
    assert meta["rms"] == pytest.approx(
        math.sqrt(sum(s * s for s in samples) / len(samples))
    )


@pytest.mark.parametrize("width", [1, 2, 4])
def test_widths(width):
    hi = 2 ** (8 * width - 1) - 1
    samples = [0, hi, -hi, hi // 2, -(hi // 3)]
    meta = decode_wav(
        encode_wav(samples, sample_rate=8000, sample_width=width)
    )
    assert meta["sample_width"] == width
    assert meta["n_samples"] == len(samples)
    assert meta["peak"] == hi


def test_stereo_frame_count():
    # 100 stereo frames = 200 interleaved samples
    samples = [i % 7 - 3 for i in range(200)]
    meta = decode_wav(
        encode_wav(samples, sample_rate=44100, channels=2, sample_width=2)
    )
    assert meta["channels"] == 2
    assert meta["n_samples"] == 100  # frames, not interleaved samples


def test_silence_rms_zero():
    meta = decode_wav(encode_wav([0] * 64))
    assert meta["rms"] == 0.0 and meta["peak"] == 0


def test_not_a_wav_rejected():
    with pytest.raises(ValueError, match="WAV"):
        decode_wav(b"AUD1" + b"\x00" * 32)
    with pytest.raises(ValueError, match="WAV"):
        decode_wav(b"RIFF\x00\x00\x00\x00JUNK")
