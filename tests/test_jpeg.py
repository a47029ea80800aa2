"""Pure-stdlib baseline JPEG codec (engine/kernel/jpeg.py): lossy
roundtrip within quantization error across 4:4:4 / 4:2:0 / grayscale,
restart-marker invariance, non-multiple-of-8 dims, and honest
rejection of unsupported modes. Encoder and decoder are independent
implementations of the two T.81 directions (FDCT+Huffman-write vs
Huffman-read+IDCT), so a roundtrip bound is a real equality gate on
the marker framing, table serialization, entropy coding and DCT math
— not a tautology."""

import struct

import pytest

from codec_fixtures import encode_jpeg
from engine.kernel.jpeg import ZIGZAG, _clamp, decode_jpeg


def _luma_gradient(w: int, h: int) -> bytes:
    """Smooth R=G=B gradient: chroma is constant 128, so 4:2:0
    subsampling is exactly lossless on the chroma planes."""
    out = bytearray()
    for y in range(h):
        for x in range(w):
            v = (x * 255 // max(1, w - 1) + y * 255 // max(1, h - 1)) // 2
            out += bytes([v, v, v])
    return bytes(out)


def _err_stats(a: bytes, b: bytes) -> tuple[int, float]:
    diffs = [abs(x - y) for x, y in zip(a, b)]
    return max(diffs), sum(diffs) / len(diffs)


def test_zigzag_is_the_standard_order():
    # spot-check the generated table against the published first/last
    # entries of the T.81 zigzag sequence
    assert ZIGZAG[:10] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert ZIGZAG[-4:] == [47, 55, 62, 63]
    assert sorted(ZIGZAG) == list(range(64))


def test_roundtrip_flat_color_near_exact():
    w, h = 16, 16
    px = bytes([200, 120, 40]) * (w * h)
    blob = encode_jpeg(w, h, px, channels=3, quality=90)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    gw, gh, gch, gpx = decode_jpeg(blob)
    assert (gw, gh, gch) == (w, h, 3)
    mx, mean = _err_stats(px, gpx)
    assert mx <= 3, f"flat color should survive almost exactly (max {mx})"


def test_roundtrip_gradient_within_quantization_error():
    w, h = 24, 16
    px = _luma_gradient(w, h)
    blob = encode_jpeg(w, h, px, channels=3, quality=90)
    gw, gh, gch, gpx = decode_jpeg(blob)
    assert (gw, gh, gch) == (w, h, 3)
    mx, mean = _err_stats(px, gpx)
    assert mx <= 16 and mean <= 4.0, f"max {mx}, mean {mean:.2f}"


def test_roundtrip_420_subsampled():
    w, h = 32, 32
    px = _luma_gradient(w, h)
    blob = encode_jpeg(w, h, px, channels=3, quality=90, subsample=True)
    gw, gh, gch, gpx = decode_jpeg(blob)
    assert (gw, gh, gch) == (w, h, 3)
    mx, mean = _err_stats(px, gpx)
    assert mx <= 16 and mean <= 4.0, f"max {mx}, mean {mean:.2f}"
    # and the stream really declares 2x2 luma sampling in SOF0
    sof = blob.index(b"\xff\xc0")
    assert blob[sof + 11] == 0x22  # (h<<4)|v for component 1


def test_roundtrip_grayscale():
    w, h = 16, 8
    px = bytes((x * 9 + y * 17) % 256 for y in range(h) for x in range(w))
    blob = encode_jpeg(w, h, px, channels=1, quality=92)
    gw, gh, gch, gpx = decode_jpeg(blob)
    assert (gw, gh, gch) == (w, h, 1)
    mx, mean = _err_stats(px, gpx)
    assert mx <= 20 and mean <= 5.0, f"max {mx}, mean {mean:.2f}"


def test_non_multiple_of_8_dims_crop_back():
    w, h = 19, 13
    px = _luma_gradient(w, h)
    blob = encode_jpeg(w, h, px, channels=3, quality=90)
    gw, gh, gch, gpx = decode_jpeg(blob)
    assert (gw, gh, gch) == (w, h, 3)
    assert len(gpx) == w * h * 3
    mx, _ = _err_stats(px, gpx)
    assert mx <= 20


def test_restart_markers_do_not_change_pixels():
    """DRI/RSTn framing is pure transport: the quantized coefficients
    are identical, so decoded pixels must match bit-for-bit."""
    w, h = 40, 24
    px = _luma_gradient(w, h)
    plain = encode_jpeg(w, h, px, channels=3, quality=85)
    rst = encode_jpeg(w, h, px, channels=3, quality=85, restart_interval=2)
    assert b"\xff\xdd" in rst and b"\xff\xd0" in rst
    assert b"\xff\xdd" not in plain
    assert decode_jpeg(plain) == decode_jpeg(rst)


def test_quality_knob_monotone_on_size():
    w, h = 32, 32
    px = _luma_gradient(w, h)
    small = len(encode_jpeg(w, h, px, quality=20))
    big = len(encode_jpeg(w, h, px, quality=95))
    assert small < big


def test_not_a_jpeg_rejected():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)


def test_progressive_named():
    blob = bytearray(encode_jpeg(8, 8, bytes(192), channels=3))
    sof = blob.index(b"\xff\xc0")
    blob[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(blob))


def test_truncated_stream_rejected():
    blob = encode_jpeg(16, 16, _luma_gradient(16, 16), quality=80)
    with pytest.raises(ValueError):
        decode_jpeg(blob[: len(blob) // 2])


def test_16bit_quant_tables_named():
    blob = bytearray(encode_jpeg(8, 8, bytes(192), channels=3))
    dqt = blob.index(b"\xff\xdb")
    blob[dqt + 4] |= 0x10  # Pq=1: 16-bit table
    with pytest.raises(ValueError, match="16-bit"):
        decode_jpeg(bytes(blob))


def test_bad_restart_sequence_rejected():
    blob = bytearray(
        encode_jpeg(
            32, 16, _luma_gradient(32, 16), quality=85, restart_interval=1
        )
    )
    i = blob.index(b"\xff\xd0")
    blob[i + 1] = 0xD5  # wrong RST index
    with pytest.raises(ValueError, match="RST"):
        decode_jpeg(bytes(blob))


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="channels"):
        encode_jpeg(2, 2, bytes(8), channels=2)
    with pytest.raises(ValueError, match="quality"):
        encode_jpeg(2, 2, bytes(12), channels=3, quality=0)
    with pytest.raises(ValueError, match="pixel buffer"):
        encode_jpeg(2, 2, bytes(5), channels=3)
    with pytest.raises(ValueError, match="subsample"):
        encode_jpeg(2, 2, bytes(4), channels=1, subsample=True)


def _with_segment_body(blob: bytes, marker: int, body: bytes) -> bytes:
    """``blob`` with the first ``0xff<marker>`` segment's body replaced
    (and its length field rewritten to match)."""
    i = blob.index(bytes([0xFF, marker]))
    (seglen,) = struct.unpack(">H", blob[i + 2 : i + 4])
    seg = bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body
    return blob[:i] + seg + blob[i + 2 + seglen :]


@pytest.mark.parametrize(
    "marker,keep,name",
    [(0xC0, 5, "SOF0"), (0xC0, 9, "SOF0"), (0xDD, 0, "DRI"), (0xDA, 0, "SOS"), (0xDA, 4, "SOS")],
)
def test_truncated_segment_bodies_named(marker, keep, name):
    """A well-framed segment whose body is too short for its fields
    raises ValueError naming the segment, not IndexError/struct.error
    (ValueError is the decoders' one error type)."""
    blob = encode_jpeg(16, 16, _luma_gradient(16, 16), quality=80, restart_interval=2)
    i = blob.index(bytes([0xFF, marker]))
    body = blob[i + 4 : i + 4 + keep]
    with pytest.raises(ValueError, match=f"truncated {name} body"):
        decode_jpeg(_with_segment_body(blob, marker, body))


def test_zero_sampling_factor_rejected():
    blob = encode_jpeg(16, 16, _luma_gradient(16, 16), quality=80)
    i = blob.index(b"\xff\xc0")
    body = bytearray(blob[i + 4 : i + 4 + struct.unpack(">H", blob[i + 2 : i + 4])[0] - 2])
    body[7] = 0x01  # component 1: H=0, V=1
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(_with_segment_body(blob, 0xC0, bytes(body)))


@pytest.mark.parametrize("marker", [0x01, 0xD0, 0xD7])
def test_standalone_marker_before_sos_named(marker):
    blob = encode_jpeg(8, 8, _luma_gradient(8, 8), quality=80)
    corrupt = blob[:2] + bytes([0xFF, marker]) + blob[2:]
    with pytest.raises(ValueError, match="standalone marker"):
        decode_jpeg(corrupt)


def test_every_truncation_raises_valueerror():
    blob = encode_jpeg(16, 8, _luma_gradient(16, 8), quality=80, restart_interval=1)
    for cut in range(len(blob) - 2):  # the last two bytes are EOI
        with pytest.raises(ValueError):
            decode_jpeg(blob[:cut])


def test_oversized_sof0_rejected_before_allocation():
    """A SOF0 declaring 65535x65535 is refused by the shared
    MAX_IMAGE_PIXELS cap before any component plane is allocated."""
    import time

    blob = encode_jpeg(16, 16, _luma_gradient(16, 16), quality=80)
    i = blob.index(b"\xff\xc0")
    body = bytearray(blob[i + 4 : i + 4 + struct.unpack(">H", blob[i + 2 : i + 4])[0] - 2])
    body[1:5] = struct.pack(">HH", 65535, 65535)
    huge = _with_segment_body(blob, 0xC0, bytes(body))
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_jpeg(huge)
    assert time.perf_counter() - t0 < 1.0


def test_clamp_rounds_to_nearest():
    """Decoded samples round to nearest, as libjpeg does, instead of
    truncating toward zero (a systematic -0.5 bias)."""
    assert [_clamp(v) for v in (127.6, 127.4, 127.5, 254.6, 0.4)] == [
        128, 127, 128, 255, 0,
    ]
    assert _clamp(-3.2) == 0 and _clamp(300.0) == 255
