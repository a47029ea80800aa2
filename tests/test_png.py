"""Pure-stdlib PNG codec (engine/kernel/png.py): roundtrip identity
across color types and every scanline filter, CRC verification, and
honest rejection of unsupported shapes."""

import struct
import zlib

import pytest

from codec_fixtures import encode_png
from engine.kernel.png import decode_png


def _pixels(w: int, h: int, ch: int) -> bytes:
    # deterministic non-trivial gradient exercising all byte values
    return bytes(
        (x * 7 + y * 13 + c * 101 + (x * y) % 37) & 0xFF
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


@pytest.mark.parametrize("ch", [1, 3, 4])
@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_roundtrip_every_color_type_and_filter(ch, ft):
    w, h = 13, 7  # odd dims: filter edge columns/rows exercised
    px = _pixels(w, h, ch)
    blob = encode_png(w, h, px, channels=ch, filter_type=ft)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    gw, gh, gch, gpx = decode_png(blob)
    assert (gw, gh, gch) == (w, h, ch)
    assert gpx == px


def test_filters_actually_differ_on_the_wire():
    """Guard against a vacuous parametrization: different filter types
    must produce different filtered streams for the same pixels (else
    the decoder's filter arms were never separately exercised)."""
    w, h, ch = 9, 5, 3
    px = _pixels(w, h, ch)
    blobs = {ft: encode_png(w, h, px, channels=ch, filter_type=ft)
             for ft in range(5)}
    assert len(set(blobs.values())) == 5


def test_crc_tamper_detected():
    blob = bytearray(encode_png(4, 4, _pixels(4, 4, 1), channels=1))
    # flip one bit inside the IDAT body (after the 8-byte sig + IHDR)
    idx = blob.index(b"IDAT") + 6
    blob[idx] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_not_a_png_rejected():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"IMG1" + b"\x00" * 20)


def test_unsupported_shapes_named():
    # hand-build an IHDR with 16-bit depth: decoder must name the
    # feature, not mis-decode
    import binascii

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", binascii.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_truncated_stream_rejected():
    blob = encode_png(6, 6, _pixels(6, 6, 3), channels=3)
    with pytest.raises(ValueError):
        decode_png(blob[:-8])  # IEND cut off mid-chunk


def test_multi_idat_accepted():
    """Decoders must concatenate IDAT chunks (spec: the zlib stream
    may be split arbitrarily)."""
    import binascii

    w, h, ch = 5, 4, 1
    px = _pixels(w, h, ch)
    raw = b"".join(
        b"\x00" + px[y * w : (y + 1) * w] for y in range(h)
    )
    z = zlib.compress(raw)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(
                ">I", binascii.crc32(tag + data) & 0xFFFFFFFF
            )
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", z[: len(z) // 2])
        + chunk(b"IDAT", z[len(z) // 2 :])
        + chunk(b"IEND", b"")
    )
    assert decode_png(blob) == (w, h, ch, px)


def _png(ihdr: bytes, idat: bytes) -> bytes:
    """Signature + IHDR + one IDAT + IEND, every CRC valid."""
    import binascii

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = binascii.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def test_oversized_ihdr_rejected_before_allocation():
    """A 65535x65535 IHDR is refused by the shared MAX_IMAGE_PIXELS cap
    on the header alone; a frame at the cap passes the size check and
    fails on its stream instead."""
    import time

    from engine.kernel.png import MAX_IMAGE_PIXELS

    idat = zlib.compress(b"\x00" * 64)
    huge = _png(struct.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 0), idat)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_png(huge)
    assert time.perf_counter() - t0 < 1.0
    at_cap = _png(struct.pack(">IIBBBBB", MAX_IMAGE_PIXELS // 4096, 4096, 8, 0, 0, 0, 0), idat)
    with pytest.raises(ValueError, match="decompressed stream"):
        decode_png(at_cap)


def test_idat_inflate_bounded_and_corrupt_stream_is_valueerror():
    """IDAT inflates only as far as IHDR declares (a 16 MB zlib bomb
    behind a 4x4 header stops at 21 bytes), and truncated or corrupt
    deflate data raises ValueError, the decoders' one error type."""
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="21\\+ bytes, expected 20"):
        decode_png(_png(ihdr, zlib.compress(b"\x00" * (16 << 20))))
    good = zlib.compress(bytes(20))
    with pytest.raises(ValueError):
        decode_png(_png(ihdr, good[:-6]))
    with pytest.raises(ValueError, match="corrupt zlib"):
        decode_png(_png(ihdr, b"\x78\x9c\xff\xff\xff\xff"))
