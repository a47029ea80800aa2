"""Pure-stdlib PNG codec (RFC 2083 / W3C PNG spec): the real decode
path for the multimodal image plumbing in a container with no image
libraries — PNG's container is chunked CRC-32 framing around a
zlib-compressed, per-scanline-filtered pixel stream, all of which the
Python stdlib covers (zlib, binascii.crc32, struct).

Scope (honest): 8-bit depth, color types 0 (grayscale), 2 (RGB) and
6 (RGBA), non-interlaced — the overwhelmingly common web PNG shapes.
16-bit, palette (3), gray+alpha (4) and Adam7 interlace raise
ValueError with a precise reason. All five scanline filters (None/
Sub/Up/Average/Paeth) are implemented and tested, including the Paeth
predictor's exact tie-break order.
"""

from __future__ import annotations

import binascii
import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 6: 4}
# decoded-frame cap shared with engine/kernel/jpeg.py: a header field
# alone (PNG IHDR, JPEG SOF0) could otherwise make a decoder allocate
# up to 65535² bytes per plane from a few hundred bytes of input
MAX_IMAGE_PIXELS = 1 << 24  # 4096 x 4096


def check_frame_size(width: int, height: int) -> None:
    """Raise ValueError for a declared frame over MAX_IMAGE_PIXELS —
    called on the header, before any pixel buffer exists."""
    if width * height > MAX_IMAGE_PIXELS:
        raise ValueError(
            f"frame {width}x{height} exceeds MAX_IMAGE_PIXELS "
            f"({MAX_IMAGE_PIXELS})"
        )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor with the spec's exact tie-break (a, then b,
    then c on equal distances)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG to ``(width, height, channels, pixels)`` with
    pixels as raw row-major 8-bit bytes. Chunk CRCs are verified;
    unsupported shapes raise ValueError naming the feature."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = channels = None
    idat = bytearray()
    seen_end = False
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError(f"truncated {tag!r} chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if binascii.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color not in _CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            if interlace != 0:
                raise ValueError("Adam7 interlace not supported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            check_frame_size(width, height)
            channels = _CHANNELS[color]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            seen_end = True
            break
    if width is None or channels is None:
        raise ValueError("missing IHDR")
    if not seen_end:
        raise ValueError("missing IEND")
    bpp = channels
    stride = width * channels
    expected = (stride + 1) * height
    # bounded inflate: a small IDAT cannot expand past what IHDR declares
    try:
        raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt zlib stream: {e}") from e
    if len(raw) != expected:
        raise ValueError(
            f"decompressed stream is {len(raw)}"
            f"{'+' if len(raw) > expected else ''} bytes, expected {expected}"
        )
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = bytearray(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        )
        if ft == 1:
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ft == 2:
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ft == 3:
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (a + prev[x]) // 2) & 0xFF
        elif ft == 4:
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(a, prev[x], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown scanline filter {ft}")
        out += line
        prev = bytes(line)
    return int(width), int(height), int(channels), bytes(out)
