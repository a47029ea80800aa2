"""Pure-stdlib encoders that make real PNG, JPEG and WAV test fixtures
for the engine's decoders (engine/kernel/png.py, jpeg.py, wav.py):
ground-truth pixels or samples in, a real container out.

PNG: one IHDR + one IDAT + IEND with a caller-chosen filter type
applied to every scanline, so each decoder filter arm is exercised
against ground-truth pixels.

JPEG: Annex-K quantization tables scaled by libjpeg's quality formula,
FDCT, run-length + Huffman entropy coding, optional 4:2:0 chroma
subsampling (box-average down, replication up in the decoder) and
optional restart intervals. Its Huffman tables are FLAT canonical
tables (all 16 DC categories at one code length, every
valid-and-then-some (run,size) AC symbol at one code length) rather
than the Annex-K frequency-tuned ones: provably complete (no encodable
coefficient can lack a code), prefix-free, embedded in DHT like any
table — just not size-optimal, which fixtures don't need.

WAV: integer PCM through the stdlib ``wave`` writer.
"""

from __future__ import annotations

import binascii
import io
import struct
import wave
import zlib

from engine.kernel.jpeg import _DCT_M, ZIGZAG
from engine.kernel.png import _SIG, _paeth
from engine.kernel.wav import _FMT

# --- PNG -------------------------------------------------------------

_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> color type


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", binascii.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    filter_type: int = 0,
) -> bytes:
    """Encode 8-bit pixels (row-major, ``width*height*channels``
    bytes) as a PNG. ``filter_type`` (0-4) is applied to EVERY
    scanline — a knob for exercising each decoder filter arm, not an
    optimizer."""
    if channels not in _COLOR_TYPE:
        raise ValueError(f"channels must be 1, 3 or 4, got {channels}")
    if filter_type not in range(5):
        raise ValueError(f"filter_type must be 0..4, got {filter_type}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, expected "
            f"{width * height * channels}"
        )
    bpp = channels
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += line
        else:
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if filter_type == 1:
                    pred = a
                elif filter_type == 2:
                    pred = b
                elif filter_type == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(a, b, c)
                raw.append((line[x] - pred) & 0xFF)
        prev = line
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0
    )
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


# --- JPEG ------------------------------------------------------------

# Annex-K base quantization tables (natural row-major order)
_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# flat canonical encoder Huffman specs: (bits[16], huffval)
_DC_BITS = [0, 0, 0, 0, 16] + [0] * 11  # 16 categories, 5-bit codes
_DC_VALS = list(range(16))
# AC: EOB, ZRL, and every (run 0..15, size 1..14) at 9 bits — a
# superset of what 8-bit baseline can emit (max |coef| < 2^12)
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 15)
]
_AC_BITS = [0] * 8 + [len(_AC_VALS)] + [0] * 7


def _scaled_qtable(base: list[int], quality: int) -> list[int]:
    """libjpeg quality scaling: 1..100 → per-entry scale, clamped."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (q * scale + 50) // 100)) for q in base]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _fdct(block: list[float]) -> list[float]:
    tmp = [0.0] * 64
    for u in range(8):
        mu = _DCT_M[u]
        for x in range(8):
            s = 0.0
            for y in range(8):
                s += mu[y] * block[y * 8 + x]
            tmp[u * 8 + x] = s
    out = [0.0] * 64
    for u in range(8):
        tu = tmp[u * 8 : u * 8 + 8]
        for v in range(8):
            mv = _DCT_M[v]
            s = 0.0
            for x in range(8):
                s += tu[x] * mv[x]
            out[u * 8 + v] = s
    return out


def _category(v: int) -> int:
    """DC/AC magnitude category: bit length of |v| (0 for 0)."""
    return abs(v).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        while self.n:
            self.write(1, 1)

def _rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[float, float, float]:
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _plane_block(plane: list[float], pw: int, bx: int, by: int) -> list[float]:
    """8x8 block at block coords (bx, by), level-shifted by -128."""
    out = []
    base = by * 8 * pw + bx * 8
    for y in range(8):
        row = base + y * pw
        for x in range(8):
            out.append(plane[row + x] - 128.0)
    return out


def _encode_block(
    writer: _BitWriter,
    block: list[float],
    qtab: list[int],
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    coef = _fdct(block)
    quant = [int(round(coef[i] / qtab[i])) for i in range(64)]
    zz = [quant[ZIGZAG[k]] for k in range(64)]
    diff = zz[0] - pred
    size = _category(diff)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]
            writer.write(zc, zl)
            run -= 16
        s = _category(v)
        ac, al = ac_codes[(run << 4) | s]
        writer.write(ac, al)
        writer.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        ec, el = ac_codes[0x00]
        writer.write(ec, el)
    return zz[0]


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quality: int = 75,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit pixels (row-major, RGB or grayscale) as baseline
    JFIF. ``subsample=True`` writes 4:2:0 chroma (box-average);
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (exercises the decoder's restart path)."""
    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 or 3, got {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, expected "
            f"{width * height * channels}"
        )
    if subsample and channels == 1:
        raise ValueError("subsample applies to 3-channel images only")

    qt_l = _scaled_qtable(_QT_LUMA, quality)
    qt_c = _scaled_qtable(_QT_CHROMA, quality)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    # component planes (floats), edge-replicated to MCU multiples
    hs = 2 if subsample else 1  # luma sampling factor
    mcu_px = 8 * hs
    pw = (width + mcu_px - 1) // mcu_px * mcu_px
    ph = (height + mcu_px - 1) // mcu_px * mcu_px

    def sample(x: int, y: int, c: int) -> int:
        sx = min(x, width - 1)
        sy = min(y, height - 1)
        return pixels[(sy * width + sx) * channels + c]

    if channels == 1:
        planes = [[0.0] * (pw * ph)]
        for y in range(ph):
            for x in range(pw):
                planes[0][y * pw + x] = float(sample(x, y, 0))
        comp_dims = [(pw, ph)]
        samp = [(1, 1)]
    else:
        yp = [0.0] * (pw * ph)
        cbp_full = [0.0] * (pw * ph)
        crp_full = [0.0] * (pw * ph)
        for y in range(ph):
            for x in range(pw):
                yy, cb, cr = _rgb_to_ycbcr(
                    sample(x, y, 0), sample(x, y, 1), sample(x, y, 2)
                )
                i = y * pw + x
                yp[i], cbp_full[i], crp_full[i] = yy, cb, cr
        if subsample:
            cw, chh = pw // 2, ph // 2
            cbp = [0.0] * (cw * chh)
            crp = [0.0] * (cw * chh)
            for y in range(chh):
                for x in range(cw):
                    acc_b = acc_r = 0.0
                    for dy in range(2):
                        for dx in range(2):
                            j = (y * 2 + dy) * pw + (x * 2 + dx)
                            acc_b += cbp_full[j]
                            acc_r += crp_full[j]
                    cbp[y * cw + x] = acc_b / 4.0
                    crp[y * cw + x] = acc_r / 4.0
            planes = [yp, cbp, crp]
            comp_dims = [(pw, ph), (cw, chh), (cw, chh)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [yp, cbp_full, crp_full]
            comp_dims = [(pw, ph), (pw, ph), (pw, ph)]
            samp = [(1, 1), (1, 1), (1, 1)]

    # --- headers ---
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
        + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    )
    for tq, tab in ((0, qt_l),) + (((1, qt_c),) if channels == 3 else ()):
        body = bytes([tq]) + bytes(tab[ZIGZAG[k]] for k in range(64))
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    nf = channels
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([nf])
    for ci in range(nf):
        h, v = samp[ci]
        sof += bytes([ci + 1, (h << 4) | v, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    for tc, th, bits, vals in (
        (0, 0, _DC_BITS, _DC_VALS),
        (1, 0, _AC_BITS, _AC_VALS),
    ) + (
        ((0, 1, _DC_BITS, _DC_VALS), (1, 1, _AC_BITS, _AC_VALS))
        if channels == 3
        else ()
    ):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nf])
    for ci in range(nf):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    # --- entropy-coded data ---
    writer = _BitWriter()
    max_h = max(h for h, _ in samp)
    max_v = max(v for _, v in samp)
    mcux = pw // (8 * max_h)
    mcuy = ph // (8 * max_v)
    preds = [0] * nf
    mcu_idx = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_idx
                and mcu_idx % restart_interval == 0
            ):
                writer.flush()
                out += writer.out
                writer = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * nf
            for ci in range(nf):
                h, v = samp[ci]
                cw = comp_dims[ci][0]
                qt = qt_l if ci == 0 else qt_c
                for by in range(v):
                    for bx in range(h):
                        block = _plane_block(
                            planes[ci], cw, mx * h + bx, my * v + by
                        )
                        preds[ci] = _encode_block(
                            writer, block, qt, dc_codes, ac_codes, preds[ci]
                        )
            mcu_idx += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- WAV -------------------------------------------------------------


def encode_wav(
    samples: list[int],
    sample_rate: int = 16000,
    channels: int = 1,
    sample_width: int = 2,
) -> bytes:
    """Encode integer PCM samples to a WAV payload — the test-fixture
    twin of decode_wav (ground-truth parameters in, real container
    out)."""
    if sample_width not in _FMT:
        raise ValueError(f"unsupported sample width {sample_width}")
    fmt = _FMT[sample_width]
    if sample_width == 1:
        frames = bytes((s + 128) & 0xFF for s in samples)
    else:
        frames = b"".join(struct.pack(fmt, s) for s in samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sample_width)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()
