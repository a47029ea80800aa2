"""Pure-stdlib baseline JPEG codec (ITU T.81 / JFIF): the real decode
path for JPEG payloads in a container with no image libraries — the
format is DCT blocks + Huffman entropy coding + marker framing, all
expressible with stdlib math/struct.

Decoder scope (honest): baseline sequential DCT (SOF0), 8-bit
precision, grayscale or 3-component YCbCr with arbitrary sampling
factors (4:4:4 and 4:2:0 tested), Huffman tables read from DHT (any
standard-compliant tables, not just ours), 0xFF00 byte stuffing,
DRI/RSTn restart markers. Progressive (SOF2), arithmetic coding
(SOF9+), 12-bit precision and hierarchical modes raise ValueError
naming the feature — the same honesty contract as engine/kernel/png.py.

The encoder exists to make REAL test fixtures: Annex-K quantization
tables scaled by libjpeg's quality formula, FDCT, run-length + Huffman
entropy coding, optional 4:2:0 chroma subsampling (box-average down,
replication up in the decoder) and optional restart intervals. Its
Huffman tables are FLAT canonical tables (all 16 DC categories at one
code length, every valid-and-then-some (run,size) AC symbol at one
code length) rather than the Annex-K frequency-tuned ones: provably
complete (no encodable coefficient can lack a code), prefix-free,
embedded in DHT like any table — just not size-optimal, which fixtures
don't need. The decoder reads whatever DHT declares, so it decodes
libjpeg output too.
"""

from __future__ import annotations

import math
import struct

from engine.kernel.png import check_frame_size

# --- constant tables -------------------------------------------------

# zigzag scan order, generated (not transcribed): diagonal s = r+c,
# even diagonals traversed by ascending column, odd by ascending row
ZIGZAG = sorted(
    range(64),
    key=lambda i: (
        (i // 8 + i % 8),
        (i % 8) if (i // 8 + i % 8) % 2 == 0 else (i // 8),
    ),
)

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

# 8x8 DCT-II basis matrix M[u][x] = c(u)/2 * cos((2x+1)u*pi/16);
# FDCT(B) = M B Mt, IDCT(F) = Mt F M
_DCT_M = [
    [
        (math.sqrt(0.125) if u == 0 else 0.5)
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
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


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol for the bit-serial decoder."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
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


def _idct(coef: list[float]) -> list[float]:
    tmp = [0.0] * 64
    for y in range(8):
        for v in range(8):
            s = 0.0
            for u in range(8):
                s += _DCT_M[u][y] * coef[u * 8 + v]
            tmp[y * 8 + v] = s
    out = [0.0] * 64
    for y in range(8):
        ty = tmp[y * 8 : y * 8 + 8]
        for x in range(8):
            s = 0.0
            for v in range(8):
                s += ty[v] * _DCT_M[v][x]
            out[y * 8 + x] = s
    return out


def _category(v: int) -> int:
    """DC/AC magnitude category: bit length of |v| (0 for 0)."""
    return abs(v).bit_length()


# --- bit I/O ---------------------------------------------------------


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


class _BitReader:
    """Bit-serial reader over the entropy-coded segment: 0xFF00
    unstuffing, honest errors on unexpected markers/truncation,
    byte-aligned restart-marker consumption."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.cur: int | None = None
        self.bit = 0

    def _advance(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy-coded segment")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated entropy-coded segment")
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:
                raise ValueError(
                    f"unexpected marker 0xff{nxt:02x} inside entropy data"
                )
            self.pos += 2
            return 0xFF
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.cur is None:
            self.cur = self._advance()
            self.bit = 0
        v = (self.cur >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.cur = None
        return v

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self, idx: int) -> None:
        """Byte-align and consume RST(idx % 8)."""
        self.cur = None
        self.bit = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated before restart marker")
        b0, b1 = self.data[self.pos], self.data[self.pos + 1]
        if b0 != 0xFF or b1 != 0xD0 + (idx % 8):
            raise ValueError(
                f"expected RST{idx % 8}, found 0x{b0:02x}{b1:02x}"
            )
        self.pos += 2


def _decode_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code (no symbol within 16 bits)")


def _extend(bits: int, size: int) -> int:
    """T.81 receive/extend: map `size` raw bits to a signed value."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# --- encoder ---------------------------------------------------------


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


# --- decoder ---------------------------------------------------------


def _clamp(v: float) -> int:
    return 0 if v < 0 else 255 if v > 255 else int(v)


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode baseline JPEG to ``(width, height, channels, pixels)``
    with pixels as row-major 8-bit bytes (grayscale or RGB).
    Unsupported modes raise ValueError naming the feature."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict[tuple[int, int], int]] = {}
    ac_tabs: dict[int, dict[tuple[int, int], int]] = {}
    frame = None  # (width, height, [(id, h, v, tq)])
    restart_interval = 0

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1] if pos + 1 < len(data) else None
        if marker is None:
            raise ValueError("truncated marker")
        pos += 2
        if marker == 0xD8:
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn carry no length; before SOS they mean a corrupt stream
            raise ValueError(f"unexpected standalone marker 0xff{marker:02x}")
        if marker in (0xC2,):
            raise ValueError("progressive JPEG (SOF2) not supported")
        if marker in (0xC1, 0xC3) or 0xC5 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"unsupported SOF marker 0xff{marker:02x} "
                "(only baseline SOF0)"
            )
        if pos + 2 > len(data):
            raise ValueError("truncated marker segment")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated marker segment body")
        pos += seglen

        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                zz = list(body[p : p + 64])
                if len(zz) != 64:
                    raise ValueError("truncated DQT")
                tab = [0] * 64
                for k in range(64):
                    tab[ZIGZAG[k]] = zz[k]
                qtabs[tq] = tab
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("truncated DHT")
                (dc_tabs if tc == 0 else ac_tabs)[th] = _decode_table(
                    bits, vals
                )
                p += 17 + n
        elif marker == 0xC0:  # SOF0
            if len(body) < 6:
                raise ValueError("truncated SOF0 body")
            precision = body[0]
            if precision != 8:
                raise ValueError(f"unsupported sample precision {precision}")
            h_, w_ = struct.unpack(">HH", body[1:5])
            check_frame_size(w_, h_)
            nf = body[5]
            if nf not in (1, 3):
                raise ValueError(f"unsupported component count {nf}")
            if len(body) < 6 + 3 * nf:
                raise ValueError("truncated SOF0 body")
            comps = []
            for i in range(nf):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0x0F <= 4):
                    raise ValueError(f"invalid sampling factors 0x{hv:02x}")
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * i]))
            frame = (w_, h_, comps)
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated DRI body")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = body[0] if body else 0
            if len(body) < 1 + 2 * ns:
                raise ValueError("truncated SOS body")
            scan = []
            for i in range(ns):
                cs = body[1 + 2 * i]
                tt = body[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0x0F))
            return _decode_scan(
                data, pos, frame, scan, qtabs, dc_tabs, ac_tabs,
                restart_interval,
            )
        # APPn / COM / others: skipped
    raise ValueError("no SOS marker (no image data)")


def _decode_scan(
    data: bytes,
    pos: int,
    frame: tuple[int, int, list[tuple[int, int, int, int]]],
    scan: list[tuple[int, int, int]],
    qtabs: dict[int, list[int]],
    dc_tabs: dict[int, dict[tuple[int, int], int]],
    ac_tabs: dict[int, dict[tuple[int, int], int]],
    restart_interval: int,
) -> tuple[int, int, int, bytes]:
    width, height, comps = frame
    if len(scan) != len(comps):
        raise ValueError("multi-scan images not supported (baseline only)")
    by_id = {cid: (h, v, tq) for cid, h, v, tq in comps}
    max_h = max(h for _, h, _, _ in comps)
    max_v = max(v for _, _, v, _ in comps)
    mcux = (width + 8 * max_h - 1) // (8 * max_h)
    mcuy = (height + 8 * max_v - 1) // (8 * max_v)

    # per-scan-component geometry + tables
    cinfo = []
    for cs, td, ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        h, v, tq = by_id[cs]
        if tq not in qtabs:
            raise ValueError(f"missing quantization table {tq}")
        if td not in dc_tabs or ta not in ac_tabs:
            raise ValueError("missing Huffman table referenced by scan")
        pw, ph = mcux * h * 8, mcuy * v * 8
        cinfo.append(
            {
                "h": h, "v": v, "qt": qtabs[tq],
                "dc": dc_tabs[td], "ac": ac_tabs[ta],
                "pw": pw, "plane": bytearray(pw * ph), "pred": 0,
            }
        )

    reader = _BitReader(data, pos)
    n_restarts = 0
    for mcu in range(mcux * mcuy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.expect_restart(n_restarts)
            n_restarts += 1
            for ci in cinfo:
                ci["pred"] = 0
        my, mx = divmod(mcu, mcux)
        for ci in cinfo:
            for by in range(ci["v"]):
                for bx in range(ci["h"]):
                    _decode_block_into(
                        reader, ci, mx * ci["h"] + bx, my * ci["v"] + by
                    )

    # upsample + color-convert
    out = bytearray()
    if len(cinfo) == 1:
        ci = cinfo[0]
        pw = ci["pw"]
        plane = ci["plane"]
        for y in range(height):
            row = y * pw
            out += plane[row : row + width]
        return width, height, 1, bytes(out)

    for y in range(height):
        for x in range(width):
            vals = []
            for k, ci in enumerate(cinfo):
                sx = x * ci["h"] // max_h
                sy = y * ci["v"] // max_v
                vals.append(ci["plane"][sy * ci["pw"] + sx])
            yy, cb, cr = vals
            out.append(_clamp(yy + 1.402 * (cr - 128)))
            out.append(
                _clamp(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
            )
            out.append(_clamp(yy + 1.772 * (cb - 128)))
    return width, height, 3, bytes(out)


def _decode_block_into(
    reader: _BitReader, ci: dict, bx: int, by: int
) -> None:
    zz = [0] * 64
    size = _decode_huff(reader, ci["dc"])
    diff = _extend(reader.read_bits(size), size)
    ci["pred"] += diff
    zz[0] = ci["pred"]
    k = 1
    while k < 64:
        sym = _decode_huff(reader, ci["ac"])
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, s = sym >> 4, sym & 0x0F
        k += run
        if k > 63:
            raise ValueError("AC run exceeds block (corrupt stream)")
        zz[k] = _extend(reader.read_bits(s), s)
        k += 1
    qt = ci["qt"]
    coef = [0.0] * 64
    for k2 in range(64):
        nat = ZIGZAG[k2]
        coef[nat] = zz[k2] * qt[nat]
    px = _idct(coef)
    pw = ci["pw"]
    plane = ci["plane"]
    base = by * 8 * pw + bx * 8
    for y in range(8):
        row = base + y * pw
        for x in range(8):
            plane[row + x] = _clamp(px[y * 8 + x] + 128.0)
