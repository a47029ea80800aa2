"""Pure-stdlib baseline JPEG codec (ITU T.81 / JFIF): the real decode
path for JPEG payloads in a container with no image libraries — the
format is DCT blocks + Huffman entropy coding + marker framing, all
expressible with stdlib math/struct.

Decoder scope (honest): baseline sequential DCT (SOF0), 8-bit
precision, grayscale or 3-component YCbCr with arbitrary sampling
factors (4:4:4 and 4:2:0 tested), Huffman tables read from DHT (any
standard-compliant tables, so libjpeg output decodes too), 0xFF00 byte
stuffing, DRI/RSTn restart markers. Progressive (SOF2), arithmetic
coding (SOF9+), 12-bit precision and hierarchical modes raise
ValueError naming the feature — the same honesty contract as
engine/kernel/png.py. Samples round to nearest, as libjpeg does.
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


# --- bit I/O ---------------------------------------------------------


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


# --- decoder ---------------------------------------------------------


def _clamp(v: float) -> int:
    return 0 if v < 0 else 255 if v > 255 else int(v + 0.5)


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
