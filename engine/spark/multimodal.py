"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched hops
(``stage.map_batches``).

``decode_stub=True`` (default) runs a deterministic fake decoder that
parses our synthetic header format. ``decode_stub=False`` is the REAL
arm: PNG decodes via the pure-stdlib codec in engine/kernel/png.py
(zlib inflate + CRC verification + all five scanline filters), JPEG
via the pure-stdlib baseline codec in engine/kernel/jpeg.py (marker
parse, Huffman entropy decode, dequant + IDCT, 4:2:0 upsampling,
restart markers), integer-PCM WAV via engine/kernel/wav.py, and the
resize path resamples actual decoded pixels; video and compressed
audio still raise NotImplementedError where an ffmpeg call would go
on a real cluster. The Spark-side plumbing — schema, partitioning,
UDF signature, batch shape — is identical in both arms and tested
(tests/test_multimodal.py).

Synthetic payload format (deterministic, produced by make_media_table):
    b"IMG1" + width:4 bytes BE + height:4 bytes BE + pixel bytes
    b"AUD1" + sample_rate:4 BE + n_samples:4 BE + pcm bytes
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from engine.spark.stage import map_batches

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame, SparkSession

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, source string, ts timestamp"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "sample_rate int, n_samples int, mean_byte double, frame_count int, ok boolean"
)


def make_media_table(spark: "SparkSession", n: int = 64) -> "DataFrame":
    """Deterministic binary media table (seeded bytes, no codecs)."""

    def gen(batch: "pa.RecordBatch") -> list[dict]:
        import hashlib

        rows = []
        for i in batch.column("id").to_pylist():
            seed = hashlib.blake2b(f"media{i}".encode(), digest_size=8).digest()
            body = (seed * ((i % 97) + 4))[: 64 + (i % 512)]
            if i % 2 == 0:
                w, h = 8 + i % 24, 8 + (i // 2) % 16
                payload = b"IMG1" + struct.pack(">II", w, h) + body
                kind = "image"
            else:
                sr, ns = 16000, 128 + (i % 256)
                payload = b"AUD1" + struct.pack(">II", sr, ns) + body
                kind = "audio"
            rows.append({
                "media_id": i, "kind": kind, "payload": payload,
                "source": f"src{i % 7}", "ts": 1735689600_000_000 + i * 1_000_000,
            })
        return rows

    return map_batches(spark.range(0, n, 1), gen, MEDIA_SCHEMA)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


_JPEG_SIG = b"\xff\xd8\xff"


def _decode_real(payload: bytes, kind: str) -> dict:
    """The REAL decode arm. PNG images decode via the pure-stdlib
    codec (engine/kernel/png.py — zlib inflate, CRC verification, all
    five scanline filters), baseline JPEG via engine/kernel/jpeg.py
    (Huffman entropy decode + dequant + IDCT + chroma upsampling),
    and integer-PCM WAV audio via engine/kernel/wav.py (stdlib
    ``wave`` container parse + struct sample statistics); video and
    compressed audio still require external codecs this container
    lacks and raise honestly."""
    if kind == "image" and payload[:8] == _PNG_SIG:
        from engine.kernel.png import decode_png

        w, h, _channels, _pixels = decode_png(payload)
        return {
            "width": int(w), "height": int(h), "sample_rate": None,
            "n_samples": None, "frame_count": 1, "ok": True,
        }
    if kind == "image" and payload[:3] == _JPEG_SIG:
        from engine.kernel.jpeg import decode_jpeg

        w, h, _channels, _pixels = decode_jpeg(payload)
        return {
            "width": int(w), "height": int(h), "sample_rate": None,
            "n_samples": None, "frame_count": 1, "ok": True,
        }
    if kind == "audio" and payload[:4] == b"RIFF":
        from engine.kernel.wav import decode_wav

        meta = decode_wav(payload)
        return {
            "width": None, "height": None,
            "sample_rate": meta["sample_rate"],
            "n_samples": meta["n_samples"],
            "frame_count": meta["n_samples"] // 64, "ok": True,
        }
    raise NotImplementedError(
        "real decode implemented for PNG, baseline JPEG and "
        "integer-PCM WAV (pure stdlib); video/compressed audio "
        "require ffmpeg not present in this container — wire them "
        "here on a real cluster"
    )


def _decode_fake(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in decoder: parses the synthetic header and
    derives cheap 'features' from the raw bytes."""
    out = {"width": None, "height": None, "sample_rate": None, "n_samples": None,
           "frame_count": None, "ok": False}
    if kind == "image" and payload[:4] == b"IMG1" and len(payload) >= 12:
        w, h = struct.unpack(">II", payload[4:12])
        out.update(width=int(w), height=int(h), frame_count=1, ok=True)
    elif kind == "audio" and payload[:4] == b"AUD1" and len(payload) >= 12:
        sr, ns = struct.unpack(">II", payload[4:12])
        out.update(sample_rate=int(sr), n_samples=int(ns),
                   frame_count=int(ns) // 64, ok=True)
    return out


def extract_media_features(df: "DataFrame", decode_stub: bool = True) -> "DataFrame":
    """Decode/feature-extract over Arrow batches of binary payloads.

    Real path (decode_stub=False) is the exact same plumbing with the
    codec call swapped in; batch shape and output schema are identical.
    """
    decode = _decode_fake if decode_stub else _decode_real

    def run(batch: "pa.RecordBatch") -> list[dict]:
        return [
            {**decode(b, kind), "n_bytes": len(b), "mean_byte": (sum(b) / len(b)) if b else 0.0}
            for kind, b in zip(
                batch.column("kind").to_pylist(), batch.column("payload").to_pylist()
            )
        ]

    return map_batches(
        df.select("media_id", "kind", "payload"), run, FEATURE_SCHEMA,
        keep=("media_id", "kind"),
    )


RESIZE_SCHEMA = (
    "media_id long, width int, height int, out_width int, out_height int, "
    "payload binary, ok boolean"
)


def resize_images(
    df: "DataFrame", out_w: int = 8, out_h: int = 8, decode_stub: bool = True
) -> "DataFrame":
    """Image resize over Arrow batches: nearest-neighbor resampling to
    (out_w, out_h). The resample math (index arithmetic, output
    assembly) is shared by both arms; the PIXEL SOURCE differs:

    - decode_stub=True (default): the stub codec's view of the body
      bytes as a row-major w×h grid (cyclic when the body is shorter),
      emitting a re-headered IMG1 payload;
    - decode_stub=False: REAL decode (PNG via engine/kernel/png.py,
      baseline JPEG via engine/kernel/jpeg.py) → per-channel
      nearest-neighbor over the actual pixel grid → re-encoded PNG
      payload (the resize SINK is always lossless PNG, whatever the
      source codec). Undecodable images raise the honest
      NotImplementedError from _decode_real."""

    def run(batch: "pa.RecordBatch") -> list[dict]:
        recs = []
        for media_id, kind, b in zip(*(c.to_pylist() for c in batch.columns)):
            if kind != "image":
                continue
            if not decode_stub:
                from engine.kernel.png import decode_png, encode_png

                if b[:8] == _PNG_SIG:
                    w, h, ch, pixels = decode_png(b)
                elif b[:3] == _JPEG_SIG:
                    from engine.kernel.jpeg import decode_jpeg

                    w, h, ch, pixels = decode_jpeg(b)
                else:
                    _decode_real(b, kind)  # honest raise
                out_px = bytearray()
                for y in range(out_h):
                    sy = (y * h) // out_h
                    for x in range(out_w):
                        sx = (x * w) // out_w
                        base = (sy * w + sx) * ch
                        out_px += pixels[base : base + ch]
                recs.append(
                    {"media_id": media_id, "width": int(w),
                     "height": int(h), "out_width": out_w,
                     "out_height": out_h,
                     "payload": encode_png(
                         out_w, out_h, bytes(out_px), channels=ch
                     ),
                     "ok": True}
                )
                continue
            ok = b[:4] == b"IMG1" and len(b) >= 12
            if not ok:
                recs.append(
                    {"media_id": media_id, "width": None,
                     "height": None, "out_width": out_w,
                     "out_height": out_h, "payload": b"", "ok": False}
                )
                continue
            w, h = struct.unpack(">II", b[4:12])
            body = b[12:] or b"\x00"
            out = bytearray(b"IMG1" + struct.pack(">II", out_w, out_h))
            for y in range(out_h):
                sy = (y * h) // out_h
                for x in range(out_w):
                    sx = (x * w) // out_w
                    out.append(body[(sy * w + sx) % len(body)])
            recs.append(
                {"media_id": media_id, "width": int(w),
                 "height": int(h), "out_width": out_w,
                 "out_height": out_h, "payload": bytes(out), "ok": True}
            )
        return recs

    return map_batches(df.select("media_id", "kind", "payload"), run, RESIZE_SCHEMA)


def _ahash64(payload: bytes) -> int | None:
    """Perceptual average-hash over REAL decoded pixels: grayscale →
    8×8 nearest-neighbor grid → bit i set iff cell i > grid mean. The
    classic near-duplicate image signature (uniform brightness shifts
    preserve it exactly; small local edits flip few bits — which is
    also what makes it the cross-CODEC dedup key: a PNG and a JPEG
    re-encode of the same picture land within a few bits). None for
    payloads the real codecs can't decode."""
    from engine.kernel.png import decode_png

    try:
        if payload[:8] == _PNG_SIG:
            w, h, ch, px = decode_png(payload)
        elif payload[:3] == _JPEG_SIG:
            from engine.kernel.jpeg import decode_jpeg

            w, h, ch, px = decode_jpeg(payload)
        else:
            return None
    except ValueError:
        return None
    grid = []
    for y in range(8):
        sy = (y * h) // 8
        for x in range(8):
            sx = (x * w) // 8
            base = (sy * w + sx) * ch
            grid.append(sum(px[base : base + ch]) // ch)
    mean = sum(grid) / 64.0
    bits = 0
    for i, v in enumerate(grid):
        if v > mean:
            bits |= 1 << i
    # two's-complement into SIGNED int64: bit 63 set would overflow the
    # Arrow long column; Spark's bitwiseXOR/bit_count operate on the
    # raw 64-bit pattern, so the signed view is lossless
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_hashes(df: "DataFrame") -> "DataFrame":
    """(media_id, ahash) for every decodable PNG image — the map-only
    signature pass image dedup banks on. One Arrow-batched hop; the
    output is 16 bytes/row no matter how large the images are, so
    everything downstream (exact groups, banded near-dup joins) runs
    on a vanishing fraction of the corpus bytes."""

    def run(batch: "pa.RecordBatch") -> list[dict]:
        recs = []
        for media_id, kind, payload in zip(*(c.to_pylist() for c in batch.columns)):
            if kind != "image":
                continue
            h = _ahash64(payload)
            if h is not None:
                recs.append({"media_id": media_id, "ahash": h})
        return recs

    return map_batches(
        df.select("media_id", "kind", "payload"), run, "media_id long, ahash long"
    )


def image_dedup_near(
    df: "DataFrame", max_hamming: int = 3
) -> "DataFrame":
    """Near-duplicate image pairs: banded LSH over the 64-bit ahash —
    the dedup_simhash pattern applied to pixels. Four 16-bit bands: by
    pigeonhole, hashes differing in ≤ 3 bits ALWAYS share an intact
    band (the default is exact recall); ≥ 4 differing bits can split
    one per band and be missed, so a caller raising max_hamming above
    3 accepts probabilistic recall, same trade the text simhash
    documents. Band-equality joins propose candidates and an exact
    popcount(xor) verifies — never an all-pairs comparison. The pairs
    come from _hamming_pairs, the operator dedup_simhash also uses: a
    bucket of more than LSH_MAX_BUCKET_DOCS images (a corpus of
    identical blank images) pairs as a star around its min media_id,
    O(bucket) pairs with the same connected components, exactly like
    simhash's boilerplate case.

    Emits verified pairs (media_id_a < media_id_b, hamming)."""
    from engine.spark.analytics import _hamming_pairs

    hashes = image_hashes(df).select(F.col("media_id").alias("doc_id"), "ahash")
    return _hamming_pairs(hashes, "ahash", 16, 4, max_hamming).select(
        F.col("doc_a").alias("media_id_a"),
        F.col("doc_b").alias("media_id_b"),
        "hamming",
    )


def frame_sample(df: "DataFrame", every_n: int = 32) -> "DataFrame":
    """Frame-sampling plumbing: explode fixed-stride byte offsets per
    media row (native sequence/explode — the real variant would slice
    decoded frames at these offsets in the same shape)."""
    return df.select(
        "media_id",
        "kind",
        "payload",
        F.length("payload").alias("n_bytes"),
        F.explode(
            F.sequence(F.lit(0), F.length("payload") - 1, F.lit(every_n))
        ).alias("offset"),
    ).select(
        "media_id",
        "kind",
        "n_bytes",
        "offset",
        # byte at offset, natively: 1-byte binary slice → hex → int
        F.conv(F.hex(F.expr("substring(payload, offset + 1, 1)")), 16, 10)
        .cast("int")
        .alias("sample_byte"),
    )
