"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched hops
(``stage.map_batches``).

``decode_stub=True`` (default) runs a deterministic fake decoder that
parses our synthetic header format. ``decode_stub=False`` is the REAL
arm: PNG decodes via the pure-stdlib codec in engine/kernel/png.py
(zlib inflate + CRC verification + all five scanline filters), JPEG
via the pure-stdlib baseline codec in engine/kernel/jpeg.py (marker
parse, Huffman entropy decode, dequant + IDCT, 4:2:0 upsampling,
restart markers) and integer-PCM WAV via engine/kernel/wav.py; video
and compressed audio still raise NotImplementedError where an ffmpeg
call would go on a real cluster. The Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — is identical in both arms
and tested (tests/test_multimodal.py).

Synthetic payload format (deterministic, produced by make_media_table):
    b"IMG1" + width:4 bytes BE + height:4 bytes BE + pixel bytes
    b"AUD1" + sample_rate:4 BE + n_samples:4 BE + pcm bytes
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

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
