"""Multimodal plumbing tests: binary columns through Arrow batches,
stubbed decode, frame sampling, and the NotImplementedError gate for
the real-codec path."""

import pytest
from pyspark.sql import functions as F

from engine.spark.multimodal import (
    extract_media_features,
    frame_sample,
    make_media_table,
)


@pytest.fixture(scope="module")
def media(spark):
    return make_media_table(spark, n=48).persist()


def test_media_table_shape(media):
    assert media.count() == 48
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio"}
    row = media.filter("media_id = 0").collect()[0]
    assert bytes(row.payload)[:4] == b"IMG1"


def test_feature_extraction_stub(media):
    feats = extract_media_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 48
    assert all(r.ok for r in rows.values())
    img = rows[0]
    assert img.kind == "image" and img.width == 8 and img.height == 8
    aud = rows[1]
    assert aud.kind == "audio" and aud.sample_rate == 16000
    assert aud.frame_count == aud.n_samples // 64
    assert all(0 <= r.mean_byte <= 255 for r in rows.values())


def test_feature_extraction_deterministic(media):
    a = sorted(map(tuple, extract_media_features(media).collect()))
    b = sorted(map(tuple, extract_media_features(media).collect()))
    assert a == b


def test_real_decode_path_gated_for_non_png(spark, media):
    # IMG1/AUD1 synthetic payloads are not PNGs: the real arm must
    # still raise honestly for them (JPEG/audio/video remain stubbed)
    with pytest.raises(Exception, match="NotImplementedError|PNG only"):
        extract_media_features(media, decode_stub=False).collect()


def _png_media(spark, n=12):
    """Media table whose image payloads are REAL PNGs (pure-stdlib
    encoder), deterministic pixels keyed on media_id."""
    import datetime as dt

    from engine.kernel.png import encode_png

    rows = []
    for i in range(n):
        w, h, ch = 4 + i % 5, 3 + i % 4, (1, 3, 4)[i % 3]
        px = bytes(
            (x * 11 + y * 17 + c * 71 + i) & 0xFF
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        )
        rows.append(
            (i, "image", bytearray(encode_png(w, h, px, channels=ch)),
             f"src{i % 3}",
             dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)),
        )
    return spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, source string, "
        "ts timestamp",
    )


def test_real_png_decode_through_spark(spark):
    """decode_stub=False over REAL PNG payloads: the Arrow-batched UDF
    decodes every image and reports its true dimensions."""
    media = _png_media(spark, n=12)
    rows = {
        r.media_id: r
        for r in extract_media_features(media, decode_stub=False).collect()
    }
    assert len(rows) == 12
    for i, r in rows.items():
        assert r.ok and r.kind == "image"
        assert r.width == 4 + i % 5 and r.height == 3 + i % 4
        assert r.frame_count == 1


def test_real_mixed_png_wav_decode_through_spark(spark):
    """decode_stub=False over a MIXED corpus of real PNGs and real
    WAVs: images report true dimensions, audio reports true
    sample-rate/frame counts, in one Arrow-batched pass."""
    import datetime as dt

    from engine.kernel.png import encode_png
    from engine.kernel.wav import encode_wav

    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(6):
        if i % 2 == 0:
            w, h = 5 + i, 4 + i
            px = bytes((x + y + i) & 0xFF for y in range(h) for x in range(w))
            rows.append(
                (i, "image", bytearray(encode_png(w, h, px, channels=1)),
                 "s", ts)
            )
        else:
            n = 64 + 32 * i
            rows.append(
                (i, "audio",
                 bytearray(encode_wav([j % 100 - 50 for j in range(n)],
                                      sample_rate=8000 + 1000 * i)),
                 "s", ts)
            )
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, source string, "
        "ts timestamp",
    )
    got = {
        r.media_id: r
        for r in extract_media_features(media, decode_stub=False).collect()
    }
    assert len(got) == 6 and all(r.ok for r in got.values())
    for i, r in got.items():
        if i % 2 == 0:
            assert (r.width, r.height, r.frame_count) == (5 + i, 4 + i, 1)
            assert r.sample_rate is None
        else:
            n = 64 + 32 * i
            assert r.sample_rate == 8000 + 1000 * i
            assert r.n_samples == n and r.frame_count == n // 64
            assert r.width is None


def test_image_dedup_near_real_pixels(spark):
    """Perceptual image dedup over REAL decoded pixels: an exact copy
    and a uniformly brightened copy hash identically (hamming 0), a
    few-pixel edit lands within the banded-LSH guarantee (hamming ≤ 3
    always recalled), and an unrelated image pairs with nothing."""
    import datetime as dt

    from engine.kernel.png import encode_png
    from engine.spark.multimodal import image_dedup_near, image_hashes

    w, h = 32, 24
    base = bytearray(
        ((x // 4 + y // 3) % 2) * 200 + 20 for y in range(h) for x in range(w)
    )  # checkerboard: strong structure, stable ahash
    bright = bytes(min(255, v + 7) for v in base)  # uniform shift
    edited = bytearray(base)
    for i in range(0, 4):  # flip a couple of cells' worth of pixels
        edited[i * (w * 3) + 5] = 255 - edited[i * (w * 3) + 5]
    unrelated = bytes(
        (x * 37 + y * 91 + (x * y) % 53) & 0xFF
        for y in range(h)
        for x in range(w)
    )
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (i, "image", bytearray(encode_png(w, h, bytes(px), channels=1)),
         "s", ts)
        for i, px in enumerate((base, bytes(base), bright, edited, unrelated))
    ] + [(99, "audio", bytearray(b"AUD1" + b"\x00" * 16), "s", ts)]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, source string, "
        "ts timestamp",
    )
    hs = {r.media_id: r.ahash for r in image_hashes(media).collect()}
    assert set(hs) == {0, 1, 2, 3, 4}  # audio row never hashed
    assert hs[0] == hs[1] == hs[2]  # copy + uniform brightness

    def ham(a, b):  # signed int64 view -> raw 64-bit pattern popcount
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(hs[0], hs[3]) <= 3  # local edit: few bits
    assert ham(hs[0], hs[4]) > 3  # unrelated: far away

    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in image_dedup_near(media).collect()
    }
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0 and pairs[(1, 2)] == 0
    assert (0, 3) in pairs and pairs[(0, 3)] <= 3
    assert not any(4 in p for p in pairs)  # unrelated never pairs


def test_image_dedup_near_planted_hub(spark):
    """70 identical blank images (> LSH_MAX_BUCKET_DOCS) share all four
    band buckets: the guarded join pairs them as a star around the min
    media_id (N-1 pairs, not N(N-1)/2) with the same connected
    components, while a small bucket (two copies of a checkerboard)
    still pairs all-pairs."""
    import datetime as dt

    from engine.kernel.png import encode_png
    from engine.spark.analytics import LSH_MAX_BUCKET_DOCS, dedup_clusters
    from engine.spark.multimodal import image_dedup_near

    w, h, n_hub = 16, 16, 70
    assert n_hub > LSH_MAX_BUCKET_DOCS
    blank = encode_png(w, h, bytes([128]) * (w * h), channels=1)
    checker = encode_png(
        w, h, bytes(((x // 4 + y // 4) % 2) * 200 for y in range(h) for x in range(w)),
        channels=1,
    )
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    hub_ids = list(range(100, 100 + n_hub))
    rows = [(i, "image", bytearray(blank), "s", ts) for i in hub_ids]
    rows += [(i, "image", bytearray(checker), "s", ts) for i in (0, 1)]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, source string, "
        "ts timestamp",
    )
    pairs_df = image_dedup_near(media)
    pairs = {(r.media_id_a, r.media_id_b): r.hamming for r in pairs_df.collect()}
    assert set(pairs) == {(100, m) for m in hub_ids[1:]} | {(0, 1)}
    assert set(pairs.values()) == {0}
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(
            pairs_df.select(
                F.col("media_id_a").alias("doc_a"),
                F.col("media_id_b").alias("doc_b"),
            )
        ).collect()
    }
    assert clusters == {**{i: 100 for i in hub_ids}, 0: 0, 1: 0}


def test_real_png_resize_roundtrip(spark):
    """Real-arm resize: decoded output PNGs must equal an
    independently-computed nearest-neighbor resample of the true
    source pixels, per channel."""
    from engine.kernel.png import decode_png
    from engine.spark.multimodal import resize_images

    media = _png_media(spark, n=9)
    srcs = {
        r.media_id: decode_png(bytes(r.payload)) for r in media.collect()
    }
    out = {
        r.media_id: r
        for r in resize_images(
            media, out_w=3, out_h=2, decode_stub=False
        ).collect()
    }
    assert set(out) == set(srcs)
    for mid, r in out.items():
        w, h, ch, px = srcs[mid]
        assert r.ok and r.width == w and r.height == h
        gw, gh, gch, gpx = decode_png(bytes(r.payload))
        assert (gw, gh, gch) == (3, 2, ch)
        expect = bytearray()
        for y in range(2):
            sy = (y * h) // 2
            for x in range(3):
                sx = (x * w) // 3
                base = (sy * w + sx) * ch
                expect += px[base : base + ch]
        assert gpx == bytes(expect), mid


def test_frame_sample_offsets(media):
    fs = frame_sample(media, every_n=32)
    one = fs.filter("media_id = 0").orderBy("offset").collect()
    assert [r.offset for r in one] == list(range(0, one[0].n_bytes, 32))
    assert all(0 <= r.sample_byte <= 255 for r in one)
    # sampled byte matches the actual payload byte
    payload = bytes(media.filter("media_id = 0").collect()[0].payload)
    for r in one:
        assert r.sample_byte == payload[r.offset]


def test_resize_images_nearest_neighbor(spark):
    """Resize plumbing: output header carries the target dims and the
    bytes equal an independently-computed nearest-neighbor resample of
    the stub codec's pixel view."""
    import struct

    from engine.spark.multimodal import make_media_table, resize_images

    media = make_media_table(spark, n=8)
    payloads = {
        r.media_id: bytes(r.payload)
        for r in media.filter("kind = 'image'").collect()
    }
    out = {r.media_id: r for r in resize_images(media, out_w=4, out_h=3).collect()}
    assert set(out) == set(payloads)
    for mid, r in out.items():
        src = payloads[mid]
        w, h = struct.unpack(">II", src[4:12])
        body = src[12:] or b"\x00"
        expect = bytearray(b"IMG1" + struct.pack(">II", 4, 3))
        for y in range(3):
            sy = (y * h) // 3
            for x in range(4):
                sx = (x * w) // 4
                expect.append(body[(sy * w + sx) % len(body)])
        assert r.ok and r.width == w and r.height == h
        assert bytes(r.payload) == bytes(expect), mid
    # deterministic across invocations
    again = {r.media_id: bytes(r.payload)
             for r in resize_images(media, out_w=4, out_h=3).collect()}
    assert again == {k: bytes(v.payload) for k, v in out.items()}


def _jpeg_media(spark, n=8):
    """Media table whose image payloads are REAL baseline JPEGs
    (pure-stdlib encoder), deterministic smooth pixels per media_id."""
    import datetime as dt

    from engine.kernel.jpeg import encode_jpeg

    rows = []
    for i in range(n):
        w, h = 16 + (i % 3) * 8, 8 + (i % 4) * 8
        px = bytes(
            min(255, (x * 255 // max(1, w - 1) + y * 3 + i * 5) % 256)
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        rows.append(
            (i, "image",
             bytearray(encode_jpeg(w, h, px, channels=3, quality=90,
                                   subsample=(i % 2 == 1))),
             f"src{i % 3}",
             dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)),
        )
    return spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, source string, "
        "ts timestamp",
    )


def test_real_jpeg_decode_through_spark(spark):
    """decode_stub=False over REAL baseline-JPEG payloads (both 4:4:4
    and 4:2:0): the Arrow-batched UDF entropy-decodes every image and
    reports its true dimensions."""
    media = _jpeg_media(spark, n=8)
    rows = {
        r.media_id: r
        for r in extract_media_features(media, decode_stub=False).collect()
    }
    assert len(rows) == 8
    for i, r in rows.items():
        assert r.ok and r.kind == "image"
        assert r.width == 16 + (i % 3) * 8
        assert r.height == 8 + (i % 4) * 8
        assert r.frame_count == 1


def test_real_jpeg_resize_emits_png(spark):
    """Real-arm resize FROM a JPEG source: pixels come from the real
    entropy decode, the sink is lossless PNG, and the output equals an
    independently-computed nearest-neighbor resample of the decoded
    source pixels."""
    from engine.kernel.jpeg import decode_jpeg
    from engine.kernel.png import decode_png
    from engine.spark.multimodal import resize_images

    media = _jpeg_media(spark, n=6)
    srcs = {
        r.media_id: decode_jpeg(bytes(r.payload)) for r in media.collect()
    }
    out = {
        r.media_id: r
        for r in resize_images(
            media, out_w=4, out_h=3, decode_stub=False
        ).collect()
    }
    assert set(out) == set(srcs)
    for mid, r in out.items():
        w, h, ch, px = srcs[mid]
        assert r.ok and r.width == w and r.height == h
        gw, gh, gch, gpx = decode_png(bytes(r.payload))
        assert (gw, gh, gch) == (4, 3, ch)
        expect = bytearray()
        for y in range(3):
            sy = (y * h) // 3
            for x in range(4):
                sx = (x * w) // 4
                base = (sy * w + sx) * ch
                expect += px[base : base + ch]
        assert gpx == bytes(expect), mid


def test_cross_codec_image_dedup(spark):
    """The SAME picture stored once as PNG and once as JPEG must land
    within the perceptual near-dup radius: ahash is computed over
    DECODED pixels, so codec choice only contributes quantization
    noise. This is the property that makes image dedup work on a real
    crawl corpus, where duplicates arrive re-encoded."""
    import datetime as dt

    from engine.kernel.jpeg import encode_jpeg
    from engine.kernel.png import encode_png
    from engine.spark.multimodal import image_dedup_near, image_hashes

    w, h = 32, 24
    base = bytes(
        ((x // 4 + y // 3) % 2) * 200 + 20 for y in range(h) for x in range(w)
    )  # strong checkerboard structure: ahash robust to DCT noise
    unrelated = bytes(
        (x * 37 + y * 91 + (x * y) % 53) & 0xFF
        for y in range(h)
        for x in range(w)
    )
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (0, "image", bytearray(encode_png(w, h, base, channels=1)), "s", ts),
        (1, "image",
         bytearray(encode_jpeg(w, h, base, channels=1, quality=92)), "s", ts),
        (2, "image", bytearray(encode_png(w, h, unrelated, channels=1)),
         "s", ts),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, source string, "
        "ts timestamp",
    )
    hs = {r.media_id: r.ahash for r in image_hashes(media).collect()}
    assert set(hs) == {0, 1, 2}  # the JPEG row hashed for real

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(hs[0], hs[1]) <= 3  # PNG vs JPEG re-encode: near-dup
    assert ham(hs[0], hs[2]) > 3

    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in image_dedup_near(media).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert not any(2 in p for p in pairs)
