"""Multimodal plumbing tests: binary columns through Arrow batches,
stubbed decode, real PNG/JPEG/WAV decode, and the NotImplementedError
gate for the real-codec path."""

import pytest

from engine.spark.multimodal import extract_media_features, make_media_table


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

    from codec_fixtures import encode_png

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

    from codec_fixtures import encode_png, encode_wav

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


def _jpeg_media(spark, n=8):
    """Media table whose image payloads are REAL baseline JPEGs
    (pure-stdlib encoder), deterministic smooth pixels per media_id."""
    import datetime as dt

    from codec_fixtures import encode_jpeg

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
