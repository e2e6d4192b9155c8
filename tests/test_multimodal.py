"""Multimodal binary-column plumbing (decode stubbed, plumbing real)."""

import pytest
from pyspark.sql import functions as F

from autoextraction_spark import corpus
from autoextraction_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    pages = corpus.web_pages(spark, sf_dir)
    return multimodal.media_table(pages).cache()


def test_media_table_kinds(media):
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "video"}
    row = media.filter(F.col("kind") == "video").first()
    assert row.duration_ms is not None and row.duration_ms > 0
    assert isinstance(row.payload, (bytes, bytearray))


def test_image_features_shape(media):
    feats = multimodal.extract_image_features(media)
    rows = feats.limit(5).collect()
    assert rows
    for r in rows:
        assert r.n_channels == 3
        assert len(r.features) == 8
        assert all(0.0 <= f < 1.0 for f in r.features)
    # deterministic across runs
    a = {r.url: r.features for r in feats.collect()}
    b = {r.url: r.features for r in multimodal.extract_image_features(media).collect()}
    assert a == b


def test_real_decoder_non_png_is_stubbed():
    """Non-PNG payloads still hit the PIL swap seam (absent here)."""
    if multimodal.HAVE_PIL:
        pytest.skip("PIL present; stub not applicable")
    with pytest.raises(NotImplementedError):
        multimodal._decode_image_real(b"GIF89a....")


def test_png_roundtrip_all_filters():
    """encode(filter cycle) -> decode reconstructs every pixel for gray,
    RGB and RGBA — exercises all five PNG scanline filters both ways."""
    from autoextraction_spark.operators import png

    for ch in (1, 3, 4):
        w, h = 23, 11
        rows = [
            bytes(((x * ch + c + 7 * y) % 256) for x in range(w) for c in range(ch))
            for y in range(h)
        ]
        data = png.encode_png(rows, w, h, ch)
        w2, h2, ch2, rows2 = png.decode_png(data)
        assert (w2, h2, ch2) == (w, h, ch)
        assert [bytes(r) for r in rows2] == rows


def test_png_decode_rejects_garbage():
    from autoextraction_spark.operators import png

    with pytest.raises(ValueError):
        png.decode_png(b"not a png at all")


def test_real_decode_features_match_pattern(spark):
    """The real decode path (stdlib PNG codec) recovers the synthesized
    pattern exactly: integer channel sums / min / max / corners / distinct
    count computed from pixels equal the closed-form doc_id arithmetic."""
    pages = spark.createDataFrame(
        [(d, f"u{d}") for d in (3, 6, 9, 12)], "doc_id long, url string"
    )
    media = multimodal.png_media_table(pages)
    feats = {
        r.url: r for r in
        multimodal.extract_image_features(media, use_real_decoder=True).collect()
    }
    assert set(feats) == {"u3", "u6", "u9", "u12"}
    for d in (3, 6, 9, 12):
        r = feats[f"u{d}"]
        w, h = (d % 8 + 1) * 8, (d % 5 + 1) * 8
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        vals = [(d * 31 + y + 85 * c) % 256 for y in range(h) for c in range(3)]
        for c in range(3):
            assert r.features[c] == w * sum(
                (d * 31 + y + 85 * c) % 256 for y in range(h)
            )
        assert r.features[3] == min(vals) and r.features[4] == max(vals)
        assert r.features[5] == (d * 31) % 256
        assert r.features[6] == (d * 31 + h - 1 + 170) % 256
        assert r.features[7] == len(set(vals))


def test_frame_sampling(media):
    frames = multimodal.sample_frames(media, every_ms=5000)
    one = frames.groupBy("url").count().first()
    assert one["count"] >= 1
    r = frames.first()
    assert r.frame_ts_ms == r.frame_idx * 5000
    assert len(bytes(r.frame)) == 16


def test_wav_roundtrip():
    from autoextraction_spark.operators import wav

    samples = [0, 100, -100, 32767, -32768, 5]
    for ch in (1, 2):
        data = wav.encode_wav(samples, 16000, n_channels=ch)
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
        c, rate, n, got = wav.decode_wav(data)
        assert (c, rate, n) == (ch, 16000, len(samples) // ch)
        assert got == samples


def test_audio_features_real_decoder(spark):
    pages = spark.createDataFrame(
        [(d, f"u{d}") for d in (2, 6, 10, 14)], "doc_id long, url string"
    )
    media = multimodal.wav_media_table(pages)
    feats = {
        r.url: r for r in
        multimodal.extract_audio_features(media, use_real_decoder=True).collect()
    }
    assert set(feats) == {"u2", "u6", "u10", "u14"}
    for d in (2, 6, 10, 14):
        r = feats[f"u{d}"]
        n = (d % 5 + 1) * 64
        assert (r.n_channels, r.sample_rate, r.n_frames) == (
            1, 8000 + (d % 3) * 4000, n
        )
        v = [((d * 13 + t * t) % 4096) - 2048 for t in range(n)]
        assert r.features[0] == sum(v)
        assert r.features[1] == min(v) and r.features[2] == max(v)
        assert r.features[3] == v[0] and r.features[4] == v[-1]
        assert r.features[5] == len(set(v))
        assert r.features[6] == sum(
            1 for i in range(1, n) if (v[i - 1] < 0) != (v[i] < 0)
        )
        assert r.features[7] == sum(abs(x) for x in v)


def test_audio_fake_path_and_nonwav_seam(spark):
    import pytest as _pytest

    pages = spark.createDataFrame([(2, "u2")], "doc_id long, url string")
    media = multimodal.wav_media_table(pages)
    fake = multimodal.extract_audio_features(media, use_real_decoder=False).first()
    assert len(fake.features) == 8 and all(0 <= f < 1 for f in fake.features)
    with _pytest.raises(NotImplementedError):
        multimodal._decode_audio_real(b"ID3\x04not-a-wav")
