"""Tests for the extras the driver harness declares (SimHash and
shingles, text stats, multimodal plumbing)."""

import numpy as np
import pytest

from indexer_spark.extras import dedup, multimodal, textstats


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dog"),      # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines process completely different content"),  # same tokens as 3
        (5, "unrelated short text"),
        (6, ""),
        (7, "zebra xylophone quantum jazz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_portable(docs_df):
    # identical text -> identical hash, and values are non-negative longs
    sh = {r["doc_id"]: r["simhash"]
          for r in dedup.simhash_portable(docs_df).collect()}
    assert sh[0] == sh[1]
    assert all(v >= 0 for v in sh.values())
    assert sh[0] != sh[3]


def test_char_shingles(spark):
    df = spark.createDataFrame([(0, "abcdef")], "doc_id long, text string")
    out = [r["term"] for r in dedup.char_shingles(df, n=3).collect()]
    assert out == ["abc", "bcd", "cde", "def"]


def test_language_id(spark):
    rows = [
        (0, "the cat sat on the mat and it is happy"),
        (1, "le chat est sur la table et il est très content"),
        (2, "der hund ist nicht glücklich und die katze auch nicht"),
        (3, "el perro y la gata es una historia que pasa por madrid"),
        (4, "这是一个中文句子"),
        (5, ""),
        (6, "de que la"),          # fr/es tie -> first profile (fr) wins
        (7, "9182 7364 !!"),       # nothing scores -> und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"]
           for r in textstats.language_id(df).collect()}
    assert out == {0: "en", 1: "fr", 2: "de", 3: "es", 4: "zh", 5: "und",
                   6: "fr", 7: "und"}


def test_quality_scores(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and keeps running"),
        (1, "a a a a a a a a a a"),
        (2, "!!! ??? ;;; ###"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.quality_scores(df).collect()}
    assert out[0]["quality"] > out[1]["quality"]  # repetition penalized
    assert out[0]["quality"] > out[2]["quality"]  # punctuation penalized
    assert out[1]["rep_ratio"] == pytest.approx(0.1)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "Hello world 3.14 don't"), (1, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in textstats.token_counts(df).collect()}
    assert out[0]["n_ws_tokens"] == 4
    # hello, world, 3, ., 14, don, ', t  -> 8 lexer-class pieces
    assert out[0]["n_lex_tokens"] == 8
    assert out[1]["n_ws_tokens"] == 0


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(0, "same   text here"), (1, "same text  here"), (2, "other text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"]
           for r in textstats.fingerprints_portable(df).collect()}
    assert out[0] == out[1]  # whitespace-normalized equality
    assert out[0] != out[2]


def test_image_codec_roundtrip():
    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (5, 3), (7, 8), (16, 2)]:  # odd widths hit BMP padding
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(
            multimodal.decode_ppm(multimodal.encode_ppm(arr)), arr)
        assert np.array_equal(
            multimodal.decode_ppm(
                multimodal.encode_ppm(arr, ascii_mode=True)), arr)
        assert np.array_equal(
            multimodal.decode_bmp(multimodal.encode_bmp(arr)), arr)
    # netpbm comment + whitespace tolerance
    p = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))
    assert multimodal.decode_ppm(p).shape == (2, 3, 3)
    with pytest.raises(ValueError):
        multimodal.decode_image_bytes(b"\x89PNG....")  # truncated signature


def test_png_codec_roundtrip_all_filters():
    """Compressed PNG via stdlib zlib: every scanline filter type (0-4)
    and every 8-bit color type round-trips bit-exactly."""
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 3), (7, 8), (2, 16)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for ft in range(5):
            enc = multimodal.encode_png(arr, filter_type=ft)
            assert enc[:8] == multimodal._PNG_SIG
            assert np.array_equal(multimodal.decode_png(enc), arr)
    # PNG actually compresses: a flat image deflates far below raw size
    flat = np.full((32, 32, 3), 7, dtype=np.uint8)
    assert len(multimodal.encode_png(flat)) < 32 * 32 * 3 // 4
    # greyscale (ct 0) -> replicated channels; RGBA (ct 6) -> alpha dropped;
    # grey+alpha (ct 4) -> grey replicated
    g = rng.integers(0, 256, (4, 5), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(multimodal.encode_png(g)),
        np.repeat(g[:, :, None], 3, axis=2))
    rgba = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(multimodal.encode_png(rgba, filter_type=4)),
        rgba[:, :, :3])
    ga = rng.integers(0, 256, (3, 4, 2), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(multimodal.encode_png(ga, filter_type=3)),
        np.repeat(ga[:, :, :1], 3, axis=2))


def test_png_codec_rejects_corruption():
    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    enc = bytearray(multimodal.encode_png(arr))
    enc[40] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(enc))
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"BM" + bytes(30))
    # dispatch: decode_image_bytes routes real PNG bytes to decode_png
    good = multimodal.encode_png(np.full((2, 3, 3), 9, np.uint8))
    assert multimodal.decode_image_bytes(good).shape == (2, 3, 3)


def test_image_decoder_real_features(spark):
    """The REAL decode path: PPM/BMP/PNG bytes -> pixels -> features
    inside the Spark pipeline, identical to a driver-side recompute."""
    pdf = multimodal.synth_image_assets(24, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(
        df, decoder=multimodal.image_decoder).collect()
    assert len(feats) == 24
    by_id = {r["asset_id"]: np.array(r["feature"]) for r in feats}
    for i in (0, 1, 2, 3):  # one of each encoding (P6, P3, BMP, PNG)
        arr = multimodal.decode_image_bytes(bytes(pdf["payload"].iloc[i]))
        assert arr.shape == (pdf["height"].iloc[i], pdf["width"].iloc[i], 3)
        assert np.allclose(by_id[i], multimodal.image_features(arr))
        assert np.isfinite(by_id[i]).all()


def test_media_decoder_mixed_kinds(spark):
    """media_decoder is the per-kind dispatch a mixed asset table runs:
    image assets decode for real inside one extract_features pass (the
    same features as image_decoder), while a kind without a codec
    raises strict_decoder's documented error, never a made-up
    feature."""
    imgs = multimodal.synth_image_assets(6, seed=2)
    df = spark.createDataFrame(imgs, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(
        df, decoder=multimodal.media_decoder).collect()
    assert len(feats) == 6
    for r in feats:
        payload = bytes(imgs["payload"].iloc[r["asset_id"]])
        assert np.allclose(r["feature"],
                           multimodal.image_decoder(payload, "image"))
    for kind in ("audio", "video"):
        with pytest.raises(NotImplementedError):
            multimodal.media_decoder(b"RIFF" + b"\x00" * 64, kind)


def test_multimodal_features(spark):
    pdf = multimodal.synth_assets(30, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(df).collect()
    assert len(feats) == 30
    by_id = {r["asset_id"]: r for r in feats}
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0
    # deterministic: same payload -> same feature
    again = {r["asset_id"]: r["feature"]
             for r in multimodal.extract_features(df).collect()}
    assert all(again[i] == by_id[i]["feature"] for i in by_id)


def test_multimodal_strict_decoder_raises(spark):
    pdf = multimodal.synth_assets(3, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        multimodal.extract_features(df, decoder=multimodal.strict_decoder).collect()


def _has(mod):
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


def test_optional_decoder_guards_absent():
    """Without Pillow installed, the optional image decode returns None
    (clean fall-through to strict_decoder, never a crash) and
    media_decoder raises the documented error for a payload the
    built-in codecs cannot read. In an environment WITH Pillow, the
    skip-marked parity test below takes over."""
    png_magic = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    if not _has("PIL"):
        assert multimodal._optional_image_decode(png_magic) is None
        with pytest.raises(NotImplementedError):
            multimodal.media_decoder(png_magic, "image")


@pytest.mark.skipif(not _has("PIL"), reason="Pillow not installed")
def test_optional_image_codec_parity():
    """PNG (lossless) re-encode of the same pixels must produce
    BIT-IDENTICAL features to the pure-numpy PPM path — the optional
    codec is a decode plug, not a different feature pipeline."""
    import io

    from PIL import Image

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    want = multimodal.image_features(arr)
    got = multimodal.media_decoder(buf.getvalue(), "image")
    np.testing.assert_array_equal(got, want)
    # strict_decoder unreachable for decodable payloads when PIL exists
    jpg = io.BytesIO()
    Image.fromarray(arr).save(jpg, format="JPEG")
    assert multimodal.media_decoder(jpg.getvalue(), "image").shape == (
        multimodal.FEATURE_DIM,
    )


