"""Text analytics + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from scrapy_playwright_scrapegraphai_spark.functions import text as T
from scrapy_playwright_scrapegraphai_spark.operators import multimodal as M

SF = "/root/testdata/sf0.001"


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World! 123"), (2, "  a  b  "), (3, "")],
        "doc_id long, text string",
    )
    feats = T.quality_features_expr(F.col("text"))
    rows = {r["doc_id"]: r for r in df.select("doc_id", *[
        v.alias(k) for k, v in feats.items()
    ]).collect()}
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["n_chars"] == 17
    assert rows[1]["punct_per_mille"] == int(1000 * 2 / 17)
    assert rows[1]["digit_per_mille"] == int(1000 * 3 / 17)
    assert rows[2]["n_tokens"] == 2
    assert rows[3]["n_chars"] == 0 and rows[3]["punct_per_mille"] == 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat with it"),
            (2, "il gatto di casa che dorme per ore"),
            (3, "der hund und die katze ist mit uns"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", T.lang_id_expr(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "it", 3: "de", 4: "und"}


def test_winnowing_null_text(spark):
    """NULL text → no fingerprints (0/0/NULL/NULL), matching what any
    relational recomputation yields — not the single-empty-kgram row the
    unguarded exprs used to emit."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f g")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in T.winnowing(df, "text", k=3, w=4).collect()}
    assert rows[1]["n_kgrams"] == 0
    assert rows[1]["n_fingerprints"] == 0
    assert rows[1]["fp_min"] is None and rows[1]["fp_max"] is None
    assert rows[2]["n_kgrams"] == 5 and rows[2]["n_fingerprints"] >= 1
    assert rows[2]["fp_min"] is not None


def test_winnowing_plan_tokenizes_and_hashes_once(spark):
    """The text_winnowing plan computes the token split and the k-gram md5
    once per document: staged projections, not expressions captured in
    lambda bodies, which Spark would re-evaluate per element (O(n²) per
    document: 28 splits and 56 md5 calls in the unstaged plan)."""
    from scrapy_playwright_scrapegraphai_spark import entry_queries as EQ

    plan = (
        EQ.q_text_winnowing(spark, SF)._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    assert plan.count("md5(") == 1, plan
    assert plan.count("split(") == 1, plan


def test_fingerprints(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    rows = df.select(
        "doc_id", "text",
        T.fingerprint_md5_expr(F.col("text")).alias("md5"),
    ).collect()
    import hashlib

    for r in rows:
        assert r["md5"] == hashlib.md5(r["text"].encode()).hexdigest()


def test_multimodal_feature_plumbing(spark):
    import numpy as np

    media = spark.createDataFrame(
        [
            (1, "image", "image/fake", b"\x00\x10\x20\xff" * 100, 10, 10, 0),
            (2, "audio", "audio/fake", b"\x01\x02" * 50, 0, 0, 2000),
            (3, "video", "video/fake", b"", 0, 0, 3500),
        ],
        M.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in M.extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 400
    assert len(feats[1]["features"]) == 16
    want = M.fake_feature_extractor(b"\x00\x10\x20\xff" * 100)
    assert np.allclose(feats[1]["features"], want)
    assert feats[3]["n_bytes"] == 0 and sum(feats[3]["features"]) == 0.0


def _encode_bmp(img) -> bytes:
    """Minimal bottom-up 24-bit BMP encoder (test fixture only)."""
    import struct

    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    pixel_bytes = bytearray()
    for row in range(h - 1, -1, -1):
        line = img[row][:, ::-1].tobytes()  # RGB → BGR
        pixel_bytes += line + b"\x00" * (stride - len(line))
    data_offset = 14 + 40
    size = data_offset + len(pixel_bytes)
    return (
        b"BM" + struct.pack("<IHHI", size, 0, 0, data_offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                      len(pixel_bytes), 2835, 2835, 0, 0)
        + bytes(pixel_bytes)
    )


def _encode_wav(rate, samples) -> bytes:
    """Minimal 16-bit mono PCM WAV encoder (test fixture only)."""
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_multimodal_real_bmp_wav_decode(spark):
    """The decode slot decodes codec-free formats FOR REAL: a generated
    BMP and WAV round-trip through extract_features(use_stub_decoder=True)
    inside mapInPandas and yield features derived from the decoded
    pixels/samples (not the raw bytes)."""
    import numpy as np

    img = np.zeros((4, 5, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # solid-ish red with a gradient row
    img[0, :, 1] = np.arange(5) * 50
    bmp = _encode_bmp(img)
    samples = (np.sin(np.arange(800) / 10.0) * 1000).astype(np.int16)
    wav = _encode_wav(8000, samples)

    # pure-Python halves round-trip exactly
    dec_img = M.decode_bmp(bmp)
    assert np.array_equal(dec_img, img)
    rate, dec_s = M.decode_wav(wav)
    assert rate == 8000 and np.array_equal(dec_s, samples)

    media = spark.createDataFrame(
        [(1, "image", "image/bmp", bmp, 5, 4, 0),
         (2, "audio", "audio/wav", wav, 0, 0, 100)],
        M.MEDIA_SCHEMA,
    )
    feats = {
        r["media_id"]: r
        for r in M.extract_features(media, use_stub_decoder=True).collect()
    }
    f1 = np.array(feats[1]["features"])
    assert (f1[0], f1[1]) == (5.0, 4.0)  # width, height from DECODED image
    flat = img.reshape(-1, 3).astype(np.float64)
    assert np.allclose(f1[2:5], flat.mean(axis=0), atol=1e-4)
    f2 = np.array(feats[2]["features"])
    assert f2[0] == 8000.0 and f2[1] == 800.0
    assert np.isclose(f2[3], samples.astype(np.float64).std(), rtol=1e-5)


def test_multimodal_decode_stub_raises(spark):
    media = spark.createDataFrame(
        [(1, "image", "image/png", b"xx", 1, 1, 0)], M.MEDIA_SCHEMA
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        M.extract_features(media, use_stub_decoder=True).collect()
    assert "NotImplementedError" in str(exc.value) or "codec libraries" in str(exc.value)


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(3, "video", "video/fake", b"", 0, 0, 3500),
         (4, "image", "image/fake", b"", 1, 1, 0)],
        M.MEDIA_SCHEMA,
    )
    plan = M.frame_sample_plan(media, every_ms=1000).collect()
    assert sorted((r["media_id"], r["ts_ms"]) for r in plan) == [
        (3, 0), (3, 1000), (3, 2000), (3, 3000)
    ]
