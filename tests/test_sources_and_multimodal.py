import json

import pytest
from pyspark.sql import functions as F

from aquacache_spark.sources import registry


def test_dispatch_parquet(spark, tmp_path):
    p = str(tmp_path / "src.parquet")
    spark.range(5).select(
        F.timestamp_seconds(F.col("id") * 3600).alias("dt"),
        (F.col("id") * 1.5).alias("v"),
    ).write.parquet(p)
    df = registry.dispatch(
        spark, "read_parquet",
        json.dumps({"path": p, "dt_col": "dt", "value_col": "v"}),
    )
    assert df.columns == ["datetime", "value"]
    assert df.count() == 5


def test_dispatch_unknown_source(spark):
    with pytest.raises(KeyError, match="unknown source_fx"):
        registry.dispatch(spark, "nope", "{}")


def test_http_stub_raises(spark):
    # downloadAquarius's payload normalization is real (sources/aquarius.py)
    # but the fetch is injectable-only: without a payload_path it must
    # raise NotImplementedError (no network in this environment).
    with pytest.raises(NotImplementedError, match="Aquarius fetch"):
        registry.get_source("downloadAquarius")(
            spark, "09AB001", "Stage.Preliminary",
            "2024-01-01 00:00:00", "2024-01-02 00:00:00",
        )


def test_contract_validation_drops_nulls(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0), ("2024-01-01 01:00:00", None)],
        ["datetime", "value"],
    )
    out = registry.validate_contract(df)
    assert out.count() == 1


def test_multimodal_feature_plumbing(spark):
    from aquacache_spark.operators.multimodal import extract_media_features

    df = spark.createDataFrame(
        [(1, bytearray(b"hello world")), (2, bytearray(b""))],
        ["media_id", "content"],
    )
    out = extract_media_features(df).orderBy("media_id").collect()
    assert out[0]["n_bytes"] == 11
    assert len(out[0]["sha256"]) == 64
    assert len(out[0]["feature"]) == 8
    assert out[1]["n_bytes"] == 0


class TestBmpCodec:
    def test_roundtrip_identity(self, spark):
        import numpy as np

        from aquacache_spark.operators.multimodal import (
            decode_bmp, encode_bmp,
        )

        rng = np.random.default_rng(42)
        for h, w in [(1, 1), (3, 5), (8, 8), (7, 3)]:  # odd widths -> padding
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            back = decode_bmp(encode_bmp(px))
            assert back.shape == (h, w, 3)
            assert (back == px).all(), (h, w)

    def test_corrupt_inputs_flagged_not_fatal(self, spark):
        import numpy as np

        from aquacache_spark.operators.multimodal import (
            encode_bmp, extract_bmp_features,
        )

        good = encode_bmp(np.full((2, 2, 3), 9, dtype=np.uint8))
        rows = [(1, good), (2, b"not a bmp"), (3, good[:20]), (4, None)]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        out = {r["media_id"]: r for r in extract_bmp_features(df).collect()}
        assert out[1]["decoded"] and out[1]["mean_r"] == 9.0
        assert not out[2]["decoded"] and out[2]["width"] is None
        assert not out[3]["decoded"]
        assert not out[4]["decoded"]


def test_png_roundtrip_all_filters():
    import numpy as np

    from aquacache_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (11, 9, 3), dtype=np.uint8)
    for filters in [None, [0], [1], [2], [3], [4], [4, 3, 2, 1, 0]]:
        assert (decode_png(encode_png(px, filters=filters)) == px).all()


def test_png_corrupt_inputs_raise_and_quarantine(spark):
    import numpy as np
    import pytest

    from aquacache_spark.operators.multimodal import (decode_png,
                                                      encode_png,
                                                      extract_png_features)

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_png(px)
    bad_crc = bytearray(good)
    bad_crc[30] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad_crc))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a" + good)
    # distributed path: bad rows quarantine, good rows decode
    df = spark.createDataFrame(
        [(1, good), (2, bytes(bad_crc)), (3, b"junk")],
        "media_id bigint, content binary")
    rows = {r["media_id"]: r for r in extract_png_features(df).collect()}
    assert rows[1]["decoded"] and rows[1]["width"] == 4
    assert not rows[2]["decoded"] and rows[2]["width"] is None
    assert not rows[3]["decoded"]


def test_png_gray_palette_rgba_variants():
    import struct
    import zlib

    import numpy as np

    from aquacache_spark.operators.multimodal import decode_png

    def chunk(t, d):
        body = t + d
        return struct.pack(">I", len(d)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF)

    sig = b"\x89PNG\r\n\x1a\n"
    gray = np.arange(16, dtype=np.uint8).reshape(4, 4)
    raw = b"".join(b"\x00" + gray[r].tobytes() for r in range(4))
    g = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
         + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert (decode_png(g)[:, :, 0] == gray).all()
    plte = np.array([[250, 1, 2], [3, 250, 4]], dtype=np.uint8)
    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(2))
    p = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
         + chunk(b"PLTE", plte.tobytes())
         + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert (decode_png(p) == plte[idx]).all()
    rgba = np.arange(36, dtype=np.uint8).reshape(3, 3, 4)
    raw = b"".join(b"\x00" + rgba[r].tobytes() for r in range(3))
    q = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 6, 0, 0, 0))
         + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert (decode_png(q) == rgba[:, :, :3]).all()


def test_wav_roundtrip_and_variants():
    import struct

    import numpy as np
    import pytest

    from aquacache_spark.operators.multimodal import decode_wav, encode_wav

    s = np.array([0, 1000, -1000, 32767, -32768, 5], dtype=np.int16)
    sr, ch, frames = decode_wav(encode_wav(s, 44100))
    assert (sr, ch) == (44100, 1)
    assert (frames[:, 0] == s).all()
    # 8-bit unsigned widens to signed 16
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 3) + bytes([128, 255, 0]))
    blob = b"RIFF" + struct.pack("<I", len(body) + 1) + body + b"\x00"
    sr, ch, frames = decode_wav(blob)
    assert frames[:, 0].tolist() == [0, 127 * 256, -128 * 256]
    # stereo
    st = np.array([[100, -100], [200, -200]], dtype="<i2").reshape(-1)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 8) + st.tobytes())
    sr, ch, frames = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert ch == 2 and frames.shape == (2, 2)
    # non-PCM and junk raise
    with pytest.raises(ValueError, match="unsupported WAV"):
        fmt3 = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float
        b3 = (b"WAVEfmt " + struct.pack("<I", len(fmt3)) + fmt3
              + b"data" + struct.pack("<I", 0))
        decode_wav(b"RIFF" + struct.pack("<I", len(b3)) + b3)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS junk")


def test_wav_features_quarantine(spark):
    import numpy as np

    from aquacache_spark.operators.multimodal import (encode_wav,
                                                      extract_wav_features)

    good = encode_wav(np.array([1000, -1000] * 8, dtype=np.int16), 8000)
    df = spark.createDataFrame(
        [(1, good), (2, b"not audio")], "media_id bigint, content binary")
    rows = {r["media_id"]: r for r in extract_wav_features(df).collect()}
    assert rows[1]["decoded"] and rows[1]["n_frames"] == 16
    assert rows[1]["zero_crossings"] == 15 and rows[1]["peak"] == 1000
    assert not rows[2]["decoded"] and rows[2]["rms"] is None


def test_jpeg_roundtrip_and_modes():
    import numpy as np
    import pytest

    from aquacache_spark.functions.jpeg import decode_jpeg, encode_jpeg

    # block-constant gray at q100: bit-exact through the whole codec
    img = np.zeros((16, 24), dtype=np.uint8)
    for b in range(6):
        bj, bi = divmod(b, 3)
        img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = 30 + 35 * b
    assert (decode_jpeg(encode_jpeg(img, 100))[:, :, 0] == img).all()
    # restart markers reset predictors correctly
    for ri in (1, 3):
        out = decode_jpeg(encode_jpeg(img, 100, restart_interval=ri))
        assert (out[:, :, 0] == img).all(), ri
    # 4:2:0 MCU-constant color at q100: only color-convert rounding
    cimg = np.zeros((32, 48, 3), dtype=np.uint8)
    rng = np.random.default_rng(5)
    for bj in range(2):
        for bi in range(3):
            cimg[bj * 16:(bj + 1) * 16, bi * 16:(bi + 1) * 16] = \
                rng.integers(20, 230, 3)
    out = decode_jpeg(encode_jpeg(cimg, 100, subsampling="420"))
    assert np.abs(out.astype(int) - cimg.astype(int)).max() <= 2
    # smooth content, odd dimensions, q90 stays close
    x = np.linspace(0, 1, 45)
    simg = (np.stack([np.outer(np.linspace(0, 1, 37), x)] * 3, axis=-1)
            * 200 + 20).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(simg, 90, subsampling="420"))
    assert out.shape == simg.shape
    err = out.astype(float) - simg.astype(float)
    assert float(np.sqrt((err ** 2).mean())) < 2.0
    # genuinely unsupported modes and junk inputs fail loudly
    arith = bytearray(encode_jpeg(img, 90))
    sof = bytes(arith).find(b"\xff\xc0")
    arith[sof + 1] = 0xC9  # arithmetic-coded sequential
    with pytest.raises(ValueError, match="unsupported JPEG mode"):
        decode_jpeg(bytes(arith))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"GIF89a...")


def test_jpeg_progressive_roundtrip():
    import numpy as np

    from aquacache_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(7)
    # progressive re-orders the SAME quantized coefficients, so its
    # decode must be bit-identical to the baseline stream's decode —
    # across gray/color, 444/420, odd sizes, and noisy content (which
    # exercises ZRL-with-correction-bits and long EOB runs).
    cases = [((16, 16), "444", 100), ((37, 45, 3), "444", 90),
             ((37, 45, 3), "420", 85), ((8, 8), "444", 50),
             ((64, 48, 3), "420", 95), ((23, 19, 3), "444", 100)]
    for shape, sub, q in cases:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img, q, subsampling=sub))
        blob = encode_jpeg_progressive(img, q, subsampling=sub)
        assert (decode_jpeg(blob) == base).all(), (shape, sub, q)
    # smooth gradients (sparse high-frequency bands -> EOB-run heavy)
    x = np.linspace(0, 1, 45)
    simg = (np.stack([np.outer(np.linspace(0, 1, 37), x)] * 3, axis=-1)
            * 200 + 20).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(simg, 75, subsampling="420"))
    assert (decode_jpeg(
        encode_jpeg_progressive(simg, 75, subsampling="420")) == base).all()
    # q100 block-constant grayscale: progressive decode is bit-exact
    # vs the ORIGINAL pixels (the oracle regime)
    img = np.zeros((16, 16), dtype=np.uint8)
    for b in range(4):
        bj, bi = divmod(b, 2)
        img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = (b * 37 + 28)
    assert (decode_jpeg(encode_jpeg_progressive(img, 100))[:, :, 0]
            == img).all()
    # truncated progressive stream fails loudly (never garbage pixels)
    blob = encode_jpeg_progressive(
        rng.integers(0, 256, (24, 24, 3)).astype(np.uint8), 90)
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg(blob[:len(blob) * 2 // 3])


def test_jpeg_features_quarantine(spark):
    import numpy as np

    from aquacache_spark.operators.multimodal import (
        extract_jpeg_features, synthesize_jpegs)
    from aquacache_spark.functions.jpeg import encode_jpeg

    good = encode_jpeg(
        np.full((8, 8), 77, dtype=np.uint8), quality=100)
    df = spark.createDataFrame(
        [(1, good), (2, b"\xff\xd8 truncated")],
        "media_id bigint, content binary")
    rows = {r["media_id"]: r for r in extract_jpeg_features(df).collect()}
    assert rows[1]["decoded"] and rows[1]["mean_r"] == 77.0
    assert not rows[2]["decoded"]
    # synthesized fixture pipeline end-to-end
    ids = spark.createDataFrame([(3,), (4,)], "media_id bigint")
    out = {r["media_id"]: r
           for r in extract_jpeg_features(synthesize_jpegs(ids)).collect()}
    for i in (3, 4):
        exp = sum((i * 7 + b * 37) % 200 + 28 for b in range(4)) / 4.0
        assert out[i]["decoded"] and out[i]["width"] == 16
        assert out[i]["mean_g"] == exp


def test_avi_container_roundtrip_and_quarantine(spark):
    import numpy as np
    import pytest

    from aquacache_spark.functions.avi import decode_avi, encode_avi
    from aquacache_spark.functions.jpeg import encode_jpeg
    from aquacache_spark.operators.multimodal import extract_video_features

    frames = [encode_jpeg(np.full((8, 8), 50 + 10 * f, dtype=np.uint8),
                          quality=100) for f in range(5)]
    blob = encode_avi(frames, 8, 8, fps=25)
    v = decode_avi(blob)
    assert (v["width"], v["height"], v["fps"], v["n_frames"]) == (8, 8, 25, 5)
    assert v["frames"] == frames  # payloads survive the container
    # odd-length frame payloads stay word-aligned
    odd = encode_avi([b"\xff\xd8x"], 2, 2)
    assert decode_avi(odd)["frames"] == [b"\xff\xd8x"]
    with pytest.raises(ValueError, match="RIFF"):
        decode_avi(b"not a riff file....")
    # non-MJPG codec rejected loudly
    h264 = bytearray(blob)
    h264[h264.find(b"vidsMJPG") + 4:h264.find(b"vidsMJPG") + 8] = b"H264"
    h264[h264.find(b"MJPG"):h264.find(b"MJPG") + 4] = b"H264"
    with pytest.raises(ValueError, match="codec"):
        decode_avi(bytes(h264))
    # distributed path: sampling decodes frames 0,2,4 only
    df = spark.createDataFrame([(1, blob), (2, b"junk")],
                               "media_id bigint, content binary")
    rows = {r["media_id"]: r
            for r in extract_video_features(df, sample_every=2).collect()}
    assert rows[1]["decoded"] and rows[1]["n_sampled"] == 3
    assert rows[1]["mean_luma"] == (50 + 70 + 90) / 3.0
    assert not rows[2]["decoded"]


def test_resize_image_blob_exact_and_guards():
    import numpy as np
    import pytest

    from aquacache_spark.operators.multimodal import (decode_bmp,
                                                      encode_bmp,
                                                      resize_image_blob)

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (12, 20, 3)).astype(np.uint8)
    out = decode_bmp(resize_image_blob(encode_bmp(px), 3, 5))
    assert out.shape == (3, 5, 3)
    # exact contract: each output pixel is the floor-divided block sum
    expect = (px.astype(np.int64).reshape(3, 4, 5, 4, 3).sum((1, 3))
              // 16).astype(np.uint8)
    assert (out == expect).all()
    # non-divisible dims crop to the divisible region first
    out2 = decode_bmp(resize_image_blob(encode_bmp(px[:11, :19]), 3, 5))
    assert out2.shape == (3, 5, 3)
    with pytest.raises(ValueError, match="cannot downscale"):
        resize_image_blob(encode_bmp(px), 24, 40)


def test_jpeg_receive_truncation_is_strict():
    """A bit receive (magnitude / EOB-run) that starts in-bounds but
    extends past the last real bit must raise, not silently consume
    the zero padding — only prefix-free SYMBOL reads may overrun into
    padding (they resolve on their own bits)."""
    import pytest

    from aquacache_spark.functions.jpeg import _BitReader

    br = _BitReader(b"\xa5")  # 8 real bits
    br.pos = 4
    with pytest.raises(ValueError):
        br.get_bits(8)  # starts in-bounds, needs 12
    br.pos = 4
    assert br.get_bits(4) == 0x5  # exact fit still fine
    with pytest.raises(ValueError):
        br.get_bits(1)  # now exhausted


def test_gopher_flags_whitespace_robust(spark):
    """Mean word length / word count / alpha fraction must agree
    between single-space-joined text and the same text with messy
    whitespace (tabs, newlines, double spaces)."""
    from pyspark.sql import functions as F

    from aquacache_spark.functions.text import gopher_flags

    clean = "the quick brown fox jumps over the lazy dog"
    messy = "the  quick\tbrown fox\n jumps over\t\tthe lazy  dog "
    df = spark.createDataFrame([(1, clean), (2, messy)], "i int, t string")
    flags = gopher_flags(F.col("t"), min_words=1)
    out = {r["i"]: r for r in df.select(
        "i", flags["n_words"].alias("n"),
        flags["mean_word_len"].alias("mwl"),
        flags["alpha_frac"].alias("af"),
        flags["stopword_hits"].alias("sh")).collect()}
    assert out[1]["n"] == out[2]["n"] == 9
    assert abs(out[1]["mwl"] - out[2]["mwl"]) < 1e-12
    assert out[1]["af"] == out[2]["af"] == 1.0
    assert out[1]["sh"] == out[2]["sh"]


def test_audio_spectral_full_scale_int16_no_wrap():
    """Full-scale int16 PCM: per-frame-bin energies are int64-safe by
    construction, but cross-frame/cross-bin sums exceed 2^63 — they
    must accumulate in Python big ints (verified against an
    independent pure-Python big-int DFT), and total_energy beyond the
    int64 output column quarantines instead of silently wrapping."""
    import math

    import numpy as np
    import pytest

    from aquacache_spark.operators.multimodal import (
        _FP_FRAME, _FP_FRAMES, _SPEC_BINS, _SPEC_CHUNK, _SPEC_N,
        _spec_basis, audio_spectral_features)

    n = _FP_FRAMES * _FP_FRAME
    k = np.arange(n)
    # full-scale square waves, alternating low/high bins per frame
    lo = np.where((k // 16) % 2 == 0, 32767, -32768)
    hi = np.where((k // 2) % 2 == 0, 32767, -32768)
    loud = np.where((k // _FP_FRAME) % 2 == 0, lo, hi).astype(np.int64)

    # independent big-int reference (pure Python, no numpy dtypes)
    bc, bs = _spec_basis()
    ref_e = []
    for f in range(_FP_FRAMES):
        fr = [int(x) for x in loud[f * _FP_FRAME:(f + 1) * _FP_FRAME]]
        cs = [sum(fr[i * _SPEC_CHUNK:(i + 1) * _SPEC_CHUNK])
              for i in range(_SPEC_N)]
        row = []
        for b in range(_SPEC_BINS):
            cr = sum(cs[i] * bc[b][i] for i in range(_SPEC_N))
            ci = sum(cs[i] * bs[b][i] for i in range(_SPEC_N))
            row.append(cr * cr + ci * ci)
        ref_e.append(row)

    total = sum(sum(r) for r in ref_e)
    if total > 2**63 - 1:
        with pytest.raises(ValueError, match="int64"):
            audio_spectral_features(loud)
    else:
        c, r, t = audio_spectral_features(loud)
        assert t == total
        num = sum((b + 1) * sum(ref_e[f][b] for f in range(_FP_FRAMES))
                  for b in range(_SPEC_BINS))
        assert math.isclose(c, num / total)


def test_jpeg_12bit_roundtrip_and_guards():
    """12-bit extended sequential (SOF1): bit-exact q100 round trip on
    block-constant content, uint16 output, bounded error on lossy
    content, and loud rejection of out-of-range samples / color
    input / 12-bit-with-SOF0 streams."""
    import numpy as np
    import pytest

    from aquacache_spark.functions.jpeg import (decode_jpeg,
                                                encode_jpeg_12bit)

    img = np.zeros((16, 16), dtype=np.uint16)
    for b in range(4):
        bj, bi = divmod(b, 2)
        img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = b * 911 + 148
    out = decode_jpeg(encode_jpeg_12bit(img, quality=100))
    assert out.dtype == np.uint16
    assert (out[:, :, 0] == img).all()
    # lossy: smooth 12-bit ramp survives within a few quanta
    ramp = (np.arange(24)[:, None] * 170 + np.arange(40)[None, :] * 3
            ).astype(np.uint16)
    dec = decode_jpeg(encode_jpeg_12bit(ramp, quality=95))[:, :, 0]
    assert np.abs(dec.astype(int) - ramp.astype(int)).max() < 64
    with pytest.raises(ValueError):
        encode_jpeg_12bit(np.full((8, 8), 4096, dtype=np.uint16))
    with pytest.raises(ValueError):
        encode_jpeg_12bit(np.zeros((8, 8, 3), dtype=np.uint16))
    # a 12-bit precision byte on a BASELINE (SOF0) stream is invalid
    blob = bytearray(encode_jpeg_12bit(img, quality=100))
    sof = blob.find(b"\xff\xc1")
    blob[sof + 1] = 0xC0
    with pytest.raises(ValueError, match="precision"):
        decode_jpeg(bytes(blob))


def test_hashed_linear_score_with_real_weights(spark):
    """The weights-column path (the production shape): a broadcast
    weight vector replaces the stand-in, and an all-zeros model scores
    exactly 0.5 for every document."""
    from pyspark.sql import functions as F

    from aquacache_spark.functions.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a b"), (3, "single")],
        "doc_id int, text string")
    zeros = F.array_repeat(F.lit(0.0), 64)
    out = df.select(
        "doc_id",
        hashed_linear_score(F.col("text"), num_buckets=64,
                            weights=zeros).alias("p"))
    assert all(r["p"] == 0.5 for r in out.collect())
    # a biased model moves the score off 0.5 deterministically
    ones = F.array_repeat(F.lit(1.0), 64)
    out2 = df.select(
        hashed_linear_score(F.col("text"), num_buckets=64,
                            weights=ones).alias("p"))
    import math
    expect = 1.0 / (1.0 + math.exp(-1.0))
    assert all(abs(r["p"] - expect) < 1e-9 for r in out2.collect())


def test_all_media_extractors_quarantine_fuzz(spark):
    """Robustness sweep: random bytes, truncated real files, and valid
    magic numbers with corrupt bodies must QUARANTINE (null row) in
    every media extractor — never a task-killing exception."""
    import random

    import numpy as np

    from aquacache_spark.functions.avi import encode_avi
    from aquacache_spark.functions.jpeg import encode_jpeg
    from aquacache_spark.operators.multimodal import (
        encode_bmp, encode_png, encode_wav, extract_audio_spectral_features,
        extract_bmp_features, extract_image_sharpness, extract_jpeg_features,
        extract_png_features, extract_video_features,
        extract_video_scene_cuts, extract_wav_features)

    rng = random.Random(60815)
    img = np.full((8, 8), 99, dtype=np.uint8)
    rgb = np.stack([img] * 3, axis=-1)
    real = [
        encode_bmp(rgb), encode_png(rgb), encode_jpeg(img),
        encode_wav(list(range(-50, 50))),
        encode_avi([encode_jpeg(img)], 8, 8, fps=5),
    ]
    blobs = []
    for b in real:
        blobs.append(b[:len(b) // 2])              # truncated
        mid = bytearray(b)
        for _ in range(8):                          # corrupt body bytes
            mid[rng.randrange(10, len(mid))] = rng.randrange(256)
        blobs.append(bytes(mid))
    for n in (0, 1, 3, 17, 200):                    # random garbage
        blobs.append(bytes(rng.randrange(256) for _ in range(n)))
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)],
        "media_id bigint, content binary")
    extractors = [
        extract_bmp_features, extract_png_features, extract_jpeg_features,
        extract_wav_features, extract_video_features,
        extract_video_scene_cuts, extract_image_sharpness,
        extract_audio_spectral_features,
    ]
    for ex in extractors:
        out = ex(df)
        # every input row yields exactly one output row (quarantined or
        # decoded) and the job completes
        assert out.count() == len(blobs), ex.__name__


def test_shot_sign_signatures_survive_reencode_jitter(spark):
    """On the jittered fixture (the lossy re-encode stand-in), exact
    shot signatures split each 4-twin group into two dither-parity
    classes while sign signatures match all four; the boilerplate
    intro shot drops under the df cap in both regimes."""
    from aquacache_spark.operators.multimodal import (
        extract_video_shot_signatures, shot_containment_pairs,
        synthesize_intro_avis)

    # 8 clips = 2 full groups (media_id = 24t + 2, t = 0..7)
    ids = spark.createDataFrame(
        [(24 * t + 2,) for t in range(8)], "media_id long")
    avis = synthesize_intro_avis(ids, jitter=True).persist()
    exact = shot_containment_pairs(
        extract_video_shot_signatures(avis, tau=16, mode="exact"),
        max_sig_clips=4)
    sign = shot_containment_pairs(
        extract_video_shot_signatures(avis, tau=16, mode="sign"),
        max_sig_clips=4)
    # sign: 4 twins per group -> 4*3 directed pairs * 2 groups
    srows = sign.collect()
    assert len(srows) == 24
    assert all(r["matched_shots"] == 1 and r["total_shots"] == 2
               and r["containment"] == 0.5 for r in srows)
    # exact: only same-parity twins match -> 2*1 directed pairs per
    # parity class * 2 classes * 2 groups
    erows = exact.collect()
    assert len(erows) == 8
    spairs = {(r["media_a"], r["media_b"]) for r in srows}
    assert {(r["media_a"], r["media_b"]) for r in erows} < spairs
    avis.unpersist()
