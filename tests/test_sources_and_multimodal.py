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


def test_jpeg_receive_truncation_is_strict():
    """A magnitude receive that starts in-bounds but extends past the
    last real bit must raise, not silently consume the zero padding —
    only prefix-free SYMBOL reads may overrun into padding (they
    resolve on their own bits). An 8x8 checkerboard at quality 100
    puts a 10-bit magnitude in the last zigzag slot, so the block has
    no EOB and the stream ends on that receive plus at most 7 pad
    bits; dropping the final entropy byte cuts into the receive."""
    import numpy as np
    import pytest

    from aquacache_spark.functions.jpeg import decode_jpeg, encode_jpeg

    px = (np.indices((8, 8)).sum(axis=0) % 2 * 255).astype(np.uint8)
    blob = encode_jpeg(px, quality=100)
    assert blob[-2:] == b"\xff\xd9" and blob[-4:-2] != b"\xff\x00"
    assert (decode_jpeg(blob)[:, :, 0] == px).all()
    with pytest.raises(ValueError, match="exhausted"):
        decode_jpeg(blob[:-3] + blob[-2:])


def test_jpeg_rejects_progressive_and_12bit(spark):
    """The decoder is 8-bit sequential only: a baseline stream patched
    to SOF2 (progressive) or to 12-bit precision raises ValueError,
    and the feature extractor quarantines both as decoded = FALSE."""
    import numpy as np
    import pytest

    from aquacache_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from aquacache_spark.operators.multimodal import extract_jpeg_features

    good = encode_jpeg(np.full((16, 16), 77, dtype=np.uint8), quality=100)
    sof = good.find(b"\xff\xc0")
    prog = bytearray(good)
    prog[sof + 1] = 0xC2
    p12 = bytearray(good)
    p12[sof + 4] = 12  # FF C0 Lh Ll P: the sample precision byte
    with pytest.raises(ValueError, match="unsupported JPEG mode"):
        decode_jpeg(bytes(prog))
    with pytest.raises(ValueError, match="precision"):
        decode_jpeg(bytes(p12))
    df = spark.createDataFrame(
        [(1, good), (2, bytes(prog)), (3, bytes(p12))],
        "media_id bigint, content binary")
    rows = {r["media_id"]: r["decoded"]
            for r in extract_jpeg_features(df).collect()}
    assert rows == {1: True, 2: False, 3: False}


def test_all_media_extractors_quarantine_fuzz(spark):
    """Robustness sweep: random bytes, truncated real files, and valid
    magic numbers with corrupt bodies must QUARANTINE (null row) in
    the JPEG extractor — never a task-killing exception."""
    import random

    import numpy as np

    from aquacache_spark.functions.jpeg import encode_jpeg
    from aquacache_spark.operators.multimodal import extract_jpeg_features

    rng = random.Random(60815)
    img = np.full((8, 8), 99, dtype=np.uint8)
    rgb = np.stack([img] * 3, axis=-1)
    real = [encode_jpeg(img), encode_jpeg(rgb, 90, subsampling="420")]
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
    rows = extract_jpeg_features(df).collect()
    # every input row yields exactly one output row (quarantined or
    # decoded) and the job completes; truncated and garbage blobs
    # never decode
    assert len(rows) == len(blobs)
    assert not any(r["decoded"] for r in rows if r["media_id"] % 2 == 0
                   or r["media_id"] >= 2 * len(real))
