"""Baseline JPEG decode over a binary column: perfbench's media probe.

``extract_jpeg_features`` decodes each blob with functions/jpeg.py in
an Arrow-batched ``mapInPandas`` stage, and a blob it cannot decode
(progressive, 12-bit, corrupt) quarantines as ``decoded`` = FALSE.
``synthesize_jpegs`` writes the deterministic fixtures. The one caller
is ``queries.multimodal.jpeg_decode_features``, named in
``perfbench/batch_analytics.py``; tests/test_import_boundary.py pins it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _spread_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Decouple the synth/codec kernels' parallelism from file splits:
    an id list read from a small parquet is ONE task, serializing
    every encode/decode in the fixture tier on one core. Shuffling
    bare ids is free relative to the codec work; left alone when the
    scan already yields enough splits (the 100 TB case). One shared
    heuristic with the hashing tier: delegates to _scan.spread_scan
    over the projected id column."""
    from ._scan import spread_scan

    return spread_scan(df.select(id_col), id_col)


# ---------------------------------------------------------------------------
# JPEG: the dominant web-corpus image format — real baseline decode
# (functions/jpeg.py).
# ---------------------------------------------------------------------------

def extract_jpeg_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """Baseline JPEG decode (Huffman + dequant + batch IDCT + color
    convert) per item, Arrow-batched; undecodable or non-baseline
    blobs quarantine with ``decoded`` = FALSE."""
    from ..functions.jpeg import decode_jpeg

    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": pdf[id_col].astype("int64"), "decoded": [],
                   "width": [], "height": [], "mean_r": [], "mean_g": [],
                   "mean_b": []}
            for blob in pdf[blob_col]:
                try:
                    px = decode_jpeg(blob)
                    means = px.reshape(-1, 3).mean(axis=0)
                    out["decoded"].append(True)
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
                except (ValueError, TypeError, IndexError, KeyError):
                    out["decoded"].append(False)
                    for c in ("width", "height", "mean_r", "mean_g",
                              "mean_b"):
                        out[c].append(None)
            pdf_out = pd.DataFrame(out)
            pdf_out["width"] = pdf_out["width"].astype("Int32")
            pdf_out["height"] = pdf_out["height"].astype("Int32")
            yield pdf_out

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def synthesize_jpegs(
    df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """Deterministic JPEG fixtures: 16x16 GRAYSCALE images of four
    8x8-constant blocks, block b of item i = (i*7 + b*37) % 200 + 28,
    encoded at quality 100 — the regime where the baseline round trip
    is bit-exact, so the oracle can average the closed form without a
    decoder. Every stream still runs the full real pipeline (Huffman,
    dequant, IDCT, color convert)."""
    from ..functions.jpeg import encode_jpeg

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                img = np.zeros((16, 16), dtype=np.uint8)
                for b in range(4):
                    bj, bi = divmod(b, 2)
                    img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = \
                        (i * 7 + b * 37) % 200 + 28
                blobs.append(encode_jpeg(img, quality=100))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)
