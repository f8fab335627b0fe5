"""Multimodal (image/audio/video) column plumbing.

Design for 100 TB multimodal corpora: media are opaque ``binary``
columns with typed metadata alongside (mime, width/height, duration…).
Decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python row by
row, and the pipeline schema is explicit at every step.

Real codecs, no external libraries: BMP and PNG (below), baseline
JPEG (functions/jpeg.py), PCM WAV audio, and MJPEG-in-AVI video
(functions/avi.py) all decode for real — stdlib struct/zlib + numpy —
with corrupt inputs quarantining per row via a ``decoded`` flag. The
generic ``extract_media_features`` hook remains for formats outside
that set (its ``decoder=None`` fake keeps the plumbing testable
without a codec; pass a PIL/librosa-backed callable in production).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("mean_byte", T.DoubleType()),
    T.StructField("feature", T.ArrayType(T.DoubleType())),
])


def _fake_decode(blob: bytes) -> list[float]:
    """Deterministic stand-in for pixel decode: 8 byte-histogram moments."""
    if not blob:
        return [0.0] * 8
    return [
        sum(b for b in blob[i::8]) / max(len(blob[i::8]), 1) / 255.0
        for i in range(8)
    ]


def extract_media_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
    decoder: Optional[Callable[[bytes], list[float]]] = None,
) -> DataFrame:
    """Binary column -> per-item feature rows, Arrow-batched.

    ``decoder`` maps raw bytes to a feature vector; None selects the
    deterministic fake (decode libs absent here — see module docstring).
    """
    decode = decoder or _fake_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = pdf[blob_col]
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "n_bytes": blobs.map(lambda b: len(b) if b is not None else 0),
                "sha256": blobs.map(
                    lambda b: hashlib.sha256(b or b"").hexdigest()
                ),
                "mean_byte": blobs.map(
                    lambda b: (sum(b) / len(b)) if b else 0.0
                ),
                "feature": blobs.map(lambda b: decode(b or b"")),
            })

    return df.select(id_col, blob_col).mapInPandas(batches, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# A REAL decode path: 24-bit uncompressed BMP, parsed with stdlib
# struct + numpy only — so at least one image format runs end-to-end in
# this container (the general `decoder` hook stays for PIL/libraries).
# The reference ingests camera images as opaque binaries
# (R/downloadNupointImages.R, insertACImage.R); this is the decode /
# feature-extract stage its consumers would run.
# ---------------------------------------------------------------------------

def encode_bmp(pixels) -> bytes:
    """Minimal 24-bit BMP writer (BITMAPINFOHEADER, bottom-up rows,
    4-byte row padding, BGR byte order). ``pixels``: uint8 array
    (h, w, 3) in RGB."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = px[r, :, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * pad
    data_offset = 14 + 40
    file_size = data_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return bytes(header + info + body)


def decode_bmp(blob: bytes):
    """Parse a 24-bit uncompressed BMP into an (h, w, 3) RGB uint8
    array. Raises ValueError on anything that is not exactly that
    (magic, bit depth, compression) — corrupt inputs surface instead of
    yielding garbage features."""
    import struct

    import numpy as np

    if blob is None or len(blob) < 54 or blob[:2] != b"BM":
        raise ValueError("not a BMP (bad magic or truncated header)")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    (bi_size, w, h, _planes, bitcount, compression) = struct.unpack_from(
        "<IiiHHI", blob, 14)
    if bi_size < 40 or bitcount != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP (bitcount={bitcount}, compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    if len(blob) < data_offset + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = []
    for r in range(h):
        off = data_offset + r * stride
        row = np.frombuffer(blob, dtype=np.uint8, count=row_bytes,
                            offset=off).reshape(w, 3)[:, ::-1]  # BGR->RGB
        rows.append(row)
    px = np.stack(rows)
    return px[::-1] if bottom_up else px


def extract_bmp_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """Real image decode, Arrow-batched: per item width/height and
    per-channel means from actual pixel parsing (no stub). Undecodable
    blobs yield NULL dimensions and a FALSE ``decoded`` flag rather
    than killing the task."""
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
                    px = decode_bmp(blob)
                    means = px.reshape(-1, 3).mean(axis=0)
                    out["decoded"].append(True)
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
                except (ValueError, TypeError):
                    out["decoded"].append(False)
                    for c in ("width", "height", "mean_r", "mean_g",
                              "mean_b"):
                        out[c].append(None)
            pdf_out = pd.DataFrame(out)
            pdf_out["width"] = pdf_out["width"].astype("Int32")
            pdf_out["height"] = pdf_out["height"].astype("Int32")
            yield pdf_out

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def resize_image_blob(blob: bytes, out_h: int, out_w: int) -> bytes:
    """BMP bytes -> block-mean-downscaled BMP bytes. EXACT integer
    arithmetic: each output pixel is the floor-divided sum of its
    source block (crop to the divisible region first) — deterministic
    and SQL-replayable, no float resampling."""
    import numpy as np

    px = decode_bmp(blob)
    h, w, _ = px.shape
    fh, fw = h // out_h, w // out_w
    if fh < 1 or fw < 1:
        raise ValueError(
            f"cannot downscale {h}x{w} to {out_h}x{out_w} (upscale is "
            "not a reduction)")
    cells = (
        px[:fh * out_h, :fw * out_w].astype(np.int64)
        .reshape(out_h, fh, out_w, fw, 3).sum(axis=(1, 3)) // (fh * fw)
    )
    return encode_bmp(cells.astype(np.uint8))


def resize_images(
    df: DataFrame,
    out_h: int,
    out_w: int,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """(id, content) of resized BMPs — map-only Arrow kernel, the
    thumbnail/normalization step of an image-corpus pipeline.
    Undecodable or too-small inputs quarantine as NULL content."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for blob in pdf[blob_col]:
                try:
                    out.append(resize_image_blob(bytes(blob), out_h, out_w))
                except (ValueError, TypeError):
                    out.append(None)
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": out})

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# WAV: the audio tier's real decode path (RIFF/WAVE PCM, stdlib struct
# + numpy). 8/16-bit integer PCM, mono or multi-channel; anything else
# (float, ADPCM, truncated chunks) raises, so corrupt inputs
# quarantine via the ``decoded`` flag like the image codecs.
# ---------------------------------------------------------------------------

def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Minimal 16-bit PCM mono WAV writer (RIFF + fmt + data)."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(blob: bytes):
    """Parse a PCM WAV into (sample_rate, channels, int16 ndarray of
    shape (n_frames, channels)). 8-bit unsigned widens to 16-bit
    signed; non-PCM formats raise ValueError."""
    import struct

    import numpy as np

    if blob is None or len(blob) < 12 or blob[:4] != b"RIFF" \
            or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV (bad RIFF/WAVE header)")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(blob):
        cid = blob[pos:pos + 4]
        (clen,) = struct.unpack_from("<I", blob, pos + 4)
        chunk = blob[pos + 8:pos + 8 + clen]
        if len(chunk) != clen:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", chunk, 0)
        elif cid == b"data":
            data = chunk
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, sr, _brate, _align, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16) or channels < 1:
        raise ValueError(
            f"unsupported WAV (format={audio_fmt}, bits={bits})")
    if bits == 16:
        arr = np.frombuffer(data[:len(data) // 2 * 2], dtype="<i2")
    else:
        arr = (np.frombuffer(data, dtype=np.uint8).astype(np.int16)
               - 128) * 256
    n = arr.size // channels
    return sr, channels, arr[:n * channels].reshape(n, channels)


def extract_wav_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """Audio features from real PCM decode, Arrow-batched: duration,
    RMS, peak, zero-crossing count over the channel-mean signal.
    Undecodable blobs quarantine with ``decoded`` = FALSE."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.LongType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in ("decoded", "sample_rate", "n_frames",
                                   "duration_s", "mean_amp", "rms",
                                   "peak", "zero_crossings")}
            for blob in pdf[blob_col]:
                try:
                    sr, _ch, frames = decode_wav(blob)
                    mono = frames.astype(np.float64).mean(axis=1)
                    nz = mono >= 0
                    out["decoded"].append(True)
                    out["sample_rate"].append(sr)
                    out["n_frames"].append(len(mono))
                    out["duration_s"].append(len(mono) / sr)
                    out["mean_amp"].append(float(mono.mean()))
                    out["rms"].append(
                        float(np.sqrt((mono ** 2).sum() / len(mono))))
                    out["peak"].append(int(np.abs(frames).max()))
                    out["zero_crossings"].append(
                        int((nz[1:] != nz[:-1]).sum()))
                except (ValueError, TypeError, ZeroDivisionError):
                    out["decoded"].append(False)
                    for c in ("sample_rate", "n_frames", "duration_s",
                              "mean_amp", "rms", "peak",
                              "zero_crossings"):
                        out[c].append(None)
            pdf_out = pd.DataFrame(
                {"media_id": pdf[id_col].astype("int64"), **out})
            pdf_out["sample_rate"] = pdf_out["sample_rate"].astype("Int32")
            pdf_out["n_frames"] = pdf_out["n_frames"].astype("Int64")
            pdf_out["peak"] = pdf_out["peak"].astype("Int32")
            pdf_out["zero_crossings"] = \
                pdf_out["zero_crossings"].astype("Int64")
            yield pdf_out

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def _spread_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Decouple the synth/codec kernels' parallelism from file splits:
    an id list read from a small parquet is ONE task, serializing
    every encode/decode in the fixture tier on one core (measured:
    the 16-frame AVI synth + shot decode at sf0.1 ran 4.1s
    single-task). Shuffling bare ids is free relative to the codec
    work; left alone when the scan already yields enough splits (the
    100 TB case). One shared heuristic with the hashing tier:
    delegates to _scan.spread_scan over the projected id column."""
    from ._scan import spread_scan

    return spread_scan(df.select(id_col), id_col)


def synthesize_wavs(
    df: DataFrame,
    id_col: str = "media_id",
    n_samples: int = 256,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic WAV fixtures: sample k of item i is
    ((i*37 + k*101) % 4001) - 2000 — a closed form the oracle can
    aggregate (exact integer sums of s and s^2) without parsing —
    encoded through the real 16-bit PCM writer."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        k = np.arange(n_samples)
        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                s = ((i * 37 + k * 101) % 4001) - 2000
                blobs.append(encode_wav(s, sample_rate))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# PNG: the format real web corpora actually contain. Pure stdlib-zlib
# + numpy: critical chunks (IHDR/PLTE/IDAT/IEND), CRC-verified, all
# five scanline filters, 8-bit gray/RGB/palette/RGBA. Anything outside
# that subset (16-bit, interlace) raises — corrupt or exotic inputs
# quarantine via the ``decoded`` flag, never yield garbage features.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a, b, c):
    import numpy as np

    p = a.astype(np.int32) + b - c
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels, filters=None) -> bytes:
    """Minimal 8-bit RGB PNG writer. Per-row filter types cycle 0-4 by
    default, so fixture bytes exercise EVERY unfilter path (None, Sub,
    Up, Average, Paeth) in ``decode_png``."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for r in range(h):
        ft = (filters[r % len(filters)] if filters else r % 5)
        row = px[r].reshape(-1)
        left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
        up = prev
        ul = np.concatenate([np.zeros(bpp, np.uint8), up[:-bpp]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = row - left
        elif ft == 2:
            enc = row - up
        elif ft == 3:
            enc = row - ((left.astype(np.int32) + up) // 2).astype(np.uint8)
        else:
            enc = row - _paeth(left, up, ul).astype(np.uint8)
        raw.append(ft)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def decode_png(blob: bytes):
    """Parse a PNG into an (h, w, 3) RGB uint8 array. CRCs verified;
    8-bit gray (0), RGB (2), palette (3) and RGBA (6, alpha dropped)
    supported; anything else raises ValueError. Sequential unfiltering
    is per-row numpy except the left-dependent filters' byte loop —
    fine for the feature tier; swap in a library decoder via the
    ``decoder`` hook for bulk pixel work."""
    import struct
    import zlib

    import numpy as np

    if blob is None or len(blob) < 8 or blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(blob):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", blob, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace})")
    channels = {0: 1, 2: 3, 3: 1, 6: 4}.get(ctype_n)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {ctype_n}")
    if ctype_n == 3 and plte is None:
        raise ValueError("palette PNG without PLTE")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    bpp = channels
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        row = np.frombuffer(raw, np.uint8, count=stride,
                            offset=r * (stride + 1) + 1).copy()
        if ft == 0:
            rec = row
        elif ft == 2:
            rec = row + prev
        elif ft in (1, 3, 4):
            rec = row
            up = prev.astype(np.int32)
            ul = np.concatenate([np.zeros(bpp, np.int32), up[:-bpp]])
            rec = rec.astype(np.int32)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                if ft == 1:
                    rec[i] = (rec[i] + left) & 0xFF
                elif ft == 3:
                    rec[i] = (rec[i] + (left + up[i]) // 2) & 0xFF
                else:
                    a, b, c = left, int(up[i]), int(ul[i])
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                    rec[i] = (rec[i] + pred) & 0xFF
            rec = rec.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = rec
        prev = out[r]
    px = out.reshape(h, w, channels)
    if ctype_n == 0:
        return np.repeat(px, 3, axis=2)
    if ctype_n == 3:
        return plte[px[:, :, 0]]
    if ctype_n == 6:
        return px[:, :, :3].copy()
    return px


def extract_png_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """PNG sibling of ``extract_bmp_features``: real inflate + unfilter
    per item, Arrow-batched; undecodable blobs quarantine with a FALSE
    ``decoded`` flag."""
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
                    px = decode_png(blob)
                    means = px.reshape(-1, 3).mean(axis=0)
                    out["decoded"].append(True)
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
                except (ValueError, TypeError, EOFError, OSError):
                    out["decoded"].append(False)
                    for c in ("width", "height", "mean_r", "mean_g",
                              "mean_b"):
                        out[c].append(None)
            pdf_out = pd.DataFrame(out)
            pdf_out["width"] = pdf_out["width"].astype("Int32")
            pdf_out["height"] = pdf_out["height"].astype("Int32")
            yield pdf_out

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def synthesize_pngs(
    df: DataFrame,
    id_col: str = "media_id",
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """Deterministic PNG fixtures with the SAME closed-form pixels as
    ``synthesize_bmps`` (the oracle averages them without parsing),
    encoded through the real writer with cycling row filters so decode
    exercises every unfilter path on genuine deflate streams."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        r = np.arange(height)[:, None]
        c = np.arange(width)[None, :]
        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                px = np.stack([
                    (i * 7 + r * 16 + c) % 256,
                    (i * 11 + r * 5 + c * 3) % 256,
                    (i * 13 + r * 2 + c * 7) % 256,
                ], axis=-1).astype("uint8")
                blobs.append(encode_png(px))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


def synthesize_bmps(
    df: DataFrame,
    id_col: str = "media_id",
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """Deterministic BMP fixtures: pixel (r, c) of item ``i`` is
    ((i*7 + r*16 + c) % 256, (i*11 + r*5 + c*3) % 256,
    (i*13 + r*2 + c*7) % 256) — a closed form the oracle can average
    without parsing. Encoded through the REAL writer so the decode
    path is exercised on genuine BMP bytes."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        r = np.arange(height)[:, None]
        c = np.arange(width)[None, :]
        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                px = np.stack([
                    (i * 7 + r * 16 + c) % 256,
                    (i * 11 + r * 5 + c * 3) % 256,
                    (i * 13 + r * 2 + c * 7) % 256,
                ], axis=-1).astype("uint8")
                blobs.append(encode_bmp(px))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# JPEG: the dominant web-corpus image format — real baseline decode
# (functions/jpeg.py). Same quarantine contract as BMP/PNG.
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


def synthesize_jpegs12(
    df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """12-bit extended-sequential JPEG fixtures: 16x16 GRAYSCALE
    images of four 8x8-constant blocks, block b of item i =
    (i * 13 + b * 911) % 4000 + 48, encoded at quality 100 — the
    bit-exact regime, so the oracle averages the closed form while
    every stream still runs the full SOF1/12-bit decode path
    (16-category DC Huffman, uint16 output)."""
    from ..functions.jpeg import encode_jpeg_12bit

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                img = np.zeros((16, 16), dtype=np.uint16)
                for b in range(4):
                    bj, bi = divmod(b, 2)
                    img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = \
                        (int(i) * 13 + b * 911) % 4000 + 48
                blobs.append(encode_jpeg_12bit(img, quality=100))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


def synthesize_progressive_jpegs(
    df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """Progressive (SOF2) siblings of :func:`synthesize_jpegs`:
    16x16 grayscale, block b of item i = (i*9 + b*31) % 200 + 30,
    encoded via the multi-scan progressive script (spectral selection
    + DC/AC successive approximation) at quality 100 — the bit-exact
    regime, so the oracle averages the closed form while the decode
    runs every progressive scan type."""
    from ..functions.jpeg import encode_jpeg_progressive

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
                        (i * 9 + b * 31) % 200 + 30
                blobs.append(encode_jpeg_progressive(img, quality=100))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# Video temporal analysis: decode every frame through the real
# MJPEG/JPEG path and take each frame's EXACT integer luma sum; scene
# cuts and shot signatures work on those sums and their deltas.
# Brightness-offset copies (uniform per-video re-grade) cancel in the
# deltas. Exact integers end to end, so the oracle replays the
# closed-form frames.
# ---------------------------------------------------------------------------

_VFP_FRAMES = 16


def scene_cuts(frame_luma_sums, n_pixels: int, tau: int = 8) -> tuple:
    """Exact-integer scene-cut detection over per-frame luma sums: a
    cut occurs between adjacent frames when the absolute luma-sum
    delta exceeds ``tau`` grey levels PER PIXEL (|ds| > tau *
    n_pixels — integer compare, no float). Returns (n_cuts,
    shot_count, longest_shot_frames)."""
    cuts = 0
    run = 1
    longest = 1 if frame_luma_sums else 0
    for a, b in zip(frame_luma_sums, frame_luma_sums[1:]):
        if abs(b - a) > tau * n_pixels:
            cuts += 1
            run = 1
        else:
            run += 1
        longest = max(longest, run)
    return cuts, cuts + 1 if frame_luma_sums else 0, longest


def extract_video_scene_cuts(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
    tau: int = 8,
) -> DataFrame:
    """(id, n_frames, n_cuts, shot_count, longest_shot) over MJPEG-AVI
    blobs: every frame entropy-decoded, exact integer luma sums, cuts
    where the per-pixel mean jumps more than ``tau`` grey levels —
    map-only Arrow kernel; undecodable inputs quarantine."""
    from ..functions.avi import decode_avi
    from ..functions.jpeg import decode_jpeg

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_cuts", T.LongType()),
        T.StructField("shot_count", T.LongType()),
        T.StructField("longest_shot", T.LongType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            nf, nc, sc, ls = [], [], [], []
            for blob in pdf[blob_col]:
                try:
                    v = decode_avi(bytes(blob))
                    planes = [np.asarray(decode_jpeg(fr)[:, :, 0],
                                         dtype=np.int64)
                              for fr in v["frames"]]
                    sums = [int(p.sum()) for p in planes]
                    npx = int(planes[0].size) if planes else 0
                    c, s, lo = scene_cuts(sums, npx, tau)
                    nf.append(len(sums)); nc.append(c)
                    sc.append(s); ls.append(lo)
                except (ValueError, IndexError):
                    nf.append(None); nc.append(None)
                    sc.append(None); ls.append(None)
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "n_frames": pd.Series(nf, dtype="Int64"),
                "n_cuts": pd.Series(nc, dtype="Int64"),
                "shot_count": pd.Series(sc, dtype="Int64"),
                "longest_shot": pd.Series(ls, dtype="Int64"),
            })

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def extract_video_shot_signatures(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
    tau: int = 8,
    mode: str = "exact",
) -> DataFrame:
    """(id, shot_id, sig) per detected shot: the shot's within-shot
    luma-delta sequence hashed — brightness-offset-invariant (a
    uniform regrade shifts every frame sum equally, so deltas cancel
    it), which is exactly the re-encoded/re-graded copy class
    shot-level dedup must catch. Two signature regimes:

    - ``mode='exact'``: md5 of the comma-joined integer deltas — the
      bit-exact tier and the differential-oracle regime;
    - ``mode='sign'``: md5 of the delta SIGN string (+/-/0 per
      transition) — a lossy
      re-encode perturbs delta magnitudes but rarely their direction,
      so sign signatures survive recompression that breaks the exact
      tier (kept alongside it, not instead: sign mode trades a
      coarser collision class for the robustness).

    Single-frame shots hash the empty string in both modes. Map-only
    Arrow kernel; undecodable inputs quarantine (no rows).

    100 TB note: the downstream sig equi-join's pair mass is sum of
    m^2 over signature groups — a boilerplate shot (channel intro,
    test card) present in millions of clips is the hot-bucket class
    again, and the coarser sign regime makes hot signatures MORE
    likely. :func:`shot_containment_pairs` implements the mitigation
    (document-frequency cap on the sig posting list, the same trade
    as the LSH star cap in operators/dedup.py)."""
    if mode not in ("exact", "sign"):
        raise ValueError(f"unknown signature mode: {mode!r}")
    import hashlib

    from ..functions.avi import decode_avi
    from ..functions.jpeg import decode_jpeg

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("shot_id", T.LongType()),
        T.StructField("sig", T.StringType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            mids, sids, sigs = [], [], []
            for mid, blob in zip(pdf[id_col].astype("int64"),
                                 pdf[blob_col]):
                try:
                    v = decode_avi(bytes(blob))
                    planes = [np.asarray(decode_jpeg(fr)[:, :, 0],
                                         dtype=np.int64)
                              for fr in v["frames"]]
                    sums = [int(p.sum()) for p in planes]
                    npx = int(planes[0].size) if planes else 0
                except (ValueError, IndexError):
                    continue
                shot, deltas = 0, []
                out_shots = []
                for a, b in zip(sums, sums[1:]):
                    if abs(b - a) > tau * npx:
                        out_shots.append((shot, deltas))
                        shot += 1
                        deltas = []
                    else:
                        deltas.append(b - a)
                out_shots.append((shot, deltas))
                for sid, ds in out_shots:
                    mids.append(int(mid))
                    sids.append(sid)
                    if mode == "sign":
                        key = "".join(
                            "+" if d > 0 else "-" if d < 0 else "0"
                            for d in ds)
                    else:
                        key = ",".join(str(d) for d in ds)
                    sigs.append(hashlib.md5(key.encode()).hexdigest())
            yield pd.DataFrame({
                id_col: pd.Series(mids, dtype="int64"),
                "shot_id": pd.Series(sids, dtype="int64"),
                "sig": pd.Series(sigs, dtype="object"),
            })

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def shot_containment_pairs(
    sigs: DataFrame,
    id_col: str = "media_id",
    max_sig_clips: int | None = 1024,
) -> DataFrame:
    """Directed shot-overlap between clips from a (id, shot_id, sig)
    table: (media_a, media_b, matched_shots, total_shots, containment)
    with containment = matched_shots / total_shots(media_a), rounded
    to 1e-6.

    Hot-signature cap (the web-scale guard, same class as the LSH
    star cap in operators/dedup.py): a boilerplate shot — channel
    intro, test card, black-frame run — shared by m clips yields m²
    rows out of a raw sig equi-join, and AQE skew handling cannot
    reduce that pair MASS. Signatures present in more than
    ``max_sig_clips`` clips carry no discriminative signal, so they
    are dropped from BOTH join sides before the equi-join (one
    partial-aggregable distinct-count on the posting list, shuffled on
    the same sig key the join uses); pair mass per signature is then
    bounded by max_sig_clips². ``total_shots`` deliberately stays the
    FULL per-clip shot count — capping shrinks the numerator only, so
    a containment score never inflates under the cap, and a clip made
    entirely of boilerplate simply emits no pairs.
    ``max_sig_clips=None`` restores uncapped all-pairs semantics."""
    from pyspark.sql import functions as F

    # r12 single-pass shape (guide §2.4/§1.2): the signature frame is
    # the output of an EXPENSIVE opaque subtree (AVI synth + decode,
    # two chained MapInPandas kernels), and the previous form consumed
    # it from 3 (uncapped) / 4 (capped) independent branches — Spark
    # recomputed the whole codec chain once per branch (5 MapInPandas
    # chains in the physical plan; exchange reuse cannot fire because
    # Python-map column pruning gives each branch a different
    # subtree). Now ONE sig-keyed aggregation collects each
    # signature's posting list, and every consumer — the hot-sig cap,
    # both pair sides, and the per-clip totals — derives from that
    # single aggregated frame above one shared exchange, so the codec
    # chain executes once per action. Posting lists stay bounded by
    # the cap's purpose at scale: a group is dropped the moment its
    # distinct-clip count exceeds max_sig_clips, and the per-sig list
    # is the same rows the old join shuffled to one partition anyway
    # (array form trades the join's m^2 output rows for the m-entry
    # list; under the default cap m <= ~1024).
    sigs = sigs.select(id_col, "shot_id", "sig")
    groups = sigs.groupBy("sig").agg(
        F.collect_list(F.struct(F.col(id_col).alias("m"),
                                F.col("shot_id").alias("s")))
        .alias("__members"))
    members = F.col("__members")
    # per-clip totals from the SAME aggregated frame (collect_list
    # keeps duplicates, so exploding reproduces the raw sig rows)
    nshots = (
        groups.select(F.explode(members).alias("e"))
        .groupBy(F.col("e.m").alias(id_col))
        .agg(F.count(F.lit(1)).alias("total_shots")))
    joinable = groups
    if max_sig_clips is not None:
        # distinct clip count per sig (a clip may repeat a shot)
        n_clips = F.size(F.array_distinct(
            F.transform(members, lambda x: x["m"])))
        joinable = groups.where(n_clips <= max_sig_clips)
    # all directed member pairs within a signature (a != b), exploded
    # map-side — no second scan, no equi-join
    pairs = joinable.select(
        F.explode(members).alias("a"), members.alias("__bs")
    ).select(
        F.col("a.m").alias("media_a"), F.col("a.s").alias("__sa"),
        F.explode(F.col("__bs")).alias("b")
    ).where(F.col("media_a") != F.col("b.m"))
    matched = (
        pairs.select("media_a", F.col("b.m").alias("media_b"), "__sa")
        .groupBy("media_a", "media_b")
        .agg(F.countDistinct("__sa").alias("matched_shots"))
    )
    out = matched.join(
        nshots.select(F.col(id_col).alias("media_a"), "total_shots"),
        "media_a")
    cont = (F.floor(
        F.col("matched_shots").cast("double") / F.col("total_shots")
        * 1e6 + F.lit(0.5)) / 1e6)
    return out.select("media_a", "media_b", "matched_shots",
                      "total_shots", cont.alias("containment"))


def synthesize_intro_avis(
    df: DataFrame,
    id_col: str = "media_id",
    fps: int = 10,
    jitter: bool = False,
) -> DataFrame:
    """16-frame MJPEG AVIs with a BOILERPLATE INTRO: frames 0-7 are a
    shared channel intro (block value 40 + f*9 + b*20 — identical for
    every item up to the per-item regrade offset (i%3)*4, which the
    delta signatures cancel), then a hard cut into group content with
    g = ((i - 2) / 24) // 4, so clips come in runs of 4 twins while
    EVERY clip shares the intro shot (the hot-signature class
    shot_containment_pairs' cap must bound).

    - ``jitter=False``: frame 8+j steps by 3 + 2*bit_{j-1}(g) — all
      four group twins are delta-exact copies (the exact-signature
      regime).
    - ``jitter=True`` (the lossy re-encode stand-in): frame 8+j steps
      by SIGNED 4 * (+1 if bit_{j-1}(g) else -1), plus a per-item
      luminance dither (t + f) % 2 with t = (i - 2) / 24 — twins of
      opposite t-parity differ in every delta MAGNITUDE but never in
      delta SIGN, so mode='sign' signatures match all four twins while
      mode='exact' splits them into two parity classes.

    All values stay inside 0..255 with no modular wraps, deltas stay
    under the cut threshold within each segment, and the f7->f8
    per-pixel mean jump is >= 40 — the whole luma-sum trace is the
    closed form the DuckDB oracle replays. Quality-100 block-constant
    frames are bit-exact through the JPEG round trip."""
    from ..functions.avi import encode_avi
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
                t = (int(i) - 2) // 24
                g = t // 4
                off = (int(i) % 3) * 4
                frames = []
                for f in range(16):
                    img = np.zeros((16, 16), dtype=np.uint8)
                    for b in range(4):
                        if f < 8:
                            v = 40 + f * 9 + b * 20 + off
                        elif jitter:
                            pre = sum(
                                4 if ((g >> (j - 1)) & 1) else -4
                                for j in range(1, f - 7))
                            v = 190 + pre + b * 2 + off + (t + f) % 2
                        else:
                            pre = sum(3 + 2 * ((g >> (j - 1)) & 1)
                                      for j in range(1, f - 7))
                            v = 170 + pre + b * 2 + off
                        bj, bi = divmod(b, 2)
                        img[bj * 8:(bj + 1) * 8,
                            bi * 8:(bi + 1) * 8] = v
                    frames.append(encode_jpeg(img, quality=100))
                blobs.append(encode_avi(frames, 16, 16, fps))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


def synthesize_group_avis(
    df: DataFrame,
    id_col: str = "media_id",
    n_frames: int = _VFP_FRAMES,
    fps: int = 10,
) -> DataFrame:
    """16-frame MJPEG AVIs for the video queries: frame f of item i
    is the 16x16 four-block mosaic of its GROUP g = i % 8 — block b
    valued (g*7 + f*11 + b*37) % 200 + 28 — plus a per-item uniform
    brightness offset (i % 3) * 4, so group twins are re-graded copies
    with identical luma deltas. Quality-100 block-constant
    frames are bit-exact through the JPEG round trip, keeping the
    frame luma sums the closed form the oracle replays."""
    from ..functions.avi import encode_avi
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
                g = int(i) % 8
                off = (int(i) % 3) * 4
                frames = []
                for f in range(n_frames):
                    img = np.zeros((16, 16), dtype=np.uint8)
                    for b in range(4):
                        bj, bi = divmod(b, 2)
                        img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = \
                            (g * 7 + f * 11 + b * 37) % 200 + 28 + off
                    frames.append(encode_jpeg(img, quality=100))
                blobs.append(encode_avi(frames, 16, 16, fps))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# Audio spectral analysis in EXACT integer arithmetic: the clip is cut
# into 16 frames of 256 samples, and energies are sums of squared PCM
# samples (int64-exact), so the DuckDB oracle is an exact replay with
# no float-sum risk.
# ---------------------------------------------------------------------------

_FP_FRAMES = 16   # frames considered
_FP_FRAME = 256   # samples per frame


# Per frame, an INTEGER DFT over 4-sample chunk pre-sums, 16 bins. The
# basis is a fixed-point cosine/sine table (scale 128) computed once
# with math.cos/sin and shared VERBATIM with the DuckDB oracle
# (embedded as list literals), so both engines do exact int64
# arithmetic — no cross-engine trig drift. Gain invariance is exact:
# energies are quadratic forms in the samples.
_SPEC_CHUNK = 4                      # samples pre-summed per DFT point
_SPEC_N = _FP_FRAME // _SPEC_CHUNK   # DFT length (64)
_SPEC_BINS = 16                      # bins 1..16 (DC skipped)
_SPEC_SCALE = 128                    # fixed-point basis scale


def _spec_basis() -> tuple[list[list[int]], list[list[int]]]:
    """Fixed-point DFT basis, row n-1 (bin n), column k:
    floor(cos/sin(2*pi*n*k/N) * SCALE + 0.5). Pure math module —
    deterministic everywhere; the oracle embeds these exact ints."""
    import math

    bc, bs = [], []
    for nbin in range(1, _SPEC_BINS + 1):
        bc.append([math.floor(
            math.cos(2 * math.pi * nbin * k / _SPEC_N) * _SPEC_SCALE + 0.5)
            for k in range(_SPEC_N)])
        bs.append([math.floor(
            math.sin(2 * math.pi * nbin * k / _SPEC_N) * _SPEC_SCALE + 0.5)
            for k in range(_SPEC_N)])
    return bc, bs


def audio_spectral_features(samples) -> tuple:
    """int16 PCM -> (spectral_centroid, rolloff_bin, total_energy):
    whole-clip DFT bin energies via the fixed-point integer basis
    above, then

    - centroid = sum(bin * E_bin) / sum(E_bin)  (bins 1..16);
    - rolloff  = smallest bin with cumulative energy >= 85% of total
      (the 85% spectral-rolloff convention), computed in exact integer
      arithmetic (20 * cum >= 17 * total);
    - total    = sum(E_bin) (int, exact).

    Per-frame per-bin energies are int64-exact for ANY int16 input
    (|cr| <= 64 * 2^17 * 128 = 2^30, squared+summed <= 2^61); the
    cross-frame and cross-bin accumulations — which CAN exceed 2^63 on
    loud full-scale PCM — run in Python big ints, so centroid and
    rolloff never silently wrap. total_energy itself must fit the
    int64 output column: clips beyond that envelope raise ValueError
    and quarantine as NULL in the extractor (the DuckDB oracle sums in
    HUGEINT, so a wrapped value could never match anyway)."""
    import numpy as np

    bc, bs = _spec_basis()
    cb = np.asarray(bc, dtype=np.int64)
    sb = np.asarray(bs, dtype=np.int64)
    s = np.asarray(samples, dtype=np.int64)
    need = _FP_FRAMES * _FP_FRAME
    if s.size < need:
        s = np.pad(s, (0, need - s.size))
    cs = s[:need].reshape(_FP_FRAMES, _SPEC_N, _SPEC_CHUNK).sum(axis=2)
    cr = cs @ cb.T
    ci = cs @ sb.T
    eraw = cr * cr + ci * ci              # (FRAMES, BINS) exact int64
    e = [sum(int(eraw[f, b]) for f in range(_FP_FRAMES))
         for b in range(_SPEC_BINS)]      # per-bin totals, big-int
    total = sum(e)
    if total == 0:
        return 0.0, 0, 0
    if total > 2**63 - 1:
        raise ValueError("total_energy exceeds int64 output envelope")
    centroid = float(sum((b + 1) * e[b] for b in range(_SPEC_BINS))
                     / total)
    cum = 0
    rolloff = _SPEC_BINS
    for b in range(_SPEC_BINS):
        cum += e[b]
        if 20 * cum >= 17 * total:
            rolloff = b + 1
            break
    return centroid, rolloff, total


def extract_audio_spectral_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """(id, spectral_centroid, rolloff_bin, total_energy) over WAV
    blobs — map-only Arrow kernel; undecodable inputs quarantine."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("spectral_centroid", T.DoubleType()),
        T.StructField("rolloff_bin", T.LongType()),
        T.StructField("total_energy", T.LongType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cen, rol, tot = [], [], []
            for blob in pdf[blob_col]:
                try:
                    _rate, _ch, samples = decode_wav(bytes(blob))
                    c, r, t = audio_spectral_features(samples[:, 0])
                    cen.append(c); rol.append(r); tot.append(t)
                except (ValueError, IndexError):
                    cen.append(None); rol.append(None); tot.append(None)
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "spectral_centroid": pd.Series(cen, dtype="float64"),
                "rolloff_bin": pd.Series(rol, dtype="Int64"),
                "total_energy": pd.Series(tot, dtype="Int64"),
            })

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def image_sharpness(gray) -> tuple:
    """Grayscale pixels -> (n_interior, lap_sum, lap_var): the
    4-neighbor integer Laplacian over interior pixels, and its
    variance — the classic blur/sharpness signal (low variance = flat
    or blurred content). All-integer sums; the variance is
    (n*sum(L^2) - sum(L)^2) / n^2 evaluated from exact ints, so the
    oracle replays it bit-for-bit."""
    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    lap = (4 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1]
           - g[1:-1, :-2] - g[1:-1, 2:])
    n = int(lap.size)
    if n == 0:
        return 0, 0, None
    s = int(lap.sum())
    q = int((lap * lap).sum())
    return n, s, float(q * n - s * s) / (n * n)


def extract_image_sharpness(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """(id, n_interior, lap_sum, lap_var) over BMP blobs (channel 0 of
    the decode) — map-only Arrow kernel; undecodable inputs
    quarantine."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("n_interior", T.LongType()),
        T.StructField("lap_sum", T.LongType()),
        T.StructField("lap_var", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ns, ss, vs = [], [], []
            for blob in pdf[blob_col]:
                try:
                    px = decode_bmp(bytes(blob))
                    n, s, v = image_sharpness(px[:, :, 0])
                    ns.append(n); ss.append(s); vs.append(v)
                except (ValueError, TypeError):
                    ns.append(None); ss.append(None); vs.append(None)
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "n_interior": pd.Series(ns, dtype="Int64"),
                "lap_sum": pd.Series(ss, dtype="Int64"),
                "lap_var": pd.Series(vs, dtype="float64"),
            })

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def synthesize_tone_wavs(
    df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """16-frame WAV fixtures for the audio queries: item i plays
    the waveform of its GROUP i % 8 — sample k is
    (1 + i % 3) * (((i % 8) * 37 + k * 101) % 4001 - 2000) — so items
    sharing a group are re-levelled copies (per-item gain 1-3x);
    encoded through the real PCM16 writer."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])
    n = _FP_FRAMES * _FP_FRAME

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        k = np.arange(n)
        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                g = int(i) % 8
                base = ((g * 37 + k * 101) % 4001) - 2000
                blobs.append(encode_wav((1 + int(i) % 3) * base))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


def synthesize_pattern_bmps(
    df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """32x32 grayscale cosine-pattern BMPs (lossless, via the real BMP
    writer): item i superposes three DCT basis modes selected by its
    PATTERN KEY i % 16 — so items sharing a key are near-duplicates
    (amplitudes carry a small per-item jitter that moves pixels) — at
    amplitudes (40 + i % 3, 25, 15) around mid-gray. No clipping
    occurs (128 +- 83), so the pixels are the closed form the SQL
    oracle reproduces."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        x = np.arange(32)[None, :]
        y = np.arange(32)[:, None]

        def mode(u, v):
            return (np.cos((2 * x + 1) * u * np.pi / 64.0)
                    * np.cos((2 * y + 1) * v * np.pi / 64.0))

        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                p = int(i) % 16
                img = (128.0
                       + (40 + int(i) % 3) * mode(p % 7 + 1, p % 5 + 1)
                       + 25 * mode(p % 6 + 1, p % 4 + 2)
                       + 15 * mode(p % 5 + 2, p % 3 + 3))
                g = np.clip(np.floor(img + 0.5), 0, 255).astype(np.uint8)
                blobs.append(encode_bmp(np.stack([g, g, g], axis=-1)))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# VIDEO: MJPEG-in-AVI (functions/avi.py) — container walk + frame
# SAMPLING + per-frame decode through the real JPEG codec. Sampling
# first means unsampled frame payloads are never entropy-decoded (the
# cheap path that makes video feature extraction tractable at corpus
# scale).
# ---------------------------------------------------------------------------

def extract_video_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
    sample_every: int = 2,
) -> DataFrame:
    """Per-video metadata + mean luma over every ``sample_every``-th
    frame (decoded with the baseline JPEG codec). Undecodable
    containers or frames quarantine with ``decoded`` = FALSE."""
    from ..functions.avi import decode_avi
    from ..functions.jpeg import decode_jpeg

    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_sampled", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("decoded", "width", "height", "fps",
                                   "n_frames", "n_sampled", "mean_luma")}
            for blob in pdf[blob_col]:
                try:
                    v = decode_avi(bytes(blob) if blob is not None
                                   else None)
                    sampled = v["frames"][::sample_every]
                    total = 0.0
                    npix = 0
                    for fr in sampled:
                        px = decode_jpeg(fr)
                        total += float(px.mean())
                        npix += 1
                    out["decoded"].append(True)
                    out["width"].append(v["width"])
                    out["height"].append(v["height"])
                    out["fps"].append(v["fps"])
                    out["n_frames"].append(v["n_frames"])
                    out["n_sampled"].append(len(sampled))
                    out["mean_luma"].append(
                        total / npix if npix else None)
                except (ValueError, TypeError, IndexError, KeyError):
                    out["decoded"].append(False)
                    for c in ("width", "height", "fps", "n_frames",
                              "n_sampled", "mean_luma"):
                        out[c].append(None)
            pdf_out = pd.DataFrame(
                {"media_id": pdf[id_col].astype("int64"), **out})
            for c in ("width", "height", "fps"):
                pdf_out[c] = pdf_out[c].astype("Int32")
            for c in ("n_frames", "n_sampled"):
                pdf_out[c] = pdf_out[c].astype("Int64")
            yield pdf_out

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def synthesize_avis(
    df: DataFrame,
    id_col: str = "media_id",
    n_frames: int = 6,
    fps: int = 10,
) -> DataFrame:
    """Deterministic MJPEG AVIs: frame f of item i is a 16x16 gray
    image of four 8x8 blocks valued (i*7 + f*11 + b*37) % 200 + 28,
    encoded at JPEG quality 100 (bit-exact regime) and wrapped in the
    real AVI container — so the oracle can average the closed form."""
    from ..functions.avi import encode_avi
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
                frames = []
                for f in range(n_frames):
                    img = np.zeros((16, 16), dtype=np.uint8)
                    for b in range(4):
                        bj, bi = divmod(b, 2)
                        img[bj * 8:(bj + 1) * 8, bi * 8:(bi + 1) * 8] = \
                            (i * 7 + f * 11 + b * 37) % 200 + 28
                    frames.append(encode_jpeg(img, quality=100))
                blobs.append(encode_avi(frames, 16, 16, fps))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


def synthesize_gifs(
    df: DataFrame,
    id_col: str = "media_id",
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Deterministic GIF fixtures: palette index of pixel (r, c) of
    item ``i`` is (i*7 + r*16 + c) % 256 against the fixed palette
    (functions/gif._palette: entry j -> ((j*3+13)%256, (j*5+29)%256,
    (j*7+43)%256)) — a closed form the oracle maps without parsing.
    Encoded through the REAL writer (LZW, sub-blocks) so the decode
    path runs on genuine GIF bytes."""
    from ..functions.gif import encode_gif

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        r = np.arange(height)[:, None]
        c = np.arange(width)[None, :]
        for pdf in it:
            blobs = []
            for i in pdf[id_col].astype("int64"):
                idx = ((int(i) * 7 + r * 16 + c) % 256).astype("uint8")
                blobs.append(encode_gif(idx.tobytes(), width, height))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "content": blobs})

    return _spread_ids(df, id_col).mapInPandas(batches, schema)


def extract_gif_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "content",
) -> DataFrame:
    """Real GIF decode (header, global color table, LZW inflation,
    palette mapping), Arrow-batched: width/height + per-channel means.
    Undecodable blobs yield NULLs + decoded=false."""
    from ..functions.gif import decode_gif

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
            out = {"media_id": pdf[id_col].astype("int64"),
                   "decoded": [], "width": [], "height": [],
                   "mean_r": [], "mean_g": [], "mean_b": []}
            for blob in pdf[blob_col]:
                try:
                    px = decode_gif(bytes(blob))
                    means = px.reshape(-1, 3).mean(axis=0)
                    out["decoded"].append(True)
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
                except Exception:
                    out["decoded"].append(False)
                    for k in ("width", "height", "mean_r", "mean_g",
                              "mean_b"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema)
