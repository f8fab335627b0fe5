"""Baseline JPEG codec (stdlib struct + numpy — no libjpeg).

The image format web corpora are mostly made of. Scope is 8-bit
sequential DCT with Huffman coding (SOF0 baseline, SOF1 extended):

- markers: SOI/APPn/COM (skipped), DQT (8- and 16-bit tables), SOF0,
  SOF1, DHT, DRI + RST0-7 restarts, SOS, EOI;
- 8-bit samples, grayscale or YCbCr with 4:4:4 / 4:2:2 / 4:2:0
  sampling (nearest-neighbor chroma upsampling, the libjpeg "fancy
  upsampling off" behavior);
- progressive (SOF2), 12-bit precision, arithmetic coding (SOF9-11),
  lossless, and hierarchical modes raise ValueError loudly — such
  inputs quarantine at the feature-extraction layer, never produce
  garbage pixels.

Entropy decoding is a per-symbol Python loop (Huffman is inherently
sequential); dequantization and the IDCT are vectorized numpy over
all blocks at once, so the codec is practical for feature extraction
at thumbnail-to-photo sizes inside the Arrow-batched mapInPandas
kernels. The encoder (for fixtures and round-trip tests) writes
baseline 4:4:4 or grayscale with legal fixed-length canonical Huffman
tables (DC: 12 symbols @ 4 bits, AC: 256 @ 9 bits — valid by Kraft,
deliberately simple) and Annex-K quantization tables scaled by the
usual quality curve; quality 100 scales every divisor to 1, making
block-constant grayscale images round-trip bit-exact (the property
the differential oracle pins).
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.1 example quantization tables (natural order).
_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)


def _zigzag_order():
    """Zigzag index -> natural (raster) index, generated from the
    diagonal walk rather than a memorized table."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag = diag[::-1]
        order += diag
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZZ = _zigzag_order()

# orthonormal 8-point DCT-II basis: pixels = A.T @ coeffs @ A
_A = np.array([
    [(np.sqrt(0.5) if u == 0 else 1.0) / 2.0
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255)


class _HuffTable:
    """16-bit peek LUT (the libjpeg HUFF_LOOKAHEAD strategy, taken to
    the full code width): every code of length L owns the 2^(16-L)
    16-bit keys that extend it, so decoding one symbol is ONE list
    index instead of up-to-16 per-bit probes. Prefix-freeness means
    the pad/extension bits never change which symbol resolves."""

    __slots__ = ("lens", "syms")

    def __init__(self, bits, symbols):
        # numpy scalar-broadcast fills (no temp lists), one tolist()
        # each: list indexing beats numpy scalar indexing in the
        # per-symbol decode loop
        lens = np.zeros(65536, dtype=np.int32)
        syms = np.zeros(65536, dtype=np.int32)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                start = code << (16 - length)
                end = (code + 1) << (16 - length)
                lens[start:end] = length
                syms[start:end] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        self.lens = lens.tolist()
        self.syms = syms.tolist()


# Keyed by the canonical (bits, symbols) description: web corpora
# overwhelmingly ship the Annex K example tables (and the fixture
# encoder always does), so across a mapInPandas batch of images the
# LUT builds amortize to zero instead of costing 2x64k fills per DHT
# per image — decisive for thumbnail-sized inputs.
_HUFF_CACHE: dict = {}


def _build_huffman(bits, symbols) -> _HuffTable:
    """Peek-LUT table from the canonical (bits, symbols) description,
    cached per distinct table."""
    key = (bytes(bits), bytes(symbols))
    t = _HUFF_CACHE.get(key)
    if t is None:
        if len(_HUFF_CACHE) >= 64:  # bound worker-resident memory
            _HUFF_CACHE.clear()
        t = _HuffTable(bits, symbols)
        _HUFF_CACHE[key] = t
    return t


class _BitReader:
    """MSB-first cursor over de-stuffed entropy bytes: the padded
    buffer, the bit position and the real bit count that the inlined
    scan loop reads. Symbol reads that *start* past the end of the
    real data raise loudly, and magnitude receives additionally check
    their full extent (start + n) — a receive is not prefix-free, so
    one extending into the padding would fabricate a coefficient. A
    final symbol's CODE may extend into the zero padding, which is
    safe because prefix-free codes resolve on their own bits."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        # 5 pad bytes: the widest inlined window is 5 bytes (symbol
        # peek + magnitude receive from one int.from_bytes)
        self.data = data + b"\x00\x00\x00\x00\x00"
        self.pos = 0  # bit position
        self.nbits = len(data) * 8


def _destuff(blob: bytes, pos: int):
    """Entropy bytes from ``pos`` to the next true marker: 0xFF00
    un-stuffed, RST0-7 markers dropped (restart boundaries are
    recovered by interval counting + byte alignment). Returns
    (data bytes, position of the terminating marker's 0xFF)."""
    data = bytearray()
    i = pos
    n = len(blob)
    while i < n:
        j = blob.find(b"\xff", i)  # bulk-copy between markers: the
        if j == -1:                # per-byte append was 30% of decode
            data += blob[i:]
            i = n
            break
        data += blob[i:j]
        nxt = blob[j + 1] if j + 1 < n else 0xD9
        if nxt == 0x00:
            data += b"\xff"
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            i = j + 2
        else:
            i = j
            break
    return bytes(data), i


def _decode_baseline_scan(frame, order, ri, data) -> None:
    """Baseline entropy decode, fully inlined: the bit cursor lives in
    locals and each coefficient costs ONE 5-byte ``int.from_bytes``
    window serving both the 16-bit symbol peek and the magnitude
    receive — no per-coefficient method calls. This is the documented
    throughput bound of the codec (module docstring), so the hot loop
    trades abstraction for ~4x over per-read method calls."""
    br = _BitReader(data)
    buf, nbits = br.data, br.nbits
    preds = {c["id"]: 0 for c in order}

    def block(c, idx):
        p = br.pos
        if p >= nbits:
            raise ValueError("JPEG entropy data exhausted")
        dlens, dsyms = c["hdc"].lens, c["hdc"].syms
        alens, asyms = c["hac"].lens, c["hac"].syms
        blk = [0] * 64
        b = p >> 3
        chunk = int.from_bytes(buf[b:b + 5], "big")
        off = 40 - (p & 7)
        key = (chunk >> (off - 16)) & 0xFFFF
        t = dlens[key]
        if t == 0:
            raise ValueError("invalid JPEG Huffman code")
        cat = dsyms[key]
        p += t
        if cat:
            if p + cat > nbits:  # receive is not prefix-free
                raise ValueError("JPEG entropy data exhausted")
            v = (chunk >> (off - t - cat)) & ((1 << cat) - 1)
            p += cat
            preds[c["id"]] += (v if v >= (1 << (cat - 1))
                               else v - (1 << cat) + 1)
        blk[0] = preds[c["id"]]
        k = 1
        while k < 64:
            if p >= nbits:
                raise ValueError("JPEG entropy data exhausted")
            b = p >> 3
            chunk = int.from_bytes(buf[b:b + 5], "big")
            off = 40 - (p & 7)
            key = (chunk >> (off - 16)) & 0xFFFF
            length = alens[key]
            if length == 0:
                raise ValueError("invalid JPEG Huffman code")
            rs = asyms[key]
            p += length
            s = rs & 0x0F
            if s == 0:
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += rs >> 4
            if k > 63:
                raise ValueError("AC run past block end")
            if p + s > nbits:  # receive is not prefix-free
                raise ValueError("JPEG entropy data exhausted")
            v = (chunk >> (off - length - s)) & ((1 << s) - 1)
            p += s
            blk[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            k += 1
        br.pos = p
        c["coef"][idx] = blk  # one bulk row store per block

    def restart(unit_index):
        if ri and unit_index and unit_index % ri == 0:
            br.pos = (br.pos + 7) // 8 * 8
            for cid in preds:
                preds[cid] = 0

    if len(order) > 1:  # interleaved MCU walk
        unit = 0
        for my in range(frame["mcus_y"]):
            for mx in range(frame["mcus_x"]):
                restart(unit)
                unit += 1
                for c in order:
                    bx, cv, chh = c["bx"], c["v"], c["h"]
                    for vy in range(cv):
                        for vx in range(chh):
                            block(c, (my * cv + vy) * bx + mx * chh + vx)
        return
    # single-component scan: the MCU is one block over the component's
    # own ceil(comp_w/8) x ceil(comp_h/8) grid (F.2.3)
    c = order[0]
    comp_w = -(-frame["w"] * c["h"] // frame["hmax"])
    comp_h = -(-frame["h"] * c["v"] // frame["vmax"])
    cw, ch = -(-comp_w // 8), -(-comp_h // 8)
    unit = 0
    for row in range(ch):
        for col in range(cw):
            restart(unit)
            unit += 1
            block(c, row * c["bx"] + col)


def decode_jpeg(blob: bytes) -> np.ndarray:
    """8-bit sequential Huffman JPEG bytes -> (h, w, 3) RGB uint8."""
    if blob is None or len(blob) < 4 or blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables = {}
    huff_dc = {}
    huff_ac = {}
    frame = None
    restart_interval = 0
    scans_done = 0
    while pos + 1 < len(blob):
        if blob[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", blob, pos)
        seg = blob[pos + 2:pos + seg_len]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                if pq == 0:
                    qtables[tq] = np.frombuffer(
                        seg, np.uint8, 64, off).astype(np.int64)
                    off += 64
                else:
                    qtables[tq] = np.frombuffer(
                        seg, ">u2", 64, off).astype(np.int64)
                    off += 128
        elif marker in (0xC0, 0xC1):  # SOF0 baseline, SOF1 extended
            precision = seg[0]
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            h, w = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for c in comps:
                c["bx"] = mcus_x * c["h"]
                c["by"] = mcus_y * c["v"]
                c["coef"] = np.zeros((c["by"] * c["bx"], 64),
                                     dtype=np.int64)
            frame = {"h": h, "w": w, "comps": comps, "hmax": hmax,
                     "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (SOF marker 0x{marker:02X}; "
                "sequential Huffman only)")
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1:off + 17])
                n = sum(bits)
                symbols = list(seg[off + 17:off + 17 + n])
                table = _build_huffman(bits, symbols)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                off += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            by_id = {c["id"]: c for c in frame["comps"]}
            order = []
            for ci in range(ns):
                cs, tables = seg[1 + 2 * ci], seg[2 + 2 * ci]
                c = by_id[cs]
                if tables >> 4 in huff_dc:
                    c["hdc"] = huff_dc[tables >> 4]
                if tables & 0x0F in huff_ac:
                    c["hac"] = huff_ac[tables & 0x0F]
                order.append(c)
            data, nxt = _destuff(blob, pos + seg_len)
            _decode_baseline_scan(frame, order, restart_interval, data)
            scans_done += 1
            pos = nxt
            continue
        pos += seg_len
    if frame is None or scans_done == 0:
        raise ValueError("JPEG missing SOF/SOS")
    comps = frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]

    # dequant + de-zigzag + batch IDCT per component
    planes = []
    for c in comps:
        # the DQT stream stores tables in zigzag order and the entropy
        # decoder fills blocks in zigzag order: dequantize in zigzag
        # space, then scatter to natural order via _ZZ
        q = qtables[c["tq"]]
        coefs = c["coef"] * q[None, :]
        nat = np.zeros_like(coefs)
        nat[:, _ZZ] = coefs
        blocks = nat.reshape(-1, 8, 8).astype(np.float64)
        pix = np.einsum("ux,nuv,vy->nxy", _A, blocks, _A)
        pix = np.clip(np.round(pix + 128.0), 0, 255).astype(np.uint8)
        plane = (pix.reshape(c["by"], c["bx"], 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(c["by"] * 8, c["bx"] * 8))
        # upsample to full resolution (nearest), crop to frame size
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        planes.append(plane[:frame["h"], :frame["w"]])

    if len(planes) == 1:
        y = planes[0].astype(np.float64)
        rgb = np.stack([y, y, y], axis=-1)
    else:
        y = planes[0].astype(np.float64)
        cb = planes[1].astype(np.float64) - 128.0
        cr = planes[2].astype(np.float64) - 128.0
        rgb = np.stack([
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder (fixtures + round-trip tests)
# ---------------------------------------------------------------------------

# deliberately simple LEGAL canonical tables: DC = 12 symbols @ 4 bits
# (Kraft 12/16), AC = 255 symbols @ 9 bits + 1 @ 10 (a DHT length
# count is one byte, so 256-at-one-length is unencodable)
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_SYMS = list(range(12))
_ENC_AC_BITS = [0] * 8 + [255, 1] + [0] * 6
_ENC_AC_SYMS = list(range(256))


def _enc_codes(bits, symbols):
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _enc_codes(_ENC_DC_BITS, _ENC_DC_SYMS)
_AC_CODES = _enc_codes(_ENC_AC_BITS, _ENC_AC_SYMS)

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nacc += length
        while self.nacc >= 8:
            self.nacc -= 8
            byte = (self.acc >> self.nacc) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing

    def flush(self) -> bytes:
        if self.nacc:
            pad = 8 - self.nacc
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int) -> int:
    dc = int(zz[0])
    diff = dc - pred
    mag = abs(diff)
    t = mag.bit_length()
    if t >= len(_DC_CODES):
        raise ValueError("DC difference exceeds Huffman category range")
    bw.put(*_DC_CODES[t])
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*_AC_CODES[0xF0])  # ZRL
            run -= 16
        mag = abs(v)
        ssss = mag.bit_length()
        if ssss > 15:
            raise ValueError(
                "AC coefficient exceeds Huffman category range")
        bw.put(*_AC_CODES[(run << 4) | ssss])
        bw.put(v if v >= 0 else v + (1 << ssss) - 1, ssss)
        run = 0
    if last < 63:
        bw.put(*_AC_CODES[0x00])  # EOB
    return dc


def _plane_blocks(plane, q, bx, by):
    """Pad to (by*8, bx*8), level-shift, forward DCT + quantize,
    -> (by*bx, 64) zigzag-ordered quantized coefficients."""
    h, w = plane.shape
    padded = np.pad(plane, ((0, by * 8 - h), (0, bx * 8 - w)),
                    mode="edge") - 128.0
    blocks = (padded.reshape(by, 8, bx, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
    coefs = np.einsum("ux,nxy,vy->nuv", _A, blocks, _A)
    return np.round(coefs.reshape(-1, 64)[:, _ZZ]
                    / q[_ZZ][None, :]).astype(np.int64)


def encode_jpeg(pixels, quality: int = 90,
                subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> baseline JPEG bytes.
    ``subsampling``: '444' or '420' (2x2-mean chroma downsample).
    Quality 100 gives all-ones quantization, so MCU-constant grayscale
    content round-trips bit-exact."""
    # color convert, subsample, forward DCT + quantize
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
        factors = [(1, 1)]
    else:
        r = px[:, :, 0].astype(np.float64)
        g = px[:, :, 1].astype(np.float64)
        b = px[:, :, 2].astype(np.float64)
        y = np.round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
        cr = np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        planes = [np.clip(p, 0, 255) for p in (y, cb, cr)]
        if subsampling == "420":
            factors = [(2, 2), (1, 1), (1, 1)]
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            sub = []
            for p in planes[1:]:
                pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                sub.append(np.round(
                    pp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))))
            planes = [planes[0]] + sub
        elif subsampling == "444":
            factors = [(1, 1)] * 3
        else:
            raise ValueError(f"unsupported subsampling {subsampling}")
    qlum = _scaled_qt(_QT_LUM, quality)
    qchr = _scaled_qt(_QT_CHR, quality)
    qts = [qlum] + ([] if gray else [qchr, qchr])

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zz_planes = []
    dims = []
    for plane, q, (fh, fv) in zip(planes, qts, factors):
        bx, by = mcus_x * fh, mcus_y * fv
        zz_planes.append(_plane_blocks(plane, q, bx, by))
        dims.append((bx, by))
    ncomp = len(zz_planes)

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    seg(0xDB, bytes([0]) + bytes(qlum[_ZZ].astype(np.uint8)))
    if not gray:
        seg(0xDB, bytes([1]) + bytes(qchr[_ZZ].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        fh, fv = factors[cid - 1]
        sof += bytes([cid, (fh << 4) | fv, 0 if cid == 1 else 1])
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00] + _ENC_DC_BITS) + bytes(_ENC_DC_SYMS))
    seg(0xC4, bytes([0x10] + _ENC_AC_BITS) + bytes(_ENC_AC_SYMS))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    bw = _BitWriter()
    preds = [0] * ncomp
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                out.extend(bw.flush())
                out.extend(bytes([
                    0xFF, 0xD0 + (mcu_count // restart_interval - 1) % 8]))
                bw = _BitWriter()
                preds = [0] * ncomp
            mcu_count += 1
            for ci in range(ncomp):
                fh, fv = factors[ci]
                bx = dims[ci][0]
                for vy in range(fv):
                    for vx in range(fh):
                        n = (my * fv + vy) * bx + (mx * fh + vx)
                        preds[ci] = _encode_block(
                            bw, zz_planes[ci][n], preds[ci])
    out.extend(bw.flush())
    out.extend(b"\xff\xd9")
    return bytes(out)
