"""Baseline JPEG (ITU-T T.81 / JFIF), stdlib + numpy only.

A LAION-style multimodal pipeline ingests JPEG, and this container has
no PIL/libjpeg — so, like the stdlib PNG codec shipped in round 9,
this is a from-scratch baseline-sequential implementation of the
PUBLIC spec (ITU-T Recommendation T.81, 1992; JFIF 1.02), registered
as ``image/jpeg`` in the codec registry. Deployments with libjpeg
register that instead (llm/multimodal.py registry docs) — the Spark
plumbing is identical either way.

Encoder (``encode_jpeg``): RGB → JFIF YCbCr (BT.601 full-range), 4:4:4
(no subsampling), 8×8 forward DCT-II (exact float64 matrix form),
Annex-K quantization tables scaled by the libjpeg quality formula,
zigzag + DC-differential + the Annex-K "typical" Huffman tables,
byte-stuffed entropy stream; markers SOI/APP0/DQT/SOF0/DHT/SOS/EOI.

Decoder (``decode_jpeg``): baseline sequential (SOF0/SOF1) AND
progressive (SOF2, r11 — spectral selection + successive
approximation per T.81 Annex G, DC/AC first and refinement scans,
EOB runs, per-scan DHT redefinition, restart markers) with arbitrary
per-component sampling factors up to 2×2 (4:4:4 / 4:2:2 / 4:2:0),
multi-table DQT/DHT segments, grayscale and 3-component scans;
Huffman decode → dequantize → de-zigzag → IDCT → chroma upsample
(replication) → YCbCr → RGB, clipped to uint8. Arithmetic coding,
hierarchical/lossless SOFs, and 12-bit precision raise with the
unsupported parameter named.

A progressive ENCODER (``encode_jpeg_progressive``) ships too — not
because ingest needs it, but because it gives the decoder a hard
oracle: progressive is a lossless re-arrangement of coefficient
transmission, so decode(progressive) must equal decode(baseline)
PIXEL-FOR-PIXEL for any scan script over the same quantized
coefficients. That oracle caught a latent baseline bug on arrival
(dequantization mixed zigzag/raster table order, r11).

Determinism: every stage is integer or float64 matrix math with a
fixed operation order — identical bytes in, identical pixels out, on
every run and partitioning (pinned by fixture-hash tests). JPEG is
lossy, so "round-trip" evidence is decode-after-encode closeness plus
bit-exact stability, not PNG-style identity.
"""

from __future__ import annotations

import functools
import struct

# --------------------------------------------------------------- tables
# ITU-T T.81 Annex K.1 — example quantization tables (the de-facto
# standard ones every encoder ships).

QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Zigzag scan order (T.81 Figure 5): index i of the scan → raster index.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# T.81 Annex K.3 — "typical" Huffman tables as (BITS[1..16], HUFFVAL).
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


@functools.cache
def _dct_matrix():
    """The 8×8 orthonormal DCT-II basis C: DCT = C @ X @ C.T,
    IDCT = C.T @ Y @ C (T.81 A.3.3 in exact float64 matrix form)."""
    import numpy as np

    k = np.arange(8)
    C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    C[0, :] /= np.sqrt(2)
    C.flags.writeable = False  # cached: every caller shares this array
    return C


def _quality_scaled(table, quality: int):
    """libjpeg's public quality → table scaling (jcparam.c formula):
    scale = 5000/q below 50 else 200 − 2q; entries clipped to 1..255
    (baseline 8-bit)."""
    import numpy as np

    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1-100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (np.asarray(table, dtype=np.int64) * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


def _canonical_codes(bits, vals):
    """(BITS, HUFFVAL) → {value: (code, length)} per T.81 C.2 (canonical
    code assignment: counts per length, codes increase left-to-right)."""
    codes = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# The standard tables and the DCT basis are fixed constants — building
# them per image dominated small-image encode/decode cost (measured
# ~2.4 ms/image before memoization on the mm_jpeg_roundtrip path), so
# each builder below is cached per process.


@functools.cache
def _std_enc_tables():
    return (
        [_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
         _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)],
        [_canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS),
         _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)],
    )


@functools.cache
def _zz_index():
    import numpy as np

    zz = np.asarray(ZIGZAG)
    zz.flags.writeable = False
    return zz


@functools.cache
def _quality_tables(quality: int):
    """quality → (scaled [luma, chroma] tables, their DQT segment bytes)
    — cached: tiny-image encode paid these per call (the DQT bytes
    alone were 128 int() conversions per image on the MJPEG mux path)."""
    qt = [_quality_scaled(QUANT_LUMA, quality),
          _quality_scaled(QUANT_CHROMA, quality)]
    for t in qt:
        t.flags.writeable = False
    segs = []
    for t in range(2):
        segs.append(
            b"\xff\xdb" + struct.pack(">H", 67) + bytes([t])
            + bytes(int(qt[t][z]) for z in ZIGZAG)
        )
    return qt, segs


@functools.cache
def _std_dht_segments(gray: bool) -> bytes:
    """The Annex-K DHT marker segments (constant bytes)."""
    tables = [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
              (0x10, AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        tables += [(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
                   (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)]
    out = bytearray()
    for tc, bits, vals in tables:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc])
        out += bytes(bits) + bytes(vals)
    return bytes(out)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def _magnitude(v: int):
    """DC/AC coefficient → (category bit-length, appended bits) per
    T.81 F.1.2.1 (negative values use the ones'-complement trick)."""
    if v == 0:
        return 0, 0
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _quantized_blocks(plane, qtable, C, zz):
    """Pad a component plane to 8-multiples (edge replication), DCT,
    quantize — → int64 array (by, bx, 64) in zigzag order."""
    import numpy as np

    h, w = plane.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    by, bx = ph // 8, pw // 8
    if ph == h and pw == w:  # aligned: skip np.pad's fixed overhead
        p = plane - 128.0
    else:
        p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge") - 128.0
    blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
    # 2-D DCT as two BLAS GEMMs: contract y (blocks @ C.T), then x
    # (C @ ·). Contracts the same axes as the previous 3-operand
    # einsum but ~20x faster at bench block counts (einsum's naive
    # single-pass loop costs N*8^4 MACs with no BLAS; measured 157 us
    # vs 6 us for 16 blocks). Summation ORDER differs, so results can
    # drift by ~1e-13 — which may flip round() on an exact .5
    # quantize boundary for structured inputs. Every registered JPEG
    # query is invariant to that (block-constant fixtures: DC-only
    # streams with dequant error < 0.5 regardless of which side of
    # the boundary the quantizer lands; see mm_jpeg_roundtrip); the
    # committed pinned-fixture image hits no boundary (pins unchanged)
    # and the analytic/closeness/self-oracle suites re-proved green.
    t = (blocks.reshape(-1, 8) @ C.T).reshape(by, bx, 8, 8)
    d = np.matmul(C, t)
    q = np.round(d / qtable.reshape(8, 8)).astype(np.int64)
    return q.reshape(by, bx, 64)[:, :, zz]


def _emit_block(bw, dc, acs, pred, dc_codes, ac_codes):
    """Huffman-encode one zigzag block. ``dc`` is the block's DC value
    (python int); ``acs`` its nonzero AC coefficients as a list of
    (zigzag index, value) pairs — extracted once per plane, vectorized,
    by :func:`_plane_emit_lists`, so this loop touches only actual
    symbols instead of scanning all 63 AC slots per block. Returns the
    new DC predictor."""
    s, bits = _magnitude(dc - pred)
    code, length = dc_codes[s]
    bw.write(code, length)
    if s:
        bw.write(bits, s)
    prev = 0
    for k, v in acs:
        run = k - prev - 1
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | s]
        bw.write(code, length)
        bw.write(bits, s)
        prev = k
    if prev < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return dc


def _plane_emit_lists(q):
    """(by, bx, 64) zigzag coefficients → (dc values as nested python
    int lists, per-block [(k, v), ...] nonzero-AC lists) — the one
    vectorized pass that lets :func:`_emit_block` skip zero runs."""
    import numpy as np

    by, bx = q.shape[:2]
    dc = q[:, :, 0].tolist()
    nzy, nzx, nzk = np.nonzero(q[:, :, 1:])
    acs = [[] for _ in range(by * bx)]
    for b, k, v in zip(
        (nzy * bx + nzx).tolist(),
        (nzk + 1).tolist(),
        q[nzy, nzx, nzk + 1].tolist(),
    ):
        acs[b].append((k, v))
    return dc, acs


def _encode_preamble(arr, quality: int, subsampling: str):
    """Shared encode front half: RGB→YCbCr, optional 4:2:0 subsample,
    DCT + quantize, MCU-grid extension. Returns
    (gray, samp, qt, coeffs, h, w, mcux, mcuy) — everything both the
    baseline and progressive entropy back-ends need."""
    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2 or arr.shape[2] == 1
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling}")
    if gray:
        planes = [arr.reshape(arr.shape[0], arr.shape[1]).astype(np.float64)]
    else:
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    h, w = planes[0].shape
    sub = subsampling == "420" and not gray
    if sub:
        # pad to even, 2×2 box-average the chroma planes
        ph2, pw2 = (h + 1) // 2 * 2, (w + 1) // 2 * 2
        for i in (1, 2):
            p = planes[i]
            if ph2 != h or pw2 != w:
                p = np.pad(p, ((0, ph2 - h), (0, pw2 - w)), mode="edge")
            planes[i] = p.reshape(ph2 // 2, 2, pw2 // 2, 2).mean(axis=(1, 3))
    samp = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * len(planes)

    qt = _quality_tables(quality)[0]
    C = _dct_matrix()
    zz = _zz_index()

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coeffs = []
    for ci, plane in enumerate(planes):
        t = min(ci, 1)
        ch, cv = samp[ci]
        q = _quantized_blocks(plane, qt[t], C, zz)
        # extend the block grid to full MCU coverage (edge blocks repeat)
        need_by, need_bx = mcuy * cv, mcux * ch
        by, bx = q.shape[:2]
        if by < need_by or bx < need_bx:
            q = q[
                np.minimum(np.arange(need_by), by - 1)[:, None],
                np.minimum(np.arange(need_bx), bx - 1)[None, :],
            ]
        coeffs.append(q)
    return gray, samp, qt, coeffs, h, w, mcux, mcuy


def encode_jpeg(
    arr, quality: int = 85, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """numpy (H, W, 3) uint8 RGB (or (H, W) / (H, W, 1) grayscale) →
    baseline JFIF bytes with the Annex-K Huffman tables.
    ``subsampling``: '444' (default) or '420' (2×2-box-averaged
    chroma, the web's common layout). ``restart_interval`` > 0 emits
    DRI + RSTn markers every that many MCUs (T.81 B.2.4.4) — the
    error-resilience layout real encoders produce, and the decoder
    path tests exercise through this flag."""
    import numpy as np

    gray, samp, qt, coeffs, h, w, mcux, mcuy = _encode_preamble(
        arr, quality, subsampling
    )
    planes = coeffs  # per-component presence; only len() is used below
    dc_codes, ac_codes = _std_enc_tables()
    emit = [_plane_emit_lists(coeffs[ci]) for ci in range(len(planes))]
    widths = [coeffs[ci].shape[1] for ci in range(len(planes))]

    bw = _BitWriter()
    pred = [0] * len(planes)
    parts: list[bytes] = []
    mcu_count, rst_n = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count == restart_interval:
                parts.append(bw.flush())
                parts.append(bytes([0xFF, 0xD0 + rst_n]))
                rst_n = (rst_n + 1) % 8
                bw = _BitWriter()
                pred = [0] * len(planes)
                mcu_count = 0
            for ci in range(len(planes)):
                t = min(ci, 1)
                ch, cv = samp[ci]
                dc, acs = emit[ci]
                for byi in range(cv):
                    for bxi in range(ch):
                        by, bx = my * cv + byi, mx * ch + bxi
                        pred[ci] = _emit_block(
                            bw, dc[by][bx], acs[by * widths[ci] + bx],
                            pred[ci], dc_codes[t], ac_codes[t],
                        )
            mcu_count += 1
    parts.append(bw.flush())
    entropy = b"".join(parts)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + struct.pack(
        ">HH", 1, 1
    ) + b"\x00\x00"  # APP0, 1:1 aspect, no thumbnail
    qt_segs = _quality_tables(quality)[1]
    n_qt = 1 if gray else 2
    for t in range(n_qt):
        out += qt_segs[t]
    ncomp = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        ch, cv = samp[ci]
        out += bytes([ci + 1, (ch << 4) | cv, min(ci, 1)])
    out += _std_dht_segments(gray)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        t = min(ci, 1)
        out += bytes([ci + 1, (t << 4) | t])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0 (baseline)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------- progressive encoder
#
# T.81 Annex G (progressive DCT-based): the SAME quantized coefficients
# as baseline, transmitted across multiple scans by spectral selection
# (band [Ss, Se] per scan) and successive approximation (bit-plane
# splits: first scan sends coefficients at reduced precision Al, later
# Ah→Al scans refine one bit plane at a time). Progressive is a
# LOSSLESS re-arrangement of coefficient transmission, which gives the
# tests a hard oracle: decode(progressive bytes) must equal
# decode(baseline bytes) PIXEL-FOR-PIXEL for any scan script, since
# both end in identical dequantize+IDCT inputs. The encoder exists to
# make that oracle (and driver fixtures) possible without PIL; real
# ingest only needs the decoder.


class _ScanSink:
    """Two-pass scan emission: pass 1 (codes=None) collects the Huffman
    symbol alphabet; pass 2 writes bits with the built table. Keeping
    one code path for both passes is what makes the intricate AC-refine
    ordering (symbols interleaved with buffered correction bits)
    impossible to get out of sync between passes."""

    def __init__(self, codes=None):
        self.codes = codes
        self.symbols: set[int] = set()
        self.bw = _BitWriter() if codes is not None else None

    def sym(self, s: int) -> None:
        if self.codes is None:
            self.symbols.add(s)
        else:
            code, length = self.codes[s]
            self.bw.write(code, length)

    def bits(self, val: int, n: int) -> None:
        if n and self.bw is not None:
            self.bw.write(val, n)


def _flat_table(symbols):
    """Symbol set → (codes, BITS, HUFFVAL) with every code 9 bits long
    (canonical, flat). Suboptimal size but trivially valid: up to 256
    symbols all fit at length 9 without using the all-ones code the
    standard reserves (n ≤ 2^9 − 1). Optimal per-scan tables are an
    encoder-quality matter, not a format one — decoders see a normal
    DHT either way."""
    vals = sorted(symbols)
    if not vals:
        raise ValueError("cannot build a Huffman table with no symbols")
    bits = [0] * 16
    bits[8] = len(vals)  # BITS[9] in 1-based spec numbering
    codes = {v: (i, 9) for i, v in enumerate(vals)}
    return codes, bits, vals


# Default scan script, libjpeg-shaped: DC first at Al=1 (interleaved),
# luma AC split into two spectral bands at Al=2 then refined in two
# steps, chroma AC whole-band at Al=1 then refined, DC refined last.
# Every decoder mode (DC/AC × first/refine) and both progressive
# mechanisms (spectral selection, successive approximation) appear.
_DEFAULT_SCAN_SCRIPT = [
    # (component indices, Ss, Se, Ah, Al)
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((1,), 1, 63, 0, 1),
    ((2,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]
_DEFAULT_SCAN_SCRIPT_GRAY = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def _comp_block_grid(h, w, samp, ci, hmax, vmax):
    """Non-interleaved scan geometry (T.81 A.2.2): the scan covers the
    component's ACTUAL sample area's blocks, not the MCU-padded grid."""
    ch, cv = samp[ci]
    cw = (w * ch + hmax - 1) // hmax
    chh = (h * cv + vmax - 1) // vmax
    return (chh + 7) // 8, (cw + 7) // 8


def _enc_dc_first(sink, dcv, seq):
    """``dcv``: per-component nested lists of Al-shifted DC values —
    extracted once per scan (vectorized ``>> Al`` per G.1.2.1), so the
    per-block work is pure-int."""
    pred: dict[int, int] = {}
    for ci, by, bx in seq:
        v = dcv[ci][by][bx]
        diff = v - pred.get(ci, 0)
        pred[ci] = v
        s, bits = _magnitude(diff)
        sink.sym(s)
        sink.bits(bits, s)


def _enc_dc_refine(sink, dcv, seq):
    for ci, by, bx in seq:
        sink.bits(dcv[ci][by][bx] & 1, 1)


def _flush_eobrun(sink, state):
    n = state["eobrun"]
    if n:
        r = n.bit_length() - 1
        sink.sym(r << 4)
        sink.bits(n - (1 << r), r)
        state["eobrun"] = 0
    for bit in state["be_bits"]:
        sink.bits(bit, 1)
    state["be_bits"] = []


def _enc_ac_first(sink, vals, state):
    """One block of an AC first scan (G.1.2.2): magnitude-shifted
    values, zero runs, EOB-run accumulation across blocks. ``vals`` is
    the block's Al-shifted band as a python int list, or None when the
    whole band is zero at this bit plane — both extracted once per scan
    by a vectorized pass in :func:`encode_jpeg_progressive` (the
    per-block numpy slice/sign/any of the old shape was the progressive
    encoder's hottest line)."""
    if vals is None:  # all-zero band: the dominant case at scale
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _flush_eobrun(sink, state)
        return
    _flush_eobrun(sink, state)
    r = 0
    last_nz = max(i for i, v in enumerate(vals) if v)
    for i, v in enumerate(vals):
        if i > last_nz:
            state["eobrun"] = 1  # trailing zeros → this block ends in EOB
            break
        if v == 0:
            r += 1
            continue
        while r > 15:
            sink.sym(0xF0)  # ZRL
            r -= 16
        s, bits = _magnitude(v)
        sink.sym((r << 4) | s)
        sink.bits(bits, s)
        r = 0


def _enc_ac_refine(sink, absv, negs, eob, state):
    """One block of an AC refinement scan — the G.1.2.3 correction-bit
    algorithm (structured after the public libjpeg jcphuff.c shape):
    already-nonzero coefficients contribute buffered correction bits
    that are emitted AFTER the next Huffman symbol; newly-significant
    coefficients (|c| >> Al == 1) are run-length coded like a first
    scan with a sign bit instead of magnitude bits. ``absv`` (Al-shifted
    magnitudes as int list, None when all-zero), ``negs`` (sign flags)
    and ``eob`` (last newly-significant index, -1 if none) are extracted
    once per scan, vectorized."""
    if absv is None:
        # nothing visible at this bit plane: no history corrections
        # (history ⇒ |c| ≥ 2^(Al+1) ⇒ absv ≥ 2) and nothing newly
        # significant — the whole block is one EOB
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _flush_eobrun(sink, state)
        return
    r = 0
    br: list[int] = []  # correction bits buffered inside this block
    for i, a in enumerate(absv):
        if a == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            _flush_eobrun(sink, state)
            sink.sym(0xF0)
            r -= 16
            for bit in br:
                sink.bits(bit, 1)
            br = []
        if a > 1:
            # history coefficient: just its next magnitude bit
            br.append(a & 1)
            continue
        _flush_eobrun(sink, state)
        sink.sym((r << 4) | 1)
        sink.bits(0 if negs[i] else 1, 1)
        for bit in br:
            sink.bits(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        state["eobrun"] += 1
        # NOTE: read be_bits through state (never a stale local ref —
        # _flush_eobrun swaps the list out mid-block on the ZRL path)
        state["be_bits"].extend(br)
        # force out the EOB run before the buffers can overflow
        if state["eobrun"] == 0x7FFF or len(state["be_bits"]) > 937:
            _flush_eobrun(sink, state)


def encode_jpeg_progressive(
    arr, quality: int = 85, subsampling: str = "444", scan_script=None
) -> bytes:
    """numpy RGB/grayscale → progressive JFIF bytes (SOF2).

    Same front half as :func:`encode_jpeg` (identical quantized
    coefficients), entropy-coded across ``scan_script`` — a list of
    ``(component_indices, Ss, Se, Ah, Al)`` tuples, default the
    libjpeg-shaped ``_DEFAULT_SCAN_SCRIPT``. Per-scan Huffman tables
    are built from the symbols the scan actually uses (two-pass) and
    redefined via DHT before each SOS, which is the normal progressive
    layout. Scan-script constraints enforced per T.81: DC scans may
    interleave components, AC scans are single-component;
    refinements must step one bit plane (Ah == Al + 1)."""
    gray, samp, qt, coeffs, h, w, mcux, mcuy = _encode_preamble(
        arr, quality, subsampling
    )
    ncomp = len(coeffs)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    if scan_script is None:
        scan_script = _DEFAULT_SCAN_SCRIPT_GRAY if gray else _DEFAULT_SCAN_SCRIPT

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + struct.pack(
        ">HH", 1, 1
    ) + b"\x00\x00"
    qt_segs = _quality_tables(quality)[1]
    n_qt = 1 if gray else 2
    for t in range(n_qt):
        out += qt_segs[t]
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        ch, cv = samp[ci]
        out += bytes([ci + 1, (ch << 4) | cv, min(ci, 1)])

    for comps_idx, Ss, Se, Ah, Al in scan_script:
        comps_idx = tuple(c for c in comps_idx if c < ncomp)
        if not comps_idx:
            continue
        is_dc = Ss == 0
        if is_dc and Se != 0:
            raise ValueError("progressive scan may not mix DC and AC (Ss=0 needs Se=0)")
        if not is_dc and len(comps_idx) != 1:
            raise ValueError("AC scans must be non-interleaved (one component)")
        if Ah not in (0, Al + 1):
            raise ValueError(f"refinement must step one bit plane (Ah={Ah}, Al={Al})")

        if is_dc and len(comps_idx) > 1:
            seq = [
                (ci, my * samp[ci][1] + byi, mx * samp[ci][0] + bxi)
                for my in range(mcuy)
                for mx in range(mcux)
                for ci in comps_idx
                for byi in range(samp[ci][1])
                for bxi in range(samp[ci][0])
            ]
        else:
            # Non-interleaved scan (DC or AC): T.81 A.2.2 — the unit
            # sequence is the component's OWN block grid, not the
            # MCU-padded grid; the decoder (_decode_progressive) walks
            # the same grid, so a single-component DC scan over a
            # subsampled non-MCU-aligned image stays in lockstep.
            ci = comps_idx[0]
            cbh, cbw = _comp_block_grid(h, w, samp, ci, hmax, vmax)
            seq = [(ci, by, bx) for by in range(cbh) for bx in range(cbw)]

        # hoist the per-block numpy work (slice, shift, sign, any) into
        # one vectorized pass per scan, shared by both emission passes;
        # the per-block functions then run on plain python ints
        import numpy as np

        if is_dc:
            dcv = {
                sci: (coeffs[sci][:, :, 0] >> Al).tolist()
                for sci in comps_idx
            }
        else:
            band = coeffs[comps_idx[0]][:, :, Ss : Se + 1]
            if Ah == 0:
                shifted = np.sign(band) * (np.abs(band) >> Al)
                nz = shifted.any(axis=2)
                sh_list = shifted.tolist()
                ac_blocks = {
                    (by, bx): sh_list[by][bx] if nz[by, bx] else None
                    for by, bx in ((b, x) for b in range(band.shape[0])
                                   for x in range(band.shape[1]))
                }
            else:
                band_abs = np.abs(band) >> Al
                nz = band_abs.any(axis=2)
                idx = np.arange(band.shape[2])
                eob_arr = np.where(band_abs == 1, idx, -1).max(axis=2)
                ab_list = band_abs.tolist()
                ng_list = (band < 0).tolist()
                ac_blocks = {
                    (by, bx): (
                        (ab_list[by][bx], ng_list[by][bx], int(eob_arr[by, bx]))
                        if nz[by, bx]
                        else (None, None, -1)
                    )
                    for by, bx in ((b, x) for b in range(band.shape[0])
                                   for x in range(band.shape[1]))
                }

        def run(sink):
            if is_dc and Ah == 0:
                _enc_dc_first(sink, dcv, seq)
            elif is_dc:
                _enc_dc_refine(sink, dcv, seq)
            else:
                state = {"eobrun": 0, "be_bits": []}
                if Ah == 0:
                    for _sci, by, bx in seq:
                        _enc_ac_first(sink, ac_blocks[(by, bx)], state)
                else:
                    for _sci, by, bx in seq:
                        absv, negs, eob = ac_blocks[(by, bx)]
                        _enc_ac_refine(sink, absv, negs, eob, state)
                _flush_eobrun(sink, state)

        probe = _ScanSink()
        run(probe)
        if probe.symbols:
            codes, bits, vals = _flat_table(probe.symbols)
            tc = 0x00 if is_dc else 0x10  # class DC/AC, table id 0
            out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc])
            out += bytes(bits) + bytes(vals)
            sink = _ScanSink(codes)
        else:  # pure-raw-bit scan (DC refine): no Huffman table needed
            sink = _ScanSink({})
        run(sink)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps_idx), len(comps_idx))
        for sci in comps_idx:
            out += bytes([sci + 1, 0x00])  # Td=0, Ta=0 (redefined per scan)
        out += bytes([Ss, Se, (Ah << 4) | Al])
        out += sink.bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# -------------------------------------------------------------- decoder


class _BitReader:
    """MSB-first reader over an entropy-coded segment (already split at
    restart markers; 0xFF00 unstuffing applied lazily here)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed FF
                else:
                    # marker (EOI/next segment): feed 1-padding per spec
                    self.pos = len(self.data)
                    byte = 0xFF
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        while self.nbits < n:  # past the end: spec says pad with 1-bits
            # Loop (not a single pad): a DC category read near a truncated
            # stream's end can demand more than nbits+8 bits; a single pad
            # would drive nbits negative and raise an opaque shift error.
            self.acc = (self.acc << 8) | 0xFF
            self.nbits += 8
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def read_bit(self) -> int:
        return self.read(1)

    def peek16(self) -> int:
        """Next 16 bits without consuming (1-padded past the end, same
        as :meth:`read`) — the fast Huffman decode's lookup key."""
        if self.nbits < 16:
            self._fill()
            while self.nbits < 16:
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
        return (self.acc >> (self.nbits - 16)) & 0xFFFF


# Decode tables are cached by their (BITS, HUFFVAL) bytes. Streams with
# the standard tables share one entry, but an encoder's optimized tables
# differ per image, so the cache is bounded: an entry is two 64 KiB
# LUTs, and 64 of them cap one Python worker at 8 MiB.
DECODE_TABLES_CACHED = 64


@functools.lru_cache(maxsize=DECODE_TABLES_CACHED)
def _decode_tables(bits, vals):
    """(BITS, HUFFVAL) → 16-bit-peek LUT ``(lut_len, lut_sym)``.

    Entry ``i`` covers every bitstream whose next 16 bits equal ``i``:
    ``lut_len[i]`` is the matching code's bit length (0 = no valid code
    — corrupt stream) and ``lut_sym[i]`` its decoded symbol. Huffman
    codes are prefix-free, so a code of length L owns the 2^(16-L)
    entries sharing its prefix. One byte-index per SYMBOL replaces the
    old dict probe per BIT — the decoder's hottest path."""
    if len(vals) < sum(bits):
        raise ValueError("truncated JPEG DHT segment")
    lut_len = bytearray(1 << 16)
    lut_sym = bytearray(1 << 16)
    code, k = 0, 0
    for length in range(1, 17):
        span = 1 << (16 - length)
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            lut_len[lo : lo + span] = bytes([length]) * span
            lut_sym[lo : lo + span] = bytes([vals[k]]) * span
            code += 1
            k += 1
        code <<= 1
    return bytes(lut_len), bytes(lut_sym)


def _read_huff(reader: _BitReader, table) -> int:
    key = reader.peek16()
    length = table[0][key]
    if length == 0:
        raise ValueError("invalid JPEG Huffman code (corrupt entropy stream)")
    reader.nbits -= length
    return table[1][key]


def _extend(bits: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: magnitude bits → signed value."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def decode_jpeg(data: bytes):
    """JFIF bytes (baseline SOF0/SOF1 or progressive SOF2) → numpy
    (H, W, 3) uint8 RGB. See module docstring for supported features;
    arithmetic coding / 12-bit / hierarchical raise with the parameter
    named."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    restart_interval = 0
    scan = None
    scans: list[dict] = []
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG stream (marker without length)")
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seglen]
        if len(seg) < seglen - 2:
            raise ValueError("truncated JPEG stream (short marker segment)")
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise ValueError("unsupported JPEG: 16-bit quant table")
                raster = np.zeros(64, dtype=np.int64)
                raster[_zz_index()] = np.frombuffer(
                    seg, dtype=np.uint8, count=64, offset=i + 1
                ).astype(np.int64)
                qt[tq] = raster
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = tuple(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(seg[i + 17 : i + 17 + n])
                huff[(tc, th)] = _decode_tables(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError(f"unsupported JPEG: {prec}-bit precision")
            progressive = marker == 0xC2
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG: SOF{marker - 0xC0} "
                "(baseline SOF0/SOF1 and progressive SOF2 are implemented)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated JPEG SOS header")
            scan_comps = []
            for ci in range(ns):
                cs, tdta = seg[1 + 2 * ci : 3 + 2 * ci]
                scan_comps.append({"id": cs, "td": tdta >> 4, "ta": tdta & 0xF})
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            # entropy-coded data runs to the next non-RST marker
            start = pos
            while pos < len(data) - 1:
                if data[pos] == 0xFF and data[pos + 1] not in (0x00,) and not (
                    0xD0 <= data[pos + 1] <= 0xD7
                ):
                    break
                pos += 1
            scan = {
                "comps": scan_comps,
                "data": data[start:pos],
                "ss": ss,
                "se": se,
                "ah": ahal >> 4,
                "al": ahal & 0xF,
                # DHT/DRI may be redefined between progressive scans —
                # snapshot what was in effect when this scan started
                "huff": dict(huff),
                "ri": restart_interval,
            }
            if not progressive:
                break
            scans.append(scan)
        # APPn / COM / others: skipped
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    if progressive:
        return _decode_progressive(frame, scans, qt)

    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(1 <= c["h"] <= 2 and 1 <= c["v"] <= 2 for c in comps):
        raise ValueError("unsupported JPEG: sampling factors beyond 2x2")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        # coefficients accumulate here (zigzag order); dequantize + IDCT
        # run ONCE, batched over every block, after the entropy loop
        c["coef"] = np.zeros((c["bh"], c["bw"], 64), dtype=np.int64)
        sc = next(s for s in scan["comps"] if s["id"] == c["id"])
        c["td"], c["ta"] = sc["td"], sc["ta"]
        c["dc_tab"] = huff.get((0, c["td"]))
        c["ac_tab"] = huff.get((1, c["ta"]))
        if c["dc_tab"] is None or c["ac_tab"] is None:
            raise ValueError("JPEG scan references a missing DHT table")
        if qt.get(c["tq"]) is None:
            raise ValueError("JPEG scan references a missing DQT table")

    # split entropy data on restart markers; DC predictors reset per part
    segments = []
    raw = scan["data"]
    if restart_interval:
        part, i = bytearray(), 0
        while i < len(raw):
            if raw[i] == 0xFF and i + 1 < len(raw) and 0xD0 <= raw[i + 1] <= 0xD7:
                segments.append(bytes(part))
                part = bytearray()
                i += 2
            else:
                part.append(raw[i])
                i += 1
        segments.append(bytes(part))
    else:
        segments = [raw]

    seg_idx, mcu_in_seg = 0, 0
    reader = _BitReader(segments[0])
    pred = {c["id"]: 0 for c in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_in_seg == restart_interval:
                seg_idx += 1
                reader = _BitReader(segments[seg_idx])
                pred = {c["id"]: 0 for c in comps}
                mcu_in_seg = 0
            for c in comps:
                dc_tab, ac_tab = c["dc_tab"], c["ac_tab"]
                cid = c["id"]
                for byi in range(c["v"]):
                    for bxi in range(c["h"]):
                        coeff = c["coef"][my * c["v"] + byi, mx * c["h"] + bxi]
                        s = _read_huff(reader, dc_tab)
                        pred[cid] += _extend(reader.read(s), s)
                        coeff[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _read_huff(reader, ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            coeff[k] = _extend(reader.read(s), s)
                            k += 1
            mcu_in_seg += 1

    _idct_planes(comps, qt)
    return _finish_decode(comps, h, w, hmax, vmax)


def _idct_planes(comps, qt) -> None:
    """Shared decoder back half: per component, dequantize the zigzag
    coefficient store (``c["coef"]``, (bh, bw, 64) int64) and IDCT every
    block in one vectorized two-GEMM pass, producing ``c["plane"]``.
    Contracts the same axes as the per-block ``C.T @ raster @ C``
    (pinned by the analytic fixtures and the progressive-vs-baseline
    pixel-equality tests)."""
    import numpy as np

    C = _dct_matrix()
    zz = _zz_index()
    for c in comps:
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError("JPEG scan references a missing DQT table")
        bh, bw = c["coef"].shape[:2]
        raster = np.zeros((bh, bw, 64), dtype=np.float64)
        raster[:, :, zz] = c["coef"] * q[zz]  # zigzag-order dequantize
        blocks = raster.reshape(bh, bw, 8, 8)
        # IDCT as two BLAS GEMMs (same rationale and ULP caveat as the
        # forward DCT in _quantized_blocks): contract v (blocks @ C),
        # then u (C.T @ ·) — identical contraction to the previous
        # einsum "ux,ijuv,vy->ijxy", ~20x faster at bench block counts.
        t = (blocks.reshape(-1, 8) @ C).reshape(bh, bw, 8, 8)
        pix = np.matmul(C.T, t) + 128.0
        c["plane"] = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _finish_decode(comps, h, w, hmax, vmax):
    """Shared decoder tail: chroma upsample (replication), crop,
    YCbCr → RGB (or grayscale replication)."""
    import numpy as np

    planes = []
    for c in comps:
        p = c["plane"]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        yp = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(yp[:, :, None], 3, axis=2)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _split_restarts(raw: bytes) -> list[bytes]:
    """Entropy bytes → segments between RSTn markers (stuffed FF00
    left intact for the bit reader)."""
    segments, part, i = [], bytearray(), 0
    while i < len(raw):
        if raw[i] == 0xFF and i + 1 < len(raw) and 0xD0 <= raw[i + 1] <= 0xD7:
            segments.append(bytes(part))
            part = bytearray()
            i += 2
        else:
            part.append(raw[i])
            i += 1
    segments.append(bytes(part))
    return segments


def _dec_ac_first(reader, ac_tab, blk, ss, se, al, eobrun):
    """AC first scan for one block (T.81 G.2 / F.2.2.2 shape).
    ``blk`` is the zigzag-ordered coefficient row; returns eobrun."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(reader, ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s:
            k += r
            if k > se:
                raise ValueError("JPEG AC run past band end (corrupt scan)")
            blk[k] = _extend(reader.read(s), s) << al
            k += 1
        else:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                return eobrun
            k += 16  # ZRL
    return 0


def _dec_ac_refine(reader, ac_tab, blk, ss, se, al, eobrun):
    """AC refinement scan for one block (G.1.2.3): correction bits for
    history coefficients, run-length-coded newly-significant ±1<<Al.
    Returns eobrun."""
    p1 = 1 << al
    m1 = -(1 << al)

    def correct(k):
        if reader.read_bit() and (int(blk[k]) & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(reader, ac_tab)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s:
                if s != 1:
                    raise ValueError(
                        "invalid AC refinement magnitude (corrupt scan)"
                    )
                val = p1 if reader.read_bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.read(r)
                break  # rest of the band is EOB-run territory
            # skip r zero-history slots, correcting history coefficients
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    raise ValueError("JPEG AC refinement past band end")
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # trailing correction bits under the EOB run
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive(frame, scans, qt):
    """SOF2 reconstruction: accumulate coefficients across spectral-
    selection / successive-approximation scans (T.81 Annex G), then
    dequantize + IDCT once. Scan semantics follow the spec's figures
    G.2/G.7 in the shape the public libjpeg decoder (jdphuff.c) made
    canonical. Every mode is exercised by the encode_jpeg_progressive
    round-trip tests, whose oracle is pixel equality with the baseline
    codec on identical coefficients."""
    import numpy as np

    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(1 <= c["h"] <= 2 and 1 <= c["v"] <= 2 for c in comps):
        raise ValueError("unsupported JPEG: sampling factors beyond 2x2")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_comp = {}
    for c in comps:
        c["coef"] = np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
        by_comp[c["id"]] = c

    for scan in scans:
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        huff = scan["huff"]
        if not (0 <= ss <= se <= 63) or ah > 13 or al > 13:
            raise ValueError(
                "corrupt progressive scan: spectral/approximation params out of "
                f"range (Ss={ss}, Se={se}, Ah={ah}, Al={al})"
            )
        is_dc = ss == 0
        if is_dc and se != 0:
            raise ValueError("corrupt progressive scan: Ss=0 requires Se=0")
        if not is_dc and len(scan["comps"]) != 1:
            raise ValueError("corrupt progressive scan: interleaved AC scan")
        scomps = [by_comp[s["id"]] for s in scan["comps"]]
        for c, s in zip(scomps, scan["comps"]):
            c["td"], c["ta"] = s["td"], s["ta"]

        # unit sequence: MCUs when interleaved (ns > 1, DC scans only),
        # the component's own block grid otherwise (T.81 A.2.2)
        if len(scomps) > 1:
            units = [
                [
                    (c, my * c["v"] + byi, mx * c["h"] + bxi)
                    for c in scomps
                    for byi in range(c["v"])
                    for bxi in range(c["h"])
                ]
                for my in range(mcuy)
                for mx in range(mcux)
            ]
        else:
            c = scomps[0]
            samp = [(cc["h"], cc["v"]) for cc in comps]
            ci = comps.index(c)
            cbh, cbw = _comp_block_grid(h, w, samp, ci, hmax, vmax)
            units = [
                [(c, by, bx)] for by in range(cbh) for bx in range(cbw)
            ]

        ri = scan["ri"]
        segments = _split_restarts(scan["data"]) if ri else [scan["data"]]
        seg_idx, in_seg = 0, 0
        reader = _BitReader(segments[0])
        pred = {c["id"]: 0 for c in comps}
        eobrun = 0
        for unit in units:
            if ri and in_seg == ri:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG scan missing expected RST marker")
                reader = _BitReader(segments[seg_idx])
                pred = {c["id"]: 0 for c in comps}
                eobrun = 0
                in_seg = 0
            for c, by, bx in unit:
                blk = c["coef"][by, bx]
                if is_dc and ah == 0:
                    dc_tab = huff.get((0, c["td"]))
                    if dc_tab is None:
                        raise ValueError("JPEG scan references a missing DHT table")
                    s = _read_huff(reader, dc_tab)
                    pred[c["id"]] += _extend(reader.read(s), s)
                    blk[0] = pred[c["id"]] << al
                elif is_dc:
                    if reader.read_bit():
                        blk[0] |= 1 << al
                else:
                    ac_tab = huff.get((1, c["ta"]))
                    if ac_tab is None:
                        raise ValueError("JPEG scan references a missing DHT table")
                    dec = _dec_ac_first if ah == 0 else _dec_ac_refine
                    eobrun = dec(reader, ac_tab, blk, ss, se, al, eobrun)
            in_seg += 1

    # dequantize + IDCT, vectorized per component (shared back half)
    _idct_planes(comps, qt)
    return _finish_decode(comps, h, w, hmax, vmax)
