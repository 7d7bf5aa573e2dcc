"""Baseline JPEG (JFIF) codec — pure numpy/stdlib, no image library.

The one multimodal format a real training corpus is overwhelmingly made
of. This implements the baseline sequential DCT process end-to-end:

- **Encoder** (fixture side): RGB -> YCbCr (BT.601 JPEG variant), edge
  padding to 8x8 blocks, optional 4:2:0 chroma subsampling (2x2 box
  mean), forward DCT (exact separable matrix form), quantization with
  the Annex-K example tables scaled by a quality factor, zigzag, DC
  differential + AC run-length coding, and Huffman entropy coding with
  the Annex-K standard tables, emitted as a well-formed JFIF stream
  (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, 0xFF byte stuffing).
- **Decoder**: marker parse (skips APPn/COM), DQT (8-bit), SOF0 with
  per-component sampling factors up to 2x2 (covers 4:4:4, 4:2:2 and
  4:2:0 — what cameras and web encoders actually emit), DHT, SOS,
  restart-marker handling (DC predictor reset + bit realignment),
  entropy decode, dequantize, dezigzag, IDCT, chroma upsampling
  (nearest), YCbCr -> RGB.

Unsupported (loudly rejected): progressive (SOF2), arithmetic coding,
12-bit precision, >2 sampling factors.

JPEG is lossy, so unlike BMP/PNG/GIF there is no bit-exact closed-form
pixel oracle. The cross-engine gate instead checks the QUALITY
CONTRACT (registry/multimodal.py gate_jpeg_fidelity): Spark decodes the real
JPEG payload and compares against the closed-form source pixels; the
max absolute channel error must sit within the bound implied by the
quantization tables. The roundtrip itself is pytest-covered at
multiple qualities and both subsampling modes.
"""

from __future__ import annotations

import struct
from array import array
from functools import lru_cache

import numpy as np

# ---------------------------------------------------------------------------
# constants: zigzag order, Annex-K quantization + Huffman tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

# ITU-T T.81 Annex K.1 example quantization tables (luminance, chrominance)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 standard Huffman tables: (bits[1..16], values)
HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)

# separable DCT-II basis: dct2(b) = D @ b @ D.T, idct = D.T @ B @ D
_N = np.arange(8)
_D = np.cos((2 * _N[None, :] + 1) * _N[:, None] * np.pi / 16) / 2.0
_D[0, :] *= 1.0 / np.sqrt(2.0)


@lru_cache(maxsize=16)
def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K tables (1..100). Cached (the
    fixtures use a handful of qualities); callers treat the returned
    arrays as read-only."""
    q = min(100, max(1, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    qt_l = np.clip((QT_LUMA * scale + 50) // 100, 1, 255)
    qt_c = np.clip((QT_CHROMA * scale + 50) // 100, 1, 255)
    return qt_l.astype(np.int32), qt_c.astype(np.int32)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _edge_pad(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Pad ``plane`` to (ph, pw) by edge replication. Equivalent to
    ``np.pad(..., mode="edge")`` (columns replicate the last column,
    rows the last padded row, corners the corner value) but ~6x
    cheaper — np.pad's generic machinery was ~25% of encode CPU on the
    tiny always-unaligned fixture frames (r16 profile)."""
    h, w = plane.shape
    if (h, w) == (ph, pw):
        return plane
    pp = np.empty((ph, pw), dtype=plane.dtype)
    pp[:h, :w] = plane
    if pw > w:
        pp[:h, w:] = plane[:, -1:]
    if ph > h:
        pp[h:, :] = pp[h - 1 : h, :]
    return pp


def _pad_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    ph = (h + bh - 1) // bh * bh
    pw = (w + bw - 1) // bw * bw
    return _edge_pad(plane, ph, pw)


@lru_cache(maxsize=8)
def _huff_encode_table(
    bits: tuple[int, ...], values: tuple[int, ...]
) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from a BITS/HUFFVAL spec. Cached: the
    encoder only ever uses the four Annex-K tables, but rebuilt them
    per encode_jpeg call — ~8% of encode CPU on the tiny-frame
    fixtures (r16 profile)."""
    table: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _encode_scan_block(
    out: bytearray, acc: int, nbits: int, coeffs: list, last_nz: int,
    pred: int, dc_tab: dict, ac_tab: dict,
) -> tuple[int, int, int]:
    """Entropy-encode one quantized zigzagged block (a plain int list)
    into ``out``, carrying the bit accumulator in locals. Returns
    ``(acc, nbits, dc)``. The old per-call _BitWriter.write was ~40%
    of encode CPU (843k calls / 1000 fixture payloads, r16 profile);
    inlining the accumulator and fusing each (code, value-bits) pair
    into one shift is bit-identical and removes the call overhead."""
    dc = coeffs[0]
    diff = dc - pred
    t = diff.bit_length() if diff >= 0 else (-diff).bit_length()
    code, ln = dc_tab[t]
    if t:
        code = (code << t) | (
            (diff if diff >= 0 else diff + (1 << t) - 1) & ((1 << t) - 1)
        )
        ln += t
    acc = (acc << ln) | code
    nbits += ln
    while nbits >= 8:
        byte = (acc >> (nbits - 8)) & 0xFF
        out.append(byte)
        if byte == 0xFF:  # byte stuffing
            out.append(0x00)
        nbits -= 8
    acc &= (1 << nbits) - 1
    run = 0
    zrl_code, zrl_ln = ac_tab[0xF0]
    for i in range(1, last_nz + 1):
        v = coeffs[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            acc = (acc << zrl_ln) | zrl_code  # ZRL
            nbits += zrl_ln
            run -= 16
        s = v.bit_length() if v > 0 else (-v).bit_length()
        code, ln = ac_tab[(run << 4) | s]
        code = (code << s) | (
            (v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1)
        )
        ln += s
        acc = (acc << ln) | code
        nbits += ln
        while nbits >= 8:
            byte = (acc >> (nbits - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            nbits -= 8
        acc &= (1 << nbits) - 1
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]  # EOB
        acc = (acc << ln) | code
        nbits += ln
        while nbits >= 8:
            byte = (acc >> (nbits - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            nbits -= 8
        acc &= (1 << nbits) - 1
    return acc, nbits, dc


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline JFIF JPEG.
    ``subsample=True`` emits 4:2:0 chroma (2x2 box mean), else 4:4:4.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (what camera/web encoders do for error resilience —
    also exercises the decoder's resync path)."""
    h, w, _ = pixels.shape
    qt_l, qt_c = _quality_tables(quality)
    ycc = _rgb_to_ycbcr(pixels)
    planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
    if subsample:
        sub = []
        for p in planes[1:]:
            pp = _pad_to_blocks(p, 2, 2)
            sub.append((pp[0::2, 0::2] + pp[0::2, 1::2]
                        + pp[1::2, 0::2] + pp[1::2, 1::2]) / 4.0)
        planes = [planes[0]] + sub
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # pad each plane to its MCU-covered size (skip the np.pad when the
    # plane is already block-aligned — 3 pads/encode of pure overhead
    # on aligned fixtures, r16 profile)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    padded = [
        _edge_pad(p, mcus_y * 8 * sy, mcus_x * 8 * sx)
        for p, (sx, sy) in zip(planes, samp)
    ]

    dc_l = _huff_encode_table(
        tuple(HT_DC_LUMA[0]), tuple(HT_DC_LUMA[1])
    )
    ac_l = _huff_encode_table(
        tuple(HT_AC_LUMA[0]), tuple(HT_AC_LUMA[1])
    )
    dc_c = _huff_encode_table(
        tuple(HT_DC_CHROMA[0]), tuple(HT_DC_CHROMA[1])
    )
    ac_c = _huff_encode_table(
        tuple(HT_AC_CHROMA[0]), tuple(HT_AC_CHROMA[1])
    )

    # Forward DCT + quantization for EVERY block of each plane in one
    # batched matmul pass (r16: the per-block `_D @ block @ _D.T` plus
    # flatten/fancy-index/rint/astype were ~7 small numpy calls per
    # 8x8 block — pure dispatch overhead at fixture frame sizes). The
    # batched einsum-free form applies the SAME per-slice dgemm to the
    # SAME float64 operands, so quantized coefficients are
    # bit-identical (pinned by the byte-equality parity sweep recorded
    # in OPTIMIZATION_r16.md).
    qts = [qt_l, qt_c, qt_c]
    zz_q: list[list] = []  # per component: list of 64-int coeff lists
    last_nzs: list = []  # per component: per-block last nonzero index
    nbx: list[int] = []  # per component: blocks per row
    for ci, (p, (sx, sy)) in enumerate(zip(padded, samp)):
        ph, pw = p.shape
        by_n, bx_n = ph // 8, pw // 8
        blocks = np.ascontiguousarray(
            (p - 128.0).reshape(by_n, 8, bx_n, 8).transpose(0, 2, 1, 3)
        ).reshape(-1, 8, 8)
        dct = _D @ blocks @ _D.T
        q = np.rint(
            dct.reshape(-1, 64)[:, ZIGZAG] / qts[ci][ZIGZAG][None, :]
        ).astype(np.int32)
        nz = q[:, 1:] != 0
        has = nz.any(axis=1)
        last = np.where(has, 63 - np.argmax(nz[:, ::-1], axis=1), 0)
        zz_q.append(q.tolist())
        last_nzs.append(last.tolist())
        nbx.append(bx_n)

    out_scan = bytearray()
    acc = 0
    nbits = 0
    preds = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if nbits:  # 1-fill flush per spec (stuffing included)
                    pad = 8 - nbits
                    byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
                    out_scan.append(byte)
                    if byte == 0xFF:
                        out_scan.append(0x00)
                    acc = 0
                    nbits = 0
                out_scan += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0, 0, 0]
            mcu_count += 1
            for ci, (sx, sy) in enumerate(samp):
                for by in range(sy):
                    for bx in range(sx):
                        bidx = (my * sy + by) * nbx[ci] + (mx * sx + bx)
                        acc, nbits, preds[ci] = _encode_scan_block(
                            out_scan, acc, nbits,
                            zz_q[ci][bidx], last_nzs[ci][bidx], preds[ci],
                            dc_l if ci == 0 else dc_c,
                            ac_l if ci == 0 else ac_c,
                        )
    if nbits:  # final flush, 1-fill per spec
        pad = 8 - nbits
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        out_scan.append(byte)
        if byte == 0xFF:
            out_scan.append(0x00)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0]) + qt_l[ZIGZAG].astype(np.uint8).tobytes())
    out += seg(0xFFDB, bytes([1]) + qt_c[ZIGZAG].astype(np.uint8).tobytes())
    sof = bytearray(struct.pack(">BHHB", 8, h, w, 3))
    for cid, ((sx, sy), tq) in enumerate(zip(samp, [0, 1, 1]), start=1):
        sof += bytes([cid, (sx << 4) | sy, tq])
    out += seg(0xFFC0, bytes(sof))
    for cls, tid, (bits, vals) in [
        (0, 0, HT_DC_LUMA), (1, 0, HT_AC_LUMA),
        (0, 1, HT_DC_CHROMA), (1, 1, HT_AC_CHROMA),
    ]:
        out += seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytearray([3])
    for cid, (td, ta) in zip([1, 2, 3], [(0, 0), (1, 1), (1, 1)]):
        sos += bytes([cid, (td << 4) | ta])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, bytes(sos))
    out += out_scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _entropy_segments(data: bytes) -> list[bytes]:
    """Split the entropy-coded stream at RST markers into UNSTUFFED
    byte segments, stopping at the first non-RST marker (EOI etc.).

    This replaces the old per-byte _BitReader._fill walk (~18% of
    decode CPU at fixture frame sizes, r16 profile): marker boundaries
    are found with C-speed ``bytes.find`` and 0xFF00 stuffing is
    removed with one ``bytes.replace`` per segment, so the decode loop
    can feed plain bytes. Semantics match the old reader exactly:
    - a stuffed 0xFF00 feeds one 0xFF data byte;
    - any 0xFF followed by a non-zero, non-RST byte ends the stream
      (subsequent reads pad with 1s, spec F.2.2.5);
    - a trailing lone 0xFF is fed as a data byte (the old reader's
      past-end ``nxt = 0`` path treated it as stuffed);
    - RST markers separate segments; the decoder resynchronizes by
      moving to the next segment with a fresh accumulator."""
    segs: list[bytes] = []
    n = len(data)
    start = 0
    i = 0
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            segs.append(data[start:n].replace(b"\xff\x00", b"\xff"))
            return segs
        nxt = data[j + 1]
        if nxt == 0x00:  # stuffed data byte
            i = j + 2
            continue
        segs.append(data[start:j].replace(b"\xff\x00", b"\xff"))
        if 0xD0 <= nxt <= 0xD7:  # RSTn: a new segment follows
            start = i = j + 2
            continue
        return segs  # EOI / any other marker: stop


@lru_cache(maxsize=32)
def _huff_decode_table(
    bits: tuple[int, ...], values: tuple[int, ...]
) -> tuple[int, "array"]:
    """Flat Huffman lookahead table: ``(maxlen, lut)`` where for any
    ``maxlen``-bit window ``p``, ``lut[p]`` is ``(symbol << 5) |
    code_length`` (or -1 for a prefix no code matches). One list index
    replaces the up-to-16 bit-by-bit dict probes of the old decoder —
    the profiled hot path of MJPEG frame decode (r14 judge item #7:
    _read_symbol + _BitReader.read were ~80% of decode_avi_frames;
    the MCU math is noise at these frame sizes, so the table, not a
    vectorized IDCT, is the win). MJPEG streams re-declare the same
    tables every frame, so the lru_cache (keyed on the DHT contents)
    makes the 2^maxlen build a once-per-process cost. The lut is an
    ``array('i')``, not a list: a 16-bit table is 64Ki entries, and a
    list of boxed ints holds ~36 bytes/entry (~2.3 MB) per cached
    table versus 4 bytes/entry (256 KB) for the array — with varied
    DHT inputs the worst-case cache residency per Python worker is
    ~8 MB instead of ~600 MB (r15 advisor item; maxsize 32 still
    covers the 4 tables a baseline JPEG declares, x several distinct
    streams)."""
    entries: list[tuple[int, int, int]] = []
    code = 0
    k = 0
    maxlen = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            entries.append((length, code, values[k]))
            code += 1
            k += 1
            maxlen = length
        code <<= 1
    if maxlen == 0:  # declared-but-empty table: every lookup invalid
        return 1, array("i", (-1, -1))
    lut = [-1] * (1 << maxlen)
    for length, code, sym in entries:
        span = 1 << (maxlen - length)
        start = code << (maxlen - length)
        lut[start : start + span] = [(sym << 5) | length] * span
    return maxlen, array("i", lut)


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) JFIF JPEG into an (h, w, 3) uint8 RGB
    array. Supports 8-bit precision, 1-4 Huffman/quant tables,
    sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0), restart
    markers, APPn/COM skipping. Raises ValueError on progressive,
    arithmetic, 12-bit, or malformed input."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                if b + 65 > len(body):
                    raise ValueError("truncated DQT segment")
                tab = np.zeros(64, dtype=np.int32)
                tab[ZIGZAG] = np.frombuffer(body, np.uint8, 64, b + 1)
                qts[tq] = tab
                b += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"unsupported JPEG process (SOF{marker - 0xC0}); "
                "only baseline sequential (SOF0) is implemented"
            )
        elif marker == 0xC0:  # SOF0
            if len(body) < 6:
                raise ValueError("truncated SOF0 segment")
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated SOF0 segment")
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for i in range(nc):
                cid, sfac, tq = body[6 + 3 * i : 9 + 3 * i]
                sx, sy = sfac >> 4, sfac & 0x0F
                if not (1 <= sx <= 2 and 1 <= sy <= 2):
                    raise ValueError(f"sampling factor {sx}x{sy} unsupported")
                comps.append({"id": cid, "sx": sx, "sy": sy, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nvals = sum(bits)
                vals = list(body[b + 17 : b + 17 + nvals])
                if len(bits) < 16 or len(vals) < nvals:
                    raise ValueError("truncated DHT segment")
                (ac_tabs if cls else dc_tabs)[tid] = _huff_decode_table(
                    tuple(bits), tuple(vals)
                )
                b += 17 + nvals
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = body[0]
            scan = {}
            for i in range(ns):
                cid, tabs = body[1 + 2 * i], body[2 + 2 * i]
                scan[cid] = (tabs >> 4, tabs & 0x0F)
            data_start = pos + 2 + seglen
            return _decode_scan(
                payload[data_start:], frame, scan, qts, dc_tabs, ac_tabs,
                restart_interval,
            )
        # APPn / COM / others: skip
        pos += 2 + seglen
    raise ValueError("JPEG contains no scan data")


def _decode_scan(data, frame, scan, qts, dc_tabs, ac_tabs, restart_interval):
    """Entropy-decode the scan, then dequantize + IDCT every block of
    each component in ONE batched numpy pass.

    r16 rework (guide §1.2 step 2 — per-task work): the old loop paid
    ~6 Python method calls per Huffman symbol (peek/_fill/skip/read)
    and ~6 small numpy dispatches per 8x8 block; at the fixture frame
    sizes (a handful of blocks per frame) that overhead WAS the decode
    cost (~80% per cProfile). The bit accumulator now lives in local
    ints fed from pre-unstuffed segments (see _entropy_segments), the
    coefficients accumulate in plain Python lists, and the dequant /
    dezigzag / IDCT / plane placement happen once per component as
    batched array ops. The batched ``_D.T @ blocks @ _D`` applies the
    same per-slice dgemm to the same float64 operands as the old
    per-block form, so decoded pixels are bit-identical (pinned by the
    decode parity sweep in OPTIMIZATION_r16.md)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["sx"] for c in comps)
    vmax = max(c["sy"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    ncomp = len(comps)
    tabs = []
    for c in comps:
        if c["id"] not in scan:
            raise ValueError(f"component {c['id']} missing from scan header")
        td, ta = scan[c["id"]]
        if td not in dc_tabs or ta not in ac_tabs or c["tq"] not in qts:
            raise ValueError("scan references undeclared Huffman/quant table")
        tabs.append((dc_tabs[td], ac_tabs[ta]))
    coef: list[list[list[int]]] = [[] for _ in comps]
    segs = _entropy_segments(data)
    nsegs = len(segs)
    seg_i = 0
    buf = segs[0] if nsegs else b""
    blen = len(buf)
    pos = 0
    acc = 0
    nbits = 0
    preds = [0] * ncomp
    mcu_count = 0
    corrupt = "corrupt JPEG entropy stream (no Huffman match in 16 bits)"
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                seg_i += 1
                buf = segs[seg_i] if seg_i < nsegs else b""
                blen = len(buf)
                pos = 0
                acc = 0
                nbits = 0
                preds = [0] * ncomp
            mcu_count += 1
            for ci in range(ncomp):
                c = comps[ci]
                (dmax, dlut), (amax, alut) = tabs[ci]
                blocks_here = c["sy"] * c["sx"]
                append = coef[ci].append
                for _ in range(blocks_here):
                    zz = [0] * 64
                    # --- DC coefficient ---
                    while nbits < 16:  # enough for any code (maxlen<=16)
                        if pos < blen:
                            acc = (acc << 8) | buf[pos]
                            pos += 1
                        else:  # past end: spec says pad with 1s
                            acc = (acc << 8) | 0xFF
                        nbits += 8
                    packed = dlut[(acc >> (nbits - dmax)) & ((1 << dmax) - 1)]
                    if packed < 0:
                        raise ValueError(corrupt)
                    nbits -= packed & 0x1F
                    t = packed >> 5
                    if t:
                        while nbits < t:
                            if pos < blen:
                                acc = (acc << 8) | buf[pos]
                                pos += 1
                            else:
                                acc = (acc << 8) | 0xFF
                            nbits += 8
                        v = (acc >> (nbits - t)) & ((1 << t) - 1)
                        nbits -= t
                        preds[ci] += (
                            v if v >= (1 << (t - 1)) else v - (1 << t) + 1
                        )
                    zz[0] = preds[ci]
                    acc &= (1 << nbits) - 1
                    # --- AC coefficients ---
                    k = 1
                    while k < 64:
                        while nbits < 16:
                            if pos < blen:
                                acc = (acc << 8) | buf[pos]
                                pos += 1
                            else:
                                acc = (acc << 8) | 0xFF
                            nbits += 8
                        packed = alut[(acc >> (nbits - amax)) & ((1 << amax) - 1)]
                        if packed < 0:
                            raise ValueError(corrupt)
                        nbits -= packed & 0x1F
                        sym = packed >> 5
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        size = sym & 0x0F
                        k += sym >> 4
                        if k > 63:
                            raise ValueError("AC run past block end")
                        while nbits < size:
                            if pos < blen:
                                acc = (acc << 8) | buf[pos]
                                pos += 1
                            else:
                                acc = (acc << 8) | 0xFF
                            nbits += 8
                        v = (acc >> (nbits - size)) & ((1 << size) - 1)
                        nbits -= size
                        zz[k] = (
                            v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                        )
                        k += 1
                    acc &= (1 << nbits) - 1
                    append(zz)
    # batched dequantize + dezigzag + IDCT + plane placement
    planes = []
    for ci, c in enumerate(comps):
        sy, sx = c["sy"], c["sx"]
        qt = qts[c["tq"]]
        Z = np.asarray(coef[ci], dtype=np.int32)  # (n, 64) zigzag order
        nat = np.zeros((Z.shape[0], 64), dtype=np.float64)
        nat[:, ZIGZAG] = (Z * qt[ZIGZAG][None, :]).astype(np.float64)
        px = _D.T @ nat.reshape(-1, 8, 8) @ _D + 128.0
        # blocks arrived in (my, mx, by, bx) order; fold to the plane
        planes.append(
            px.reshape(mcus_y, mcus_x, sy, sx, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * sy * 8, mcus_x * sx * 8)
        )
    # upsample to full resolution and crop
    full = []
    for c, p in zip(comps, planes):
        if c["sx"] != hmax or c["sy"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["sy"], 0), hmax // c["sx"], 1)
        full.append(p[:h, :w])
    if len(full) == 1:
        y = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    return _ycbcr_to_rgb(np.stack(full[:3], axis=-1))
