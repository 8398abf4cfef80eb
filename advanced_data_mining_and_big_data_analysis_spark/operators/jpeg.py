"""JPEG codec (ITU T.81, stdlib + numpy): baseline, progressive,
lossless and arithmetic-coded streams, 1- or 3-component, 4:4:4 and
4:2:0.

Encoders: baseline sequential (SOF0) for grayscale, YCbCr 4:4:4 and
4:2:0 — forward DCT, Annex-K quantization (K.1 luminance + K.2
chrominance), zigzag, per-component DC prediction, run-length +
canonical Huffman coding (K.3 tables), 0xFF byte stuffing, interleaved
MCUs (4:2:0: four Y blocks + box-averaged Cb/Cr per 16x16 MCU), and
optional restart intervals (DRI / RST0-7); progressive (SOF2) with
spectral selection + successive approximation; lossless DPCM (SOF3,
8- and 12-bit); arithmetic-coded sequential (SOF9, in
``jpeg_arith.py``).

Decoder: self-describing — one marker walk (``_scans``) reads the
frame header and every DQT/DHT/DAC/DRI table from the stream and hands
each scan to the mode's entropy decoder; the DCT modes then share one
plane finish (dequantize + IDCT, replication upsample of subsampled
components, crop). It handles arbitrary integral sampling factors
(4:4:4 / 4:2:0 / 4:2:2), restart intervals (byte-alignment and
DC-predictor reset at each boundary) and progressive streams
(spectral selection + successive approximation with DC/AC first +
refinement scans, EOB runs, restarts within any scan — T.81 Annex G).
Hierarchical and 12-bit DCT streams raise, and so does every malformed
header (truncated segment, bad precision, component count or sampling
factor, missing table) and an out-of-order or missing restart marker
— a poisoned blob should fail the task with a ValueError, not skew the
corpus (same policy as decode_png).

Exactness note for closed-form oracles (q124): a block that is CONSTANT
with an even offset from 128 survives the codec bit-exactly — its DCT
has only a DC term 8*(v-128), and the Annex-K DC quant step of 16
divides it. The q124 fixtures are built from such blocks so DuckDB can
recompute expected pixel statistics from the generating formula; the
lossy AC path is exercised by pytest error-bound tests instead.
"""

from __future__ import annotations

import itertools
import struct
from collections.abc import Callable, Iterator

import numpy as np

# Zigzag scan order: ZIGZAG[k] = row-major index of the k-th coefficient.
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# Annex K.1 luminance quantization table (row-major).
QUANT = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)

# Annex K.2 chrominance quantization table (row-major).
QUANT_C = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)

# Canonical Huffman tables (Annex K.3 luminance). The stream carries
# these in DHT segments, so decoder interop does not depend on them.
DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]  # index 1..16
DC_VALUES = list(range(12))
AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALUES = [
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


# Annex K.3 chrominance DC/AC tables.
DC_C_BITS = [0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_C_VALUES = list(range(12))
AC_C_BITS = [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_C_VALUES = [
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


def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_M = _dct_matrix()


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a (BITS, HUFFVAL) table pair."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self._nbits -= 8
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per spec


def _emit_restart(bw: _BitWriter, rst_m: int) -> int:
    """1-pad to a byte boundary and append the RSTm marker verbatim
    (markers are never byte-stuffed); returns the next sequence number
    (modulo 8, T.81 E.1.2)."""
    bw.flush()
    bw.out.extend((0xFF, 0xD0 + rst_m))
    return (rst_m + 1) & 7


def _magnitude(v: int) -> tuple[int, int]:
    """(category size, appended bits) for a DC diff / AC level."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _quantize(block: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """FDCT + quantize one 8x8 block: its 64 coefficients in zigzag order."""
    coeff = _M @ (block - 128.0) @ _M.T
    return np.rint(coeff / quant).astype(np.int64).reshape(64)[ZIGZAG]


def _encode_block(
    bw: _BitWriter,
    block: np.ndarray,
    quant: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    prev_dc: int,
) -> int:
    """FDCT + quantize + entropy-code one 8x8 block; returns its DC
    term (the caller threads per-component DC predictors)."""
    zz = _quantize(block, quant)
    diff = int(zz[0]) - prev_dc
    size, bits = _magnitude(diff)
    code, ln = dc_codes[size]
    bw.put(code, ln)
    bw.put(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            code, ln = ac_codes[0x00]  # EOB
            bw.put(code, ln)
            break
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        code, ln = ac_codes[run * 16 + size]
        bw.put(code, ln)
        bw.put(bits, size)
        run = 0
    return int(zz[0])


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


_APP0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"


def _jfif(body: bytes) -> bytes:
    """SOI + JFIF APP0 + ``body`` (table, frame and scan segments with
    their entropy data) + EOI."""
    return b"\xff\xd8" + _seg(0xFFE0, _APP0) + body + b"\xff\xd9"


def _zz_table(q: np.ndarray) -> bytes:
    return bytes(int(q.reshape(64)[ZIGZAG][k]) for k in range(64))


def _dqt_seg(ncomp: int) -> bytes:
    """DQT carrying K.1 as table 0 and, for color, K.2 as table 1."""
    payload = b"\x00" + _zz_table(QUANT)
    if ncomp == 3:
        payload += b"\x01" + _zz_table(QUANT_C)
    return _seg(0xFFDB, payload)


def _dht_seg(tc_th: int, bits: list[int], values: list[int]) -> bytes:
    return _seg(0xFFC4, bytes([tc_th]) + bytes(bits[1:]) + bytes(values))


def _sof_seg(marker: int, precision: int, width: int, height: int, ncomp: int, luma_hv: int = 1) -> bytes:
    """SOFn: Y (id 1, ``luma_hv`` x ``luma_hv`` sampling, quant table
    0) and, for color, Cb/Cr (ids 2, 3, 1x1 sampling, quant table 1)."""
    comps = bytes([1, 0x11 * luma_hv, 0])
    if ncomp == 3:
        comps += bytes([2, 0x11, 1, 3, 0x11, 1])
    return _seg(marker, struct.pack(">BHHB", precision, height, width, ncomp) + comps)


def _sos_seg(scan_comps: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytes([len(scan_comps)])
    for cid, dc_id, ac_id in scan_comps:
        body += bytes([cid, (dc_id << 4) | ac_id])
    return _seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))


# (component id, DC table, AC table) of a sequential scan: luma on
# tables 0, both chromas on tables 1.
_SCAN_COMPS = [(1, 0, 0), (2, 1, 1), (3, 1, 1)]


def _pad_mult(img: np.ndarray, mult: int) -> np.ndarray:
    """Pad by edge replication to a multiple of ``mult`` in both dims."""
    h, w = img.shape
    hm, wm = -(-h // mult) * mult, -(-w // mult) * mult
    return np.pad(img, ((0, hm - h), (0, wm - w)), mode="edge")


def _box2(plane: np.ndarray) -> np.ndarray:
    """2x2 box average (the 4:2:0 chroma downsample); dims must be even."""
    return (plane[0::2, 0::2] + plane[1::2, 0::2] + plane[0::2, 1::2] + plane[1::2, 1::2]) / 4.0


def _pixel_planes(
    width: int, height: int, pixel_fn: Callable, colorspace: str | None = None
) -> list[np.ndarray]:
    """Sample ``pixel_fn(x, y)`` over the frame, row-major, as float
    planes: one plane for a grayscale fn (``colorspace`` None), else
    (Y, Cb, Cr) — converted from (r, g, b) with the standard JFIF
    matrix in float (no pre-DCT rounding) when ``colorspace='rgb'``,
    used verbatim when 'ycbcr'."""
    if colorspace not in (None, "rgb", "ycbcr"):
        raise ValueError("colorspace must be 'rgb' or 'ycbcr'")
    px = np.array(
        [[pixel_fn(x, y) for x in range(width)] for y in range(height)], dtype=np.float64
    )
    if colorspace is None:
        return [px]
    if colorspace == "rgb":
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        return [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    return [px[..., 0], px[..., 1], px[..., 2]]


def _make_baseline(
    width: int, height: int, planes: list[np.ndarray], luma_hv: int, restart_interval: int
) -> bytes:
    """Baseline (SOF0) encoder for 1 or 3 full-resolution planes. Y is
    sampled ``luma_hv`` x ``luma_hv`` (1: 4:4:4, 2: 4:2:0 with Cb/Cr
    2x2 box-averaged); an MCU interleaves each component's h*v blocks
    in raster order, DC prediction is per component (threading across
    the Y blocks of an MCU, T.81 F.1.1.5.1), and edges pad by
    replication to an MCU multiple. A nonzero ``restart_interval``
    writes DRI and emits RST0-7 every that many MCUs (byte-aligned, DC
    predictors reset)."""
    mcu = 8 * luma_hv
    luma = (_canonical_codes(DC_BITS, DC_VALUES), _canonical_codes(AC_BITS, AC_VALUES))
    chroma = (_canonical_codes(DC_C_BITS, DC_C_VALUES), _canonical_codes(AC_C_BITS, AC_C_VALUES))
    padded = [_pad_mult(p, mcu) for p in planes]
    comps = [(padded[0], luma_hv, QUANT, luma)]
    for p in padded[1:]:
        comps.append((_box2(p) if luma_hv == 2 else p, 1, QUANT_C, chroma))
    bw = _BitWriter()
    prev_dc = [0] * len(comps)
    mcu_i = 0
    rst_m = 0
    for my in range(padded[0].shape[0] // mcu):
        for mx in range(padded[0].shape[1] // mcu):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                rst_m = _emit_restart(bw, rst_m)
                prev_dc = [0] * len(comps)
            mcu_i += 1
            for ci, (plane, hv, quant, (dc_codes, ac_codes)) in enumerate(comps):
                for vy in range(hv):
                    for vx in range(hv):
                        y0, x0 = (my * hv + vy) * 8, (mx * hv + vx) * 8
                        prev_dc[ci] = _encode_block(
                            bw, plane[y0 : y0 + 8, x0 : x0 + 8], quant, dc_codes, ac_codes, prev_dc[ci]
                        )
    bw.flush()

    n = len(comps)
    dri = _seg(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    dht = _dht_seg(0x00, DC_BITS, DC_VALUES) + _dht_seg(0x10, AC_BITS, AC_VALUES)
    if n == 3:
        dht += _dht_seg(0x01, DC_C_BITS, DC_C_VALUES) + _dht_seg(0x11, AC_C_BITS, AC_C_VALUES)
    return _jfif(
        _dqt_seg(n)
        + dri
        + _sof_seg(0xFFC0, 8, width, height, n, luma_hv)
        + dht
        + _sos_seg(_SCAN_COMPS[:n], 0, 63, 0, 0)
        + bytes(bw.out)
    )


def make_jpeg_gray(
    width: int, height: int, pixel_fn: Callable[[int, int], int], restart_interval: int = 0
) -> bytes:
    """Encode an 8-bit grayscale baseline JFIF JPEG (Annex-K tables,
    no subsampling). Edge blocks pad by replication. A nonzero
    ``restart_interval`` writes a DRI segment and emits RST0-7 markers
    every that many MCUs (byte-aligned, DC predictor reset) — the
    error-resilience framing most real-world encoders produce."""
    return _make_baseline(width, height, _pixel_planes(width, height, pixel_fn), 1, restart_interval)


def make_jpeg_color(
    width: int,
    height: int,
    pixel_fn: Callable[[int, int], tuple[int, int, int]],
    colorspace: str = "rgb",
    restart_interval: int = 0,
) -> bytes:
    """Encode an 8-bit 3-component baseline JFIF JPEG (YCbCr 4:4:4,
    Annex K.1/K.2 quantization, K.3 luma+chroma Huffman tables,
    interleaved one-block-per-component MCUs, per-component DC
    prediction). Edge blocks pad by replication.

    ``colorspace='rgb'`` (default): pixel_fn returns (r, g, b) and the
    standard JFIF RGB->YCbCr matrix is applied in float (no pre-DCT
    rounding). ``colorspace='ycbcr'``: pixel_fn returns (y, cb, cr)
    used verbatim — the closed-form fixture path, where block-constant
    values with quant-divisible DC terms survive the codec bit-exactly
    (see formula_jpeg_color_ycbcr)."""
    planes = _pixel_planes(width, height, pixel_fn, colorspace)
    return _make_baseline(width, height, planes, 1, restart_interval)


def make_jpeg_color_420(
    width: int,
    height: int,
    pixel_fn: Callable[[int, int], tuple[int, int, int]],
    colorspace: str = "rgb",
) -> bytes:
    """Encode an 8-bit 3-component baseline JFIF JPEG with 4:2:0 chroma
    subsampling — the dominant layout of real-world JPEGs (4:4:4 is
    rare in the wild). Y carries 2x2 sampling factors, Cb/Cr 1x1: one
    MCU covers 16x16 pixels and interleaves four Y blocks (raster
    order: top-left, top-right, bottom-left, bottom-right) followed by
    one Cb and one Cr block from the 2x2 box-averaged chroma planes.
    Per-component DC prediction threads ACROSS all four Y blocks of an
    MCU (T.81 F.1.1.5.1). Edges pad by replication to a 16-multiple.

    ``colorspace`` semantics match make_jpeg_color; the 'ycbcr' path is
    the closed-form fixture hook — chroma that is CONSTANT per 16x16
    MCU survives the box downsample, the DCT (DC term only), and the
    replication upsample bit-exactly when the Annex K.2 DC step 17
    divides 8*(C-128) (see formula_jpeg_color_420_ycbcr)."""
    planes = _pixel_planes(width, height, pixel_fn, colorspace)
    return _make_baseline(width, height, planes, 2, 0)


# ---------------------------------------------------------------------------
# Decoder. ``_scans`` is the one marker walk: it keeps the frame header
# and the tables in force in a ``_Frame`` and yields every scan with its
# entropy-coded bytes; each mode decodes its scans into per-component
# zigzag coefficient grids (DCT modes) that ``_finish`` turns into
# pixel planes, or into samples directly (lossless).
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1  # un-stuff
            else:
                raise ValueError("unexpected marker inside entropy data")
        self._acc = (self._acc << 8) | byte
        self._nbits += 8

    def bit(self) -> int:
        if self._nbits == 0:
            self._fill()
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, m: int) -> None:
        """Consume the RSTm marker at a restart boundary (T.81 E.2.4):
        discard the pad bits of the partially-consumed byte, then the
        two marker bytes. The modulo-8 sequence number must match —
        a skipped or out-of-order restart means lost MCUs, and this
        decoder fails closed rather than resyncing."""
        self._acc = 0
        self._nbits = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("JPEG entropy stream truncated at restart marker")
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + m:
            raise ValueError("expected RST%d marker at restart interval" % m)
        self.pos += 2


def _decode_huffman(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


# Frame types this codec decodes: baseline, progressive, lossless and
# arithmetic-coded sequential. Every other SOFn (0xC0-0xCF except DHT
# 0xC4, JPG 0xC8 and DAC 0xCC) is rejected.
_MODES = (0xC0, 0xC2, 0xC3, 0xC9)


class _Frame:
    """What the marker walk has read so far: the frame header (SOFn)
    and the tables in force — quantization (DQT), Huffman (DHT) and
    arithmetic conditioning (DAC) — plus the restart interval (DRI).
    Tables may be redefined between scans; each scan sees the state at
    its SOS."""

    def __init__(self) -> None:
        self.sof = 0  # frame marker low byte (0xC0, 0xC2, ...); 0 before the SOFn
        self.precision = self.width = self.height = 0
        self.comps: list[tuple[int, int, int, int]] = []  # (cid, h, v, tq), SOF order
        self.hmax = self.vmax = self.mcus_x = self.mcus_y = 0
        self.quant: dict[int, np.ndarray] = {}
        self.huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}  # (class, id)
        self.dac: dict[tuple[int, int], int] = {}  # (class, id) -> conditioning byte Cs
        self.restart_interval = 0

    def table_segment(self, marker: int, p: bytes) -> None:
        """Apply one DQT/DHT/DAC/DRI/SOFn segment; others are skipped."""
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(p):
                if p[i] >> 4:
                    raise ValueError("only 8-bit quantization tables supported")
                if i + 65 > len(p):
                    raise ValueError("JPEG DQT segment truncated")
                tbl = np.zeros(64)
                tbl[ZIGZAG] = np.frombuffer(p[i + 1 : i + 65], dtype=np.uint8)
                self.quant[p[i] & 0x0F] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(p):
                bits = [0] + list(p[i + 1 : i + 17])
                n = sum(bits)
                if len(bits) != 17 or i + 17 + n > len(p):
                    raise ValueError("JPEG DHT segment truncated")
                codes = _canonical_codes(bits, list(p[i + 17 : i + 17 + n]))
                # keyed by (class, id): a DC and an AC table may share
                # Th (T.81 B.2.4.2), so neither may overwrite the other
                self.huff[(p[i] >> 4, p[i] & 0x0F)] = {(ln, c): s for s, (c, ln) in codes.items()}
                i += 17 + n
        elif marker == 0xCC:  # DAC
            if len(p) % 2:
                raise ValueError("JPEG DAC segment truncated")
            for i in range(0, len(p), 2):
                self.dac[(p[i] >> 4, p[i] & 0x0F)] = p[i + 1]
        elif marker == 0xDD:  # DRI — restart interval in MCUs
            if len(p) < 2:
                raise ValueError("JPEG DRI segment truncated")
            (self.restart_interval,) = struct.unpack_from(">H", p, 0)
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            self._frame_header(marker, p)

    def _frame_header(self, marker: int, p: bytes) -> None:
        if self.sof:
            raise ValueError("JPEG stream has more than one frame header")
        if marker not in _MODES:
            raise ValueError("unsupported JPEG frame type SOF%d" % (marker - 0xC0))
        if len(p) < 6:
            raise ValueError("JPEG SOF segment truncated")
        precision, height, width, ncomp = struct.unpack_from(">BHHB", p, 0)
        lossless = marker == 0xC3
        if precision not in ((8, 12) if lossless else (8,)):
            raise ValueError(f"unsupported JPEG sample precision {precision}")
        if ncomp not in ((1,) if lossless else (1, 3)):
            raise ValueError(f"unsupported JPEG component count {ncomp}")
        if len(p) < 6 + 3 * ncomp:
            raise ValueError("JPEG SOF segment truncated")
        if not width or not height:
            raise ValueError("JPEG frame without width or height (DNL) is not supported")
        comps = []
        for i in range(ncomp):
            cid, sampling, tq = p[6 + 3 * i : 9 + 3 * i]
            h, v = sampling >> 4, sampling & 0x0F
            if not (1 <= h <= 4 and 1 <= v <= 4):
                raise ValueError("JPEG sampling factors out of range")
            comps.append((cid, h, v, tq))
        if ncomp == 1:
            # one component is coded non-interleaved at full resolution
            # whatever its declared factors (T.81 A.2.2)
            comps = [(comps[0][0], 1, 1, comps[0][3])]
        hmax = max(h for _, h, _, _ in comps)
        vmax = max(v for _, _, v, _ in comps)
        if any(hmax % h or vmax % v for _, h, v, _ in comps):
            raise ValueError("non-integral JPEG sampling ratio not supported")
        self.sof, self.precision, self.width, self.height = marker, precision, width, height
        self.comps, self.hmax, self.vmax = comps, hmax, vmax
        self.mcus_x, self.mcus_y = -(-width // (8 * hmax)), -(-height // (8 * vmax))

    def scan_header(self, p: bytes) -> tuple[list[tuple[int, int, int]], int, int, int, int]:
        """Parse an SOS payload: ([(cid, Td, Ta)], Ss, Se, Ah, Al)."""
        if not self.sof:
            raise ValueError("JPEG SOS before SOF")
        if not p or not p[0] or len(p) < 4 + 2 * p[0]:
            raise ValueError("JPEG SOS segment truncated")
        ns = p[0]
        cids = {c[0] for c in self.comps}
        comps = []
        for i in range(ns):
            cid, tbls = p[1 + 2 * i], p[2 + 2 * i]
            if cid not in cids:
                raise ValueError(f"JPEG scan names unknown component {cid}")
            comps.append((cid, tbls >> 4, tbls & 0x0F))
        ss, se, a = p[1 + 2 * ns : 4 + 2 * ns]
        return comps, ss, se, a >> 4, a & 0x0F

    def huffman(self, tc: int, th: int) -> dict[tuple[int, int], int]:
        """The Huffman table a scan names — missing is a ValueError at
        scan start (T.81 B.2.4.2), not a KeyError mid-MCU, and an AC
        table with the same id never stands in for a DC one."""
        table = self.huff.get((tc, th))
        if table is None:
            raise ValueError(f"missing {'AC' if tc else 'DC'} Huffman table {th}")
        return table

    def coef_grid(self) -> dict[int, np.ndarray]:
        """Zeroed (blocks_y, blocks_x, 64) zigzag coefficient grid per
        component, sized for interleaved MCU padding."""
        return {
            cid: np.zeros((self.mcus_y * v, self.mcus_x * h, 64), dtype=np.int64)
            for cid, h, v, _ in self.comps
        }


def _entropy_end(content: bytes, pos: int) -> int:
    """End of an entropy-coded segment: the next 0xFF not followed by a
    stuffed 0x00 or a restart marker."""
    i = pos
    n = len(content)
    while i < n - 1:
        if content[i] == 0xFF and content[i + 1] != 0x00 and not (0xD0 <= content[i + 1] <= 0xD7):
            return i
        i += 2 if content[i] == 0xFF else 1
    return n


_Scan = tuple[_Frame, tuple[list[tuple[int, int, int]], int, int, int, int], bytes]


def _scans(content: bytes) -> Iterator[_Scan]:
    """The marker walk of a JPEG stream: check SOI, skip 0xFF fill bytes
    (T.81 B.1.1.2), bound every segment, apply table segments to one
    ``_Frame``, and yield (frame, scan header, entropy-coded bytes) at
    each SOS, until EOI. An entropy segment that no marker ends means
    the stream lost its tail."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    fr = _Frame()
    pos, n = 2, len(content)
    while pos + 2 <= n:
        if content[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = content[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            return
        if pos + 4 > n:
            raise ValueError("JPEG segment truncated")
        (length,) = struct.unpack_from(">H", content, pos + 2)
        end = pos + 2 + length
        if length < 2 or end > n:
            raise ValueError("JPEG segment truncated")
        if marker == 0xDA:
            scan = fr.scan_header(content[pos + 4 : end])
            pos = _entropy_end(content, end)
            if pos == n:
                raise ValueError("JPEG missing EOI")
            yield fr, scan, content[end:pos]
        else:
            fr.table_segment(marker, content[pos + 4 : end])
            pos = end
    raise ValueError("JPEG missing EOI")


def _finish(fr: _Frame, coef: dict[int, np.ndarray]) -> list[np.ndarray]:
    """Per-component pixel planes from zigzag coefficient grids:
    dequantize + inverse-DCT every block, upsample subsampled
    components to full resolution by pixel replication (the box-filter
    inverse; libjpeg's default "fancy" triangular upsample differs by
    <=1 LSB on gradients and not at all on MCU-constant chroma), crop
    to (height, width). Un-rounded floats in SOF order; callers
    round/clip."""
    out = []
    for cid, h, v, tq in fr.comps:
        if tq not in fr.quant:
            raise ValueError(f"missing quantization table {tq}")
        q = fr.quant[tq]
        arr = coef[cid]
        plane = np.zeros((arr.shape[0] * 8, arr.shape[1] * 8))
        c = np.zeros(64)
        for by in range(arr.shape[0]):
            for bx in range(arr.shape[1]):
                c[ZIGZAG] = arr[by, bx]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _M.T @ (c.reshape(8, 8) * q) @ _M + 128.0
                )
        if (h, v) != (fr.hmax, fr.vmax):
            plane = np.repeat(np.repeat(plane, fr.vmax // v, axis=0), fr.hmax // h, axis=1)
        out.append(plane[: fr.height, : fr.width])
    return out


def _decode_block(
    br: _BitReader,
    dc_tbl: dict[tuple[int, int], int],
    ac_tbl: dict[tuple[int, int], int],
    prev_dc: int,
) -> tuple[np.ndarray, int]:
    """Entropy-decode one baseline 8x8 block: (zigzag coefficients, DC)."""
    zz = np.zeros(64, dtype=np.int64)
    size = _decode_huffman(br, dc_tbl)
    prev_dc += _extend(br.bits(size), size)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = _decode_huffman(br, ac_tbl)
        run, size = rs >> 4, rs & 0x0F
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += run
        if k > 63:
            raise ValueError("AC run overflows block")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    return zz, prev_dc


def _baseline_coefs(fr: _Frame, scan_comps: list[tuple[int, int, int]], data: bytes) -> dict[int, np.ndarray]:
    """Huffman-decode the one interleaved scan of a baseline stream:
    each MCU carries h_i x v_i blocks per component in raster order
    (T.81 A.2.3); at every restart boundary the reader byte-aligns,
    consumes RSTm (sequence number cycling 0-7) and every DC predictor
    resets (T.81 E.2.4)."""
    tables = [(cid, fr.huffman(0, td), fr.huffman(1, ta)) for cid, td, ta in scan_comps]
    hv_of = {cid: (h, v) for cid, h, v, _ in fr.comps}
    coef = fr.coef_grid()
    br = _BitReader(data)
    ri = fr.restart_interval
    prev_dc = dict.fromkeys(hv_of, 0)
    mcu_i = 0
    rst_m = 0
    for my in range(fr.mcus_y):
        for mx in range(fr.mcus_x):
            if ri and mcu_i and mcu_i % ri == 0:
                br.restart(rst_m)
                rst_m = (rst_m + 1) & 7
                prev_dc = dict.fromkeys(hv_of, 0)
            mcu_i += 1
            for cid, dc_tbl, ac_tbl in tables:
                h, v = hv_of[cid]
                for vy in range(v):
                    for vx in range(h):
                        coef[cid][my * v + vy, mx * h + vx], prev_dc[cid] = _decode_block(
                            br, dc_tbl, ac_tbl, prev_dc[cid]
                        )
    return coef


def _decode(content: bytes, sof: int | None = None) -> tuple[_Frame, list[np.ndarray]]:
    """Walk ``content`` once and decode it: (frame, per-component
    planes). Dispatches on the frame type — baseline SOF0, progressive
    SOF2, lossless SOF3 or arithmetic SOF9 — which must equal ``sof``
    when one is given. The sequential modes decode the first scan,
    which must interleave every component."""
    scans = _scans(content)
    first = next(scans, None)
    if first is None:
        raise ValueError("JPEG missing SOF/SOS")
    fr, scan, data = first
    if sof is not None and fr.sof != sof:
        raise ValueError("expected a SOF%d stream, got SOF%d" % (sof - 0xC0, fr.sof - 0xC0))
    if fr.sof == 0xC2:
        return fr, _finish(fr, _progressive_coefs(itertools.chain([first], scans)))
    if len(scan[0]) != len(fr.comps):
        raise ValueError("single-scan (interleaved) JPEG expected")
    if fr.sof == 0xC3:
        return fr, _lossless_planes(fr, scan, data)
    if fr.sof == 0xC9:  # arithmetic-coded sequential (Annex D QM-coder)
        from .jpeg_arith import _arith_coefs

        return fr, _finish(fr, _arith_coefs(fr, scan[0], data))
    return fr, _finish(fr, _baseline_coefs(fr, scan[0], data))


def _parse(content: bytes, sof: int | None = None) -> tuple[int, int, list[np.ndarray]]:
    """(width, height, planes) of any supported stream (see _decode)."""
    fr, planes = _decode(content, sof)
    return fr.width, fr.height, planes


def _gray_features(width: int, height: int, plane: np.ndarray, precision: int) -> list[float]:
    """[width, height, mean, mean, mean, topleft] of one rounded plane,
    clipped to the frame precision — r=g=b=luma."""
    img = np.clip(np.rint(plane), 0, (1 << precision) - 1)
    mean = float(img.mean())
    return [float(width), float(height), mean, mean, mean, float(img[0, 0])]


def decode_jpeg_gray(content: bytes) -> list[float]:
    """REAL JPEG decode (grayscale; baseline, progressive, lossless or
    arithmetic): decode_jpeg's one-plane features, [width, height,
    mean, mean, mean, topleft]; a multi-component stream is a
    ValueError."""
    fr, planes = _decode(content)
    if len(planes) != 1:
        raise ValueError("decode_jpeg_gray handles single-component JPEGs")
    return _gray_features(fr.width, fr.height, planes[0], fr.precision)


def decode_jpeg(content: bytes) -> list[float]:
    """REAL JPEG decode, 1- or 3-component (4:4:4 or subsampled, e.g.
    4:2:0), baseline, progressive, lossless or arithmetic-coded:
    [width, height, mean_r, mean_g, mean_b, topleft_r] — the feature
    shape of decode_bmp/decode_png. Grayscale decodes with r=g=b=luma;
    color converts YCbCr->RGB with the standard JFIF matrix
    (R = Y + 1.402 Cr', G = Y - 0.344136 Cb' - 0.714136 Cr',
    B = Y + 1.772 Cb'; primed = centered), rounded then clipped."""
    fr, planes = _decode(content)
    if len(planes) == 1:
        return _gray_features(fr.width, fr.height, planes[0], fr.precision)
    y, cb, cr = planes
    r = np.clip(np.rint(y + 1.402 * (cr - 128.0)), 0, 255)
    g = np.clip(np.rint(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)), 0, 255)
    b = np.clip(np.rint(y + 1.772 * (cb - 128.0)), 0, 255)
    return [
        float(fr.width),
        float(fr.height),
        float(r.mean()),
        float(g.mean()),
        float(b.mean()),
        float(r[0, 0]),
    ]


# ---------------------------------------------------------------------------
# Progressive (SOF2) support — the second real-world JPEG variant after
# restart intervals. A progressive stream sends the quantized DCT
# coefficients over MULTIPLE scans: spectral selection (a scan carries
# one zigzag band [Ss..Se]) and successive approximation (a first scan
# carries coefficients at reduced precision `>> Al`, refinement scans
# add one bit of precision each, T.81 Annex G). The decoder below
# accumulates per-component coefficient arrays across scans and only
# then dequantizes + IDCTs, so it handles any spectral/approximation
# split a conforming encoder chooses; AC first/refinement scans use
# EOB-run coding (EOBn symbols 0xN0 covering 2^N..2^(N+1)-1 all-zero
# band remainders) with correction-bit buffering per G.1.2.3.
# ---------------------------------------------------------------------------


def _comp_blocks(fr: _Frame, h: int, v: int) -> tuple[int, int]:
    """Non-interleaved block grid of one component (T.81 A.1.1): the
    component's own sample dims, ceil-divided into 8x8 blocks."""
    cw = -(-fr.width * h // fr.hmax)
    ch = -(-fr.height * v // fr.vmax)
    return -(-cw // 8), -(-ch // 8)


def _decode_dc_scan(
    br: _BitReader,
    fr: _Frame,
    scan_comps: list[tuple[int, dict | None]],  # (cid, DC table; None in refinement)
    coef: dict[int, np.ndarray],
    ah: int,
    al: int,
) -> None:
    hv_of = {cid: (h, v) for cid, h, v, _ in fr.comps}
    prev_dc = {cid: 0 for cid, _ in scan_comps}
    if len(scan_comps) == 1:
        cid, tbl = scan_comps[0]
        bw_, bh_ = _comp_blocks(fr, *hv_of[cid])
        units = [(cid, tbl, by, bx) for by in range(bh_) for bx in range(bw_)]
        per_ri = 1  # restart interval counts data units in non-interleaved scans
    else:
        units = []
        for my in range(fr.mcus_y):
            for mx in range(fr.mcus_x):
                for cid, tbl in scan_comps:
                    h, v = hv_of[cid]
                    for vy in range(v):
                        for vx in range(h):
                            units.append((cid, tbl, my * v + vy, mx * h + vx))
        per_ri = sum(h * v for cid, _ in scan_comps for h, v in [hv_of[cid]])
    ri = fr.restart_interval
    rst_m = 0
    for i, (cid, tbl, by, bx) in enumerate(units):
        if ri and i and i % (ri * per_ri) == 0:
            br.restart(rst_m)
            rst_m = (rst_m + 1) & 7
            prev_dc = {c: 0 for c, _ in scan_comps}
        if ah == 0:
            size = _decode_huffman(br, tbl)
            prev_dc[cid] += _extend(br.bits(size), size)
            coef[cid][by, bx, 0] = prev_dc[cid] << al
        else:
            if br.bit():
                coef[cid][by, bx, 0] |= 1 << al


def _refine_nonzero(br: _BitReader, block: np.ndarray, k: int, se: int, al: int) -> None:
    """Correction bits for every already-nonzero coefficient in
    zigzag positions [k..se] (T.81 G.1.2.3)."""
    for j in range(k, se + 1):
        if block[j] != 0:
            if br.bit():
                if block[j] > 0:
                    block[j] += 1 << al
                else:
                    block[j] -= 1 << al


def _decode_ac_scan(
    br: _BitReader,
    fr: _Frame,
    cid: int,
    table: dict[tuple[int, int], int],
    coef: dict[int, np.ndarray],
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> None:
    h, v = next((h, v) for c, h, v, _ in fr.comps if c == cid)
    bw_, bh_ = _comp_blocks(fr, h, v)
    ri = fr.restart_interval
    eobrun = 0
    rst_m = 0
    unit = 0
    for by in range(bh_):
        for bx in range(bw_):
            if ri and unit and unit % ri == 0:
                br.restart(rst_m)
                rst_m = (rst_m + 1) & 7
                eobrun = 0
            unit += 1
            block = coef[cid][by, bx]
            if ah == 0:
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _decode_huffman(br, table)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        eobrun = (1 << r) - 1 + (br.bits(r) if r else 0)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run overflows spectral band")
                    block[k] = _extend(br.bits(s), s) << al
                    k += 1
            else:
                if eobrun > 0:
                    eobrun -= 1
                    _refine_nonzero(br, block, ss, se, al)
                    continue
                k = ss
                while k <= se:
                    rs = _decode_huffman(br, table)
                    r, s = rs >> 4, rs & 0x0F
                    newval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) + (br.bits(r) if r else 0)
                            break
                        # ZRL: pass 16 zero-HISTORY coefficients
                    else:
                        if s != 1:
                            raise ValueError("AC refinement magnitude must be 1")
                        newval = (1 << al) if br.bit() else -(1 << al)
                    while k <= se:
                        if block[k] != 0:
                            if br.bit():
                                if block[k] > 0:
                                    block[k] += 1 << al
                                else:
                                    block[k] -= 1 << al
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        block[k] = newval
                    k += 1
                if eobrun > 0:
                    _refine_nonzero(br, block, k, se, al)
                    eobrun -= 1


def _progressive_coefs(scans: Iterator[_Scan]) -> dict[int, np.ndarray]:
    """Accumulate the quantized coefficients of every progressive scan:
    spectral selection, successive approximation (DC and AC first +
    refinement scans), interleaved and single-component DC scans, EOB
    runs, restart intervals within any scan. Each scan decodes with the
    tables and restart interval in force at its SOS."""
    coef: dict[int, np.ndarray] = {}
    for fr, (scan_comps, ss, se, ah, al), data in scans:
        if not coef:
            coef = fr.coef_grid()
        br = _BitReader(data)
        if ss == 0:
            if se != 0:
                raise ValueError("progressive DC scan must have Se=0")
            # only first DC scans read a table; refinement bits are raw
            tables = [(cid, fr.huffman(0, td) if ah == 0 else None) for cid, td, _ in scan_comps]
            _decode_dc_scan(br, fr, tables, coef, ah, al)
        else:
            if len(scan_comps) != 1:
                raise ValueError("progressive AC scan must be single-component")
            if ss > se or se > 63:
                raise ValueError("progressive AC scan band out of range")
            cid, _, ta = scan_comps[0]
            _decode_ac_scan(br, fr, cid, fr.huffman(1, ta), coef, ss, se, ah, al)
    return coef


# --------------------------- progressive encoder ---------------------------
# Fixture-grade progressive encoder: DC first + refinement scans
# (successive approximation Al=1 -> 0) and per-component AC scans with
# BOTH spectral selection (band split) and successive approximation,
# using EOB-run coding with libjpeg's correction-bit buffering
# discipline (jcphuff's invariant: a ZRL is emitted eagerly whenever
# the zero-history run exceeds 15, so every buffered correction bit
# belongs to the next emitted window). The decoder above is the
# general T.81 Annex-G inverse; round-trip tests pin the pair.

# A flat 8-bit AC table over every (run<<4 | size) with size <= 11:
# progressive AC scans need EOBn symbols (0x10..0xE0) that the baseline
# Annex-K tables do not carry. 192 codes of length 8 leave the all-ones
# code unused, as T.81 requires; 8-bit source imagery never produces a
# quantized AC magnitude category above 11.
PROG_AC_VALUES = [(r << 4) | s for r in range(16) for s in range(12)]
PROG_AC_BITS = [0] * 17
PROG_AC_BITS[8] = len(PROG_AC_VALUES)


def _quantized_blocks(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """(bh, bw, 64) zigzag-ordered quantized DCT coefficients."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    out = np.zeros((bh, bw, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            out[by, bx] = _quantize(plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], quant)
    return out


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: magnitude shift, sign preserved (G.1.2.2)."""
    return (abs(v) >> al) * (1 if v >= 0 else -1)


class _ProgAcEncoder:
    """Shared EOB-run + buffered-correction-bit state for one AC scan."""

    def __init__(self, bw: _BitWriter, codes: dict[int, tuple[int, int]]) -> None:
        self.bw = bw
        self.codes = codes
        self.eobrun = 0
        self.bits: list[int] = []

    def sym(self, s: int) -> None:
        code, ln = self.codes[s]
        self.bw.put(code, ln)

    def flush_eob(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.sym(r << 4)
            self.bw.put(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.bits:
            self.bw.put(b, 1)
        self.bits = []

    def end_block(self, pending_bits: list[int], leftovers: bool) -> None:
        if leftovers or pending_bits:
            self.eobrun += 1
            self.bits.extend(pending_bits)
            if self.eobrun == 0x7FFF:
                self.flush_eob()


def _encode_ac_first(enc: _ProgAcEncoder, block: np.ndarray, ss: int, se: int, al: int) -> None:
    vals = [(k, _pt_ac(int(block[k]), al)) for k in range(ss, se + 1)]
    nz = [(k, v) for k, v in vals if v != 0]
    if not nz:
        enc.end_block([], True)
        return
    enc.flush_eob()
    prev = ss - 1
    for k, v in nz:
        run = k - prev - 1
        while run >= 16:
            enc.sym(0xF0)
            run -= 16
        size, bits = _magnitude(v)
        enc.sym(run * 16 + size)
        enc.bw.put(bits, size)
        prev = k
    enc.end_block([], prev < se)


def _encode_ac_refine(enc: _ProgAcEncoder, block: np.ndarray, ss: int, se: int, al: int) -> None:
    r = 0
    pend: list[int] = []
    for k in range(ss, se + 1):
        temp = abs(int(block[k])) >> al
        if temp == 0:
            r += 1
            continue
        while r > 15:
            enc.flush_eob()
            enc.sym(0xF0)
            r -= 16
            for b in pend:
                enc.bw.put(b, 1)
            pend = []
        if temp > 1:  # history coefficient: buffer its correction bit
            pend.append(temp & 1)
            continue
        enc.flush_eob()
        enc.sym(r * 16 + 1)
        enc.bw.put(1 if block[k] > 0 else 0, 1)
        r = 0
        for b in pend:
            enc.bw.put(b, 1)
        pend = []
    enc.end_block(pend, r > 0)


def make_jpeg_progressive(
    width: int,
    height: int,
    pixel_fn: Callable,
    components: int = 1,
    colorspace: str = "ycbcr",
    ac_bands: tuple = ((1, 5), (6, 63)),
) -> bytes:
    """Encode a progressive (SOF2) JFIF stream: interleaved DC first
    scan at Al=1, per-component AC first scans per spectral band at
    Al=1, DC refinement (raw bits), then AC refinement scans to Al=0.
    ``components`` is 1 (grayscale, pixel_fn -> int) or 3 (4:4:4;
    pixel_fn -> (r,g,b) or (y,cb,cr) per ``colorspace``)."""
    planes = _pixel_planes(width, height, pixel_fn, None if components == 1 else colorspace)
    quants = [QUANT, QUANT_C, QUANT_C]
    coef = [_quantized_blocks(_pad_mult(p, 8), q) for p, q in zip(planes, quants)]
    bh, bw_ = coef[0].shape[0], coef[0].shape[1]

    dc_codes = _canonical_codes(DC_BITS, DC_VALUES)
    ac_codes = _canonical_codes(PROG_AC_BITS, PROG_AC_VALUES)
    scans = []

    # Scan 1: interleaved DC first, Al=1 (diff-coded arithmetic shift).
    w1 = _BitWriter()
    prev = [0] * components
    for by in range(bh):
        for bx in range(bw_):
            for ci in range(components):
                v = int(coef[ci][by, bx, 0]) >> 1
                size, bits = _magnitude(v - prev[ci])
                code, ln = dc_codes[size]
                w1.put(code, ln)
                w1.put(bits, size)
                prev[ci] = v
    w1.flush()
    scans.append((_sos_seg([(ci + 1, 0, 0) for ci in range(components)], 0, 0, 0, 1), w1))

    # AC first scans: one per (component, band), Al=1.
    for ci in range(components):
        for ss, se in ac_bands:
            w = _BitWriter()
            enc = _ProgAcEncoder(w, ac_codes)
            for by in range(bh):
                for bx in range(bw_):
                    _encode_ac_first(enc, coef[ci][by, bx], ss, se, 1)
            enc.flush_eob()
            w.flush()
            scans.append((_sos_seg([(ci + 1, 0, 0)], ss, se, 0, 1), w))

    # DC refinement: one raw bit per block per component, interleaved.
    w2 = _BitWriter()
    for by in range(bh):
        for bx in range(bw_):
            for ci in range(components):
                w2.put(int(coef[ci][by, bx, 0]) & 1, 1)
    w2.flush()
    scans.append((_sos_seg([(ci + 1, 0, 0) for ci in range(components)], 0, 0, 1, 0), w2))

    # AC refinement scans to Al=0.
    for ci in range(components):
        for ss, se in ac_bands:
            w = _BitWriter()
            enc = _ProgAcEncoder(w, ac_codes)
            for by in range(bh):
                for bx in range(bw_):
                    _encode_ac_refine(enc, coef[ci][by, bx], ss, se, 0)
            enc.flush_eob()
            w.flush()
            scans.append((_sos_seg([(ci + 1, 0, 0)], ss, se, 1, 0), w))

    return _jfif(
        _dqt_seg(components)
        + _sof_seg(0xFFC2, 8, width, height, components)
        + _dht_seg(0x00, DC_BITS, DC_VALUES)
        + _dht_seg(0x10, PROG_AC_BITS, PROG_AC_VALUES)
        + b"".join(sos + bytes(w.out) for sos, w in scans)
    )


# ---------------------------------------------------------------------------
# Lossless JPEG (SOF3, T.81 Annex H) — the DPCM mode of the standard:
# no DCT, no quantization; each sample is predicted from its causal
# neighbours A (left), B (above), C (above-left) by one of seven fixed
# predictors, and the prediction DIFFERENCE is Huffman-coded with the
# same SSSS-category + appended-bits scheme the DCT modes use for DC
# terms. Boundary rules per H.1.1: the first sample of the image is
# predicted by 2^(P-1) (= 128 at 8-bit, point transform 0); the rest of
# the first line falls back to predictor 1 (A); the first sample of
# every other line uses predictor 2 (B). Shifts in predictors 5-7 are
# integer right-shifts. Because the mode is lossless, ANY fixture image
# round-trips bit-exactly — no quant-divisibility construction needed.
# ---------------------------------------------------------------------------


def _lossless_predict(
    img: np.ndarray, x: int, y: int, psel: int, precision: int = 8
) -> int:
    """Causal prediction for sample (y, x) per T.81 H.1 (Pt = 0)."""
    if x == 0 and y == 0:
        return 1 << (precision - 1)
    if y == 0:
        return int(img[0, x - 1])  # rest of first line: predictor 1
    if x == 0:
        return int(img[y - 1, 0])  # first column: predictor 2
    a = int(img[y, x - 1])
    b = int(img[y - 1, x])
    c = int(img[y - 1, x - 1])
    if psel == 1:
        return a
    if psel == 2:
        return b
    if psel == 3:
        return c
    if psel == 4:
        return a + b - c
    if psel == 5:
        return a + ((b - c) >> 1)
    if psel == 6:
        return b + ((a - c) >> 1)
    if psel == 7:
        return (a + b) >> 1
    raise ValueError(f"invalid lossless predictor {psel}")


# A canonical table for 12-bit lossless diffs: categories 0..16 (the
# K.3 DC table stops at 11; lossless SSSS runs to 16 per Table H.2 —
# predictors like A+B−C can push the raw difference past ±(2^P−1), and
# H.1.2.3 codes differences MODULO 65536, so the category space is the
# full signed-16-bit range with SSSS=16 ≡ 32768 carrying no appended
# bits). Not an Annex-K table — lossless streams always carry their own
# DHT, so the decoder interop contract is the segment, not the
# constants.
DC_L12_BITS = [0, 0, 1, 3, 3, 2, 1, 1, 1, 1, 0, 1, 1, 1, 1, 0, 0]
DC_L12_VALUES = list(range(17))


def make_jpeg_lossless(
    width: int, height: int, pixel, predictor: int = 4, precision: int = 8
) -> bytes:
    """Encode a grayscale image LOSSLESSLY (SOF3, one scan, predictor
    selector carried in the SOS Ss field per T.81 H.2) at 8- or 12-bit
    precision. ``pixel(x, y) -> 0..2^precision-1``. 8-bit uses the
    Annex K.3 luminance DC table (diff categories 0..8); 12-bit uses a
    13-category canonical table — either way the table rides in the DHT
    segment, so decoder interop does not depend on the constants."""
    if precision not in (8, 12):
        raise ValueError("lossless encoder supports precision 8 or 12")
    img = _pixel_planes(width, height, pixel)[0].astype(np.int64) & ((1 << precision) - 1)
    bits_t, vals_t = (
        (DC_BITS, DC_VALUES) if precision == 8 else (DC_L12_BITS, DC_L12_VALUES)
    )
    dc_codes = _canonical_codes(bits_t, vals_t)
    bw = _BitWriter()
    for y in range(height):
        for x in range(width):
            px = _lossless_predict(img, x, y, predictor, precision)
            # H.1.2.3: differences are coded modulo 65536 (the raw
            # difference can exceed ±(2^P−1) under predictors 4-7)
            d = ((int(img[y, x]) - px + 32768) & 0xFFFF) - 32768
            if d == -32768:  # ≡ 32768 (mod 2^16): SSSS=16, no bits
                code, ln = dc_codes[16]
                bw.put(code, ln)
                continue
            size, bits = _magnitude(d)
            code, ln = dc_codes[size]
            bw.put(code, ln)
            bw.put(bits, size)
    bw.flush()
    return _jfif(
        _dht_seg(0x00, bits_t, vals_t)
        + _sof_seg(0xFFC3, precision, width, height, 1)
        + _sos_seg([(1, 0, 0)], predictor, 0, 0, 0)
        + bytes(bw.out)
    )


def _lossless_planes(fr: _Frame, scan: tuple, data: bytes) -> list[np.ndarray]:
    """Decode the one-component lossless (SOF3) scan: DHT-driven SSSS
    decode + EXTEND + causal prediction (selector in Ss), raster order
    (the lossless MCU is one sample). Returns the plane un-rounded like
    the DCT modes (values are already exact integers here). Restart
    intervals are not supported (DRI > 0 raises; the encoder never
    writes one)."""
    if fr.restart_interval:
        raise ValueError("restart intervals not supported in lossless scans")
    (scan_comps, psel, _, _, _) = scan
    dc_tbl = fr.huffman(0, scan_comps[0][1])
    br = _BitReader(data)
    img = np.zeros((fr.height, fr.width), dtype=np.int64)
    for y in range(fr.height):
        for x in range(fr.width):
            size = _decode_huffman(br, dc_tbl)
            # SSSS=16 carries no appended bits and means 32768 (H.2)
            diff = 32768 if size == 16 else _extend(br.bits(size), size)
            # reconstruction is modulo 65536 (H.1.2.3); the unique
            # representative of sample mod 2^16 in [0, 65535] IS the
            # sample for any precision <= 16
            img[y, x] = (
                _lossless_predict(img, x, y, psel, fr.precision) + diff
            ) & 0xFFFF
    return [img.astype(np.float64)]
