"""Arithmetic-coded sequential JPEG (ITU T.81 Annex D QM-coder +
Annex F statistical models) — completes the codec matrix next to the
baseline/progressive/lossless Huffman decoders in ``jpeg.py``.

Implements the adaptive binary arithmetic coder of T.81 Annex D (the
QM-coder: 16-bit interval register A kept in [0x8000, 0x10000) by
renormalization, code register C with 0xFF byte stuffing, carry
propagation over stacked 0xFF bytes, CLEARBITS flush) with the
probability-estimation state machine of Table D.3 (113 adaptive states
plus the non-adapting ~0.5 state used for AC sign decisions), and the
sequential-DCT statistical models of F.1.4.4:

- DC (F.1.4.4.1): per-component conditioning on the previous diff's
  classification (zero / ±small / ±large via the L, U bounds from the
  DAC segment; defaults L=0, U=1) — five 4-bin banks (S0, SS, SP, SN)
  at offsets {0,4,8,12,16}, magnitude-category tree bins X1..X15 at
  20..34, mantissa bins at +14.
- AC (F.1.4.4.2): per-coefficient-index banks of 3 bins (SE end-of-
  block, S0 significant, X1/X2 magnitude) at 3(k-1), the sign coded
  with the FIXED non-adaptive state, and the high-magnitude tree
  shared across k at 189 (k <= Kx) / 217 (k > Kx), Kx from DAC
  (default 5).

Both the encoder and the decoder here follow the Annex D flowcharts
(D.4-D.10 encode, D.13-D.20 decode) independently; they share only the
Table D.3 state machine, so the pytest round-trip exactness tests are
a real cross-check of the two register pipelines, not a tautology.
There is no external arithmetic-JPEG producer in this container
(libjpeg 6.2 predates arithmetic support), so conformance evidence is
round-trip + structural (stream starts with the emitted markers, 0xFF
bytes are stuffed, DAC conditioning is honored).

Frame type SOF9 (extended sequential DCT, arithmetic). Interleaved
4:4:4 MCUs (one block per component); restart intervals are NOT
supported (DRI > 0 raises — the encoder never emits one); a corrupt
stream raises ValueError (same poisoned-blob policy as the Huffman
decoders and decode_png).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from .jpeg import (
    QUANT,
    QUANT_C,
    _SCAN_COMPS,
    _dqt_seg,
    _Frame,
    _jfif,
    _parse,
    _pad_mult,
    _pixel_planes,
    _quantized_blocks,
    _seg,
    _sof_seg,
    _sos_seg,
)

# ---------------------------------------------------------------------------
# Table D.3 — Qe values and probability estimation state machine.
# (qe, next_index_mps, next_index_lps, switch_mps); index 113 is the
# non-adapting ~0.5 state used for AC sign decisions (F.1.4.4.2).
# ---------------------------------------------------------------------------

_QE: list[tuple[int, int, int, int]] = [
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0), (0x080B, 4, 18, 0),
    (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0), (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0),
    (0x0036, 9, 30, 0), (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1), (0x3F25, 16, 36, 0),
    (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0), (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0),
    (0x0CEF, 21, 43, 0), (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0), (0x01B1, 28, 54, 0),
    (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0), (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0),
    (0x0068, 33, 62, 0), (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0), (0x2EF1, 40, 67, 0),
    (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0), (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0),
    (0x1177, 45, 73, 0), (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0), (0x04DE, 52, 50, 0),
    (0x040F, 53, 50, 0), (0x0363, 54, 51, 0), (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0),
    (0x01F8, 57, 54, 0), (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0), (0x008F, 32, 61, 0),
    (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0), (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0),
    (0x2FE8, 69, 83, 0), (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0), (0x119C, 76, 74, 0),
    (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0), (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0),
    (0x5832, 81, 80, 1), (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0), (0x2516, 71, 86, 0),
    (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0), (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0),
    (0x3824, 93, 99, 0), (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0), (0x3C3D, 100, 104, 0),
    (0x375E, 93, 99, 0), (0x5231, 102, 105, 0), (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0),
    (0x415E, 99, 103, 0), (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1), (0x5522, 109, 112, 0),
    (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
]

_FIXED = 113  # non-adapting ~0.5 state (AC sign)

# default conditioning (T.81 F.1.4.4.1.2 / F.1.4.4.2; DAC overrides)
_DC_L, _DC_U, _AC_KX = 0, 1, 5

_DC_BINS, _AC_BINS = 64, 256


def _new_stats(n: int) -> list[list[int]]:
    """n statistics bins, each [state_index, mps] starting at (0, 0)."""
    return [[0, 0] for _ in range(n)]


# ---------------------------------------------------------------------------
# Annex D encoder (Figures D.4-D.10): MPS codes the bottom subinterval,
# conditional exchange when the MPS subinterval shrinks below Qe,
# byte output at C bits 26..19 with 0xFF stacking and carry resolution.
# ---------------------------------------------------------------------------


class _ArithEncoder:
    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11  # 8 output bits + 3 spacer bits
        self.b: int | None = None  # last byte, held for possible carry
        self.ff = 0  # stacked 0xFF bytes (carry-ambiguous)
        self.out = bytearray()

    def _emit(self, byte: int) -> None:
        self.out.append(byte)
        if byte == 0xFF:  # B.1.1.5 byte stuffing
            self.out.append(0x00)

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:  # carry: resolves the held byte and every stacked FF
            if self.b is None:
                raise ValueError("arithmetic encoder carry with no output byte")
            self._emit(self.b + 1)
            for _ in range(self.ff):
                self.out.append(0x00)  # FF + carry = stuffed-zero-free 00
            self.ff = 0
            self.b = t & 0xFF
        elif t == 0xFF:
            self.ff += 1  # can't emit yet — a later carry may flip it
        else:
            if self.b is not None:
                self._emit(self.b)
            for _ in range(self.ff):
                self._emit(0xFF)  # _emit adds the stuffed 0x00
            self.ff = 0
            self.b = t
        self.c &= 0x7FFFF

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
                self.ct = 8

    def encode(self, st: list[int], d: int) -> None:
        qe, nmps, nlps, sw = _QE[st[0]]
        self.a -= qe
        if d == st[1]:  # MPS
            if self.a >= 0x8000:
                return
            if self.a < qe:  # conditional exchange: MPS takes the top
                self.c += self.a
                self.a = qe
            st[0] = nmps
            self._renorm()
        else:  # LPS
            if self.a < qe:  # conditional exchange: LPS takes the bottom
                pass
            else:
                self.c += self.a
                self.a = qe
            if sw:
                st[1] = 1 - st[1]
            st[0] = nlps
            self._renorm()

    def flush(self) -> bytes:
        # CLEARBITS (Figure D.15): set as many low C bits as possible
        # to zero while staying inside the final interval — any suffix
        # (the decoder feeds zeros past the end) then decodes correctly.
        t = (self.c + self.a - 1) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        self._byteout()
        self.c <<= 8
        self._byteout()
        if self.b is not None:
            self._emit(self.b)
        for _ in range(self.ff):
            self._emit(0xFF)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Annex D decoder (Figures D.13-D.20): Cx = C bits 31..16 locates the
# coded point inside A; BYTEIN inserts at bit 8 with unstuffing; zeros
# are fed past the end of data / at a marker (legal for arithmetic
# scans — the CLEARBITS flush guarantees any suffix stays in-interval).
# ---------------------------------------------------------------------------


class _ArithDecoder:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        # Mirror the encoder's register alignment exactly: A starts at
        # 0x10000 (the full interval, bit 16 = 1.0) so the decoder's A
        # sequence tracks the encoder's in lockstep from the FIRST
        # decision (the first encode can return without renormalizing,
        # so an A=0x8000 start would diverge immediately); the first
        # two code bytes load at C bits 31..16 (b1 at bit 31, matching
        # the encoder's byteout window at bits 26..19 after CT=11
        # shifts), CT=0 so the next renorm fetches byte 3 at bits 15..8.
        self.c = (self._next_byte() << 24) | (self._next_byte() << 16)
        self.ct = 0
        self.a = 0x10000

    def _next_byte(self) -> int:
        if self.pos >= len(self.data):
            return 0
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 < len(self.data) and self.data[self.pos + 1] == 0x00:
                self.pos += 2  # stuffed data 0xFF
                return 0xFF
            return 0  # marker: stop consuming, feed zeros
        self.pos += 1
        return b

    def _bytein(self) -> None:
        self.c = (self.c + (self._next_byte() << 8)) & 0xFFFFFFFF
        self.ct = 8

    def decode(self, st: list[int]) -> int:
        qe, nmps, nlps, sw = _QE[st[0]]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < self.a:
            if self.a & 0x8000:
                return st[1]
            # renorm needed: conditional exchange decides MPS vs LPS
            if self.a < qe:
                d = 1 - st[1]
                if sw:
                    st[1] = 1 - st[1]
                st[0] = nlps
            else:
                d = st[1]
                st[0] = nmps
        else:
            self.c = (self.c - (self.a << 16)) & 0xFFFFFFFF
            if self.a < qe:  # conditional exchange
                d = st[1]
                st[0] = nmps
            else:
                d = 1 - st[1]
                if sw:
                    st[1] = 1 - st[1]
                st[0] = nlps
            self.a = qe
        while True:  # RENORMD
            if self.ct == 0:
                self._bytein()
            self.a <<= 1
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


# ---------------------------------------------------------------------------
# F.1.4.4.1 — DC coefficient statistical model.
# ---------------------------------------------------------------------------


def _encode_dc(
    enc: _ArithEncoder, stats: list[list[int]], ctx: int, diff: int, lo: int, up: int
) -> int:
    """Encode one DC difference; returns the next conditioning context."""
    st = ctx
    if diff == 0:
        enc.encode(stats[st], 0)
        return 0
    enc.encode(stats[st], 1)
    if diff > 0:
        enc.encode(stats[st + 1], 0)
        st += 2
        new_ctx = 4
        v = diff
    else:
        enc.encode(stats[st + 1], 1)
        st += 3
        new_ctx = 8
        v = -diff
    m = 0
    v -= 1
    if v:
        enc.encode(stats[st], 1)
        m = 1
        st = 20  # X1
        v2 = v
        while v2 >> 1:
            v2 >>= 1
            enc.encode(stats[st], 1)
            m <<= 1
            st += 1
    enc.encode(stats[st], 0)
    if m < (1 << lo) >> 1:
        new_ctx = 0
    elif m > (1 << up) >> 1:
        new_ctx += 8  # 12 / 16: large ± category
    st += 14
    mm = m
    while mm >> 1:
        mm >>= 1
        enc.encode(stats[st], 1 if (mm & v) else 0)
    return new_ctx


def _decode_dc(
    dec: _ArithDecoder, stats: list[list[int]], ctx: int, lo: int, up: int
) -> tuple[int, int]:
    """Decode one DC difference; returns (diff, next conditioning ctx)."""
    st = ctx
    if dec.decode(stats[st]) == 0:
        return 0, 0
    sign = dec.decode(stats[st + 1])
    st += 2 + sign
    m = dec.decode(stats[st])
    if m:
        st = 20
        while dec.decode(stats[st]):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arithmetic DC magnitude overflow")
            st += 1
    if m < (1 << lo) >> 1:
        new_ctx = 0
    elif m > (1 << up) >> 1:
        new_ctx = 12 + sign * 4
    else:
        new_ctx = 4 + sign * 4
    v = m
    st += 14
    while m >> 1:
        m >>= 1
        if dec.decode(stats[st]):
            v |= m
    v += 1
    return (-v if sign else v), new_ctx


# ---------------------------------------------------------------------------
# F.1.4.4.2 — AC coefficient statistical model (zigzag indices 1..63).
# ---------------------------------------------------------------------------


def _encode_ac(
    enc: _ArithEncoder, stats: list[list[int]], fixed: list[int], zz: np.ndarray, kx: int
) -> None:
    ke = 63
    while ke >= 1 and zz[ke] == 0:
        ke -= 1
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats[st], 0)  # not EOB yet
        while zz[k] == 0:
            enc.encode(stats[st + 1], 0)
            st += 3
            k += 1
        enc.encode(stats[st + 1], 1)
        v = int(zz[k])
        if v > 0:
            enc.encode(fixed, 0)
        else:
            enc.encode(fixed, 1)
            v = -v
        st += 2
        m = 0
        v -= 1
        if v:
            enc.encode(stats[st], 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(stats[st], 1)
                m <<= 1
                st = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(stats[st], 1)
                    m <<= 1
                    st += 1
        enc.encode(stats[st], 0)
        st += 14
        mm = m
        while mm >> 1:
            mm >>= 1
            enc.encode(stats[st], 1 if (mm & v) else 0)
        k += 1
    if k <= 63:
        st = 3 * (k - 1)
        enc.encode(stats[st], 1)  # EOB


def _decode_ac(
    dec: _ArithDecoder, stats: list[list[int]], fixed: list[int], kx: int
) -> np.ndarray:
    zz = np.zeros(64, dtype=np.int64)
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats[st]):
            break  # EOB
        while dec.decode(stats[st + 1]) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("arithmetic AC run past end of block")
        sign = dec.decode(fixed)
        st += 2
        m = dec.decode(stats[st])
        if m:
            if dec.decode(stats[st]):
                m = 2
                st = 189 if k <= kx else 217
                while dec.decode(stats[st]):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("arithmetic AC magnitude overflow")
                    st += 1
        v = m
        st += 14
        while m >> 1:
            m >>= 1
            if dec.decode(stats[st]):
                v |= m
        v += 1
        zz[k] = -v if sign else v
        k += 1
    return zz


# ---------------------------------------------------------------------------
# Encoder entry points (SOF9, 4:4:4, interleaved 1x1 MCUs).
# ---------------------------------------------------------------------------


def _dac_seg(ncomp: int) -> bytes:
    # DC conditioning (Tc=0): Cs = (U << 4) | L; AC (Tc=1): Cs = Kx.
    payload = bytes([0x00, (_DC_U << 4) | _DC_L, 0x10, _AC_KX])
    if ncomp == 3:
        payload += bytes([0x01, (_DC_U << 4) | _DC_L, 0x11, _AC_KX])
    return _seg(0xFFCC, payload)


def _make_arith(width: int, height: int, planes: list[np.ndarray]) -> bytes:
    """SOF9 stream of 1 or 3 planes in one interleaved 4:4:4 scan (one
    block per component per MCU): luma on conditioning/stats table 0
    with the K.1 quant table, chromas sharing table 1 with K.2, default
    DAC conditioning."""
    n = len(planes)
    blocks = [
        _quantized_blocks(_pad_mult(p, 8), q) for p, q in zip(planes, [QUANT, QUANT_C, QUANT_C])
    ]
    tbls = [0, 1, 1][:n]
    bh, bw = blocks[0].shape[0], blocks[0].shape[1]
    enc = _ArithEncoder()
    fixed = [_FIXED, 0]
    dc_stats = {t: _new_stats(_DC_BINS) for t in set(tbls)}
    ac_stats = {t: _new_stats(_AC_BINS) for t in set(tbls)}
    dc_ctx = [0] * n
    last_dc = [0] * n
    for by in range(bh):
        for bx in range(bw):
            for ci in range(n):
                zz = blocks[ci][by, bx]
                diff = int(zz[0]) - last_dc[ci]
                last_dc[ci] = int(zz[0])
                dc_ctx[ci] = _encode_dc(
                    enc, dc_stats[tbls[ci]], dc_ctx[ci], diff, _DC_L, _DC_U
                )
                _encode_ac(enc, ac_stats[tbls[ci]], fixed, zz, _AC_KX)
    return _jfif(
        _dqt_seg(n)
        + _dac_seg(n)
        + _sof_seg(0xFFC9, 8, width, height, n)
        + _sos_seg(_SCAN_COMPS[:n], 0, 63, 0, 0)
        + enc.flush()
    )


def make_jpeg_arith_gray(
    width: int, height: int, pixel_fn: Callable[[int, int], int]
) -> bytes:
    """Encode an 8-bit grayscale ARITHMETIC-coded sequential JPEG
    (SOF9, Annex-K luma quantization, default DAC conditioning)."""
    return _make_arith(width, height, _pixel_planes(width, height, pixel_fn))


def make_jpeg_arith_color(
    width: int, height: int, pixel_fn: Callable[[int, int], tuple[int, int, int]]
) -> bytes:
    """Encode a 3-component YCbCr 4:4:4 ARITHMETIC-coded sequential
    JPEG (SOF9): ``pixel_fn`` returns (Y, Cb, Cr) directly so fixtures
    stay closed-form; luma uses conditioning/stats table 0 with the
    K.1 quant table, both chromas share table 1 with K.2."""
    return _make_arith(width, height, _pixel_planes(width, height, pixel_fn, "ycbcr"))


# ---------------------------------------------------------------------------
# Decoder: jpeg._decode walks the stream and hands the SOF9 scan here.
# ---------------------------------------------------------------------------


def _arith_coefs(
    fr: _Frame, scan_comps: list[tuple[int, int, int]], data: bytes
) -> dict[int, np.ndarray]:
    """Decode the interleaved 4:4:4 arithmetic scan into zigzag
    coefficient grids (jpeg._finish dequantizes + IDCTs them). Every
    component must be 1x1 sampled; DRI/RST raise (the poisoned-blob
    policy — this decoder never emits them)."""
    if fr.restart_interval:
        raise ValueError("restart intervals not supported in arithmetic scans")
    if any((h, v) != (1, 1) for _, h, v, _ in fr.comps):
        raise ValueError("arithmetic decoder supports 4:4:4 sampling only")
    dec = _ArithDecoder(data)
    fixed = [_FIXED, 0]
    dc_stats = {t: _new_stats(_DC_BINS) for _, t, _ in scan_comps}
    ac_stats = {t: _new_stats(_AC_BINS) for _, _, t in scan_comps}
    dc_ctx = {cid: 0 for cid, _, _ in scan_comps}
    last_dc = {cid: 0 for cid, _, _ in scan_comps}
    coef = fr.coef_grid()
    for by in range(fr.mcus_y):
        for bx in range(fr.mcus_x):
            for cid, dc_t, ac_t in scan_comps:
                cs = fr.dac.get((0, dc_t))
                lo, up = (cs & 0x0F, cs >> 4) if cs is not None else (_DC_L, _DC_U)
                kx = fr.dac.get((1, ac_t), _AC_KX)
                diff, dc_ctx[cid] = _decode_dc(dec, dc_stats[dc_t], dc_ctx[cid], lo, up)
                last_dc[cid] += diff
                zz = _decode_ac(dec, ac_stats[ac_t], fixed, kx)
                zz[0] = last_dc[cid]
                coef[cid][by, bx] = zz
    return coef


def _parse_arith(content: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Parse an arithmetic-coded sequential (SOF9) JFIF stream into
    per-component full-resolution pixel planes; any other frame type
    raises.

    INTEROP LIMITATION (applies to every SOF9 stream routed here): the
    decoder's register initialization deviates from T.81 INITDEC
    (C = B << 16; BYTEIN; C <<= 7; CT -= 7) — it loads the first two
    bytes at C bits 31..16 with CT = 0. Encoder and decoder are pinned
    against each other by round-trip tests AND against the Huffman
    decode of the same image (tests/test_jpeg_arith.py), but decoding
    of EXTERNALLY-produced conforming SOF9 streams (e.g. libjpeg >= 7
    arithmetic output) is unverified and could silently mis-decode
    rather than raise. Validate against a known external conformance
    vector before trusting foreign SOF9 input."""
    return _parse(content, 0xC9)
