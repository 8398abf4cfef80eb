"""JPEG stream-reader checks shared by every frame type.

Every decoder reads its stream through one marker walk and one table
parser, so a malformed header raises the same ValueError whether the
frame is baseline (SOF0), progressive (SOF2), lossless (SOF3) or
arithmetic-coded (SOF9). The blobs below start from a well-formed
encoder output and rewrite one segment; the splitter here is written
independently of the decoder's walk.
"""

from __future__ import annotations

import pathlib
import struct

import pytest

from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J
from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg_arith as JA


def _gradient(x: int, y: int) -> int:
    return (3 * x + 5 * y) % 256


_BLOBS = {
    "SOF0": lambda: J.make_jpeg_gray(16, 16, _gradient),
    "SOF2": lambda: J.make_jpeg_progressive(16, 16, _gradient, components=1),
    "SOF3": lambda: J.make_jpeg_lossless(16, 16, _gradient, predictor=4),
    "SOF9": lambda: JA.make_jpeg_arith_gray(16, 16, _gradient),
}


def _segments(blob: bytes) -> list[tuple[int, bytes, bytes]]:
    """[(marker, payload, entropy bytes after it)] between SOI and EOI."""
    out = []
    pos = 2
    while blob[pos + 1] != 0xD9:
        marker = blob[pos + 1]
        (length,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        end = pos + 2 + length
        data_end = end
        if marker == 0xDA:
            while not (blob[data_end] == 0xFF and blob[data_end + 1] not in (0x00, *range(0xD0, 0xD8))):
                data_end += 2 if blob[data_end] == 0xFF else 1
        out.append((marker, blob[pos + 4 : end], blob[end:data_end]))
        pos = data_end
    return out


def _join(segs: list[tuple[int, bytes, bytes]]) -> bytes:
    body = b"".join(
        struct.pack(">BBH", 0xFF, m, len(p) + 2) + p + data for m, p, data in segs
    )
    return b"\xff\xd8" + body + b"\xff\xd9"


def _rewrite_sof(blob: bytes, fn) -> bytes:
    return _join(
        [(m, fn(p) if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC) else p, d)
         for m, p, d in _segments(blob)]
    )


def _prepend(blob: bytes, marker: int, payload: bytes) -> bytes:
    return _join([(marker, payload, b"")] + _segments(blob))


def _short_sof(blob: bytes) -> bytes:
    return _rewrite_sof(blob, lambda p: p[:5])


def _zero_sampling(blob: bytes) -> bytes:
    return _rewrite_sof(blob, lambda p: p[:7] + b"\x01" + p[8:])  # H=0, V=1


def _short_dht(blob: bytes) -> bytes:
    # three 2-bit codes declared, two values present
    return _prepend(blob, 0xC4, b"\x00" + bytes([0, 3] + [0] * 14) + b"\x00\x01")


_FAULTS = [
    (frame, fault, make)
    for frame in _BLOBS
    for fault, make in [("short_sof", _short_sof), ("zero_sampling", _zero_sampling), ("short_dht", _short_dht)]
    if not (fault == "zero_sampling" and frame == "SOF3")  # DCT modes only
]


@pytest.mark.parametrize("frame,fault,make", _FAULTS, ids=[f"{f}-{x}" for f, x, _ in _FAULTS])
def test_malformed_header_is_valueerror(frame, fault, make):
    with pytest.raises(ValueError):
        J.decode_jpeg(make(_BLOBS[frame]()))


def test_lossless_nonzero_restart_interval_raises():
    """The lossless decoder has no restart handling: a DRI segment must
    fail the blob, not be ignored (the same rule as SOF9)."""
    blob = _BLOBS["SOF3"]()
    with pytest.raises(ValueError, match="restart"):
        J.decode_jpeg(_prepend(blob, 0xDD, struct.pack(">H", 2)))
    assert J.decode_jpeg(_prepend(blob, 0xDD, struct.pack(">H", 0))) == J.decode_jpeg(blob)


def test_progressive_scans_see_tables_redefined_between_scans():
    """A progressive stream may define or replace a table between
    scans; each scan must decode with the table in force at its SOS.
    Here the header carries a decoy AC table and the real one only
    arrives right before the first AC scan."""
    blob = _BLOBS["SOF2"]()
    segs = _segments(blob)
    dht_ac = next(s for s in segs if s[0] == 0xC4 and s[1][0] == 0x10)
    decoy = (0xC4, b"\x10" + bytes([0, 2] + [0] * 14) + b"\x00\x01", b"")
    first_ac = next(i for i, s in enumerate(segs) if s[0] == 0xDA and s[1][-3] != 0)
    moved = [decoy if s is dht_ac else s for s in segs[:first_ac]] + [dht_ac] + segs[first_ac:]
    assert J.decode_jpeg_gray(_join(moved)) == J.decode_jpeg_gray(blob)


def test_decode_dispatch_guards_the_expected_frame_type():
    with pytest.raises(ValueError, match="SOF9"):
        JA._parse_arith(_BLOBS["SOF0"]())


def test_one_stream_reader_in_operators():
    """The marker walk, the DQT/DHT/SOF parsers and the dequantize +
    IDCT plane finish each exist once in operators/, shared by all four
    frame types."""
    root = pathlib.Path(J.__file__).parent
    src = "".join(p.read_text() for p in sorted(root.glob("*.py")))
    assert src.count('unpack_from(">H", content') == 1
    assert src.count("[ZIGZAG] = np.frombuffer(") == 1
    assert src.count("JPEG DHT segment truncated") == 1
    assert src.count('unpack_from(">BHHB"') == 1
    assert src.count("@ _M + 128.0") == 1
