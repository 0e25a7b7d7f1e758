"""CCITT Group 4 (ITU-T T.6) bilevel codec — pure Python, from the
public Recommendation.

This is THE compression of scanned-document archives: bilevel newspaper
page images (the reference's NCSE domain) are overwhelmingly G4-in-TIFF
(Compression=4).  T.6 codes each row against the row above with
vertical / horizontal / pass modes; horizontal runs use the T.4
modified-Huffman white/black run-length tables reproduced below from
the Recommendation.

Conventions (the TIFF ones): MSB-first bit packing, rows byte-aligned
only in the OUTPUT raster (the code stream itself is continuous, no
EOLs), Photometric WhiteIsZero — decoded bit 1 = black.  The encoder
terminates with EOFB; the decoder stops after the expected row count
and tolerates a missing EOFB (TIFF writers may omit it).

Verification available in this sandbox: exhaustive encode↔decode
round-trips over synthetic page rasters (text-like runs, noise, edge
widths) plus structural known-answer tests (mode sequences and code
words for hand-built rows).  No external TIFF reader exists in the
image to cross-check interop, so the tables below carry the spec
citation per block.
"""

from __future__ import annotations

# ------------------------------------------------------- T.4 run tables
# (run length, code bits as string).  Terminal codes 0-63, then makeup
# codes 64-1728, then the extended makeup codes 1792-2560 shared by
# both colors (T.4 tables 2/3bis).
_WHITE_CODES: dict[int, str] = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

_BLACK_CODES: dict[int, str] = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

_EXT_MAKEUP: dict[int, str] = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

for _t in (_WHITE_CODES, _BLACK_CODES):
    _t.update(_EXT_MAKEUP)

# decode maps: (length, code int) → run
_WHITE_DECODE = {
    (len(bits), int(bits, 2)): run for run, bits in _WHITE_CODES.items()
}
_BLACK_DECODE = {
    (len(bits), int(bits, 2)): run for run, bits in _BLACK_CODES.items()
}

# 2-D mode codes (T.6 §2.2.4): vertical offsets -3..3, pass, horizontal
_MODE_V = {0: "1", 1: "011", 2: "000011", 3: "0000011",
           -1: "010", -2: "000010", -3: "0000010"}
_MODE_PASS = "0001"
_MODE_HORIZ = "001"
_EOFB = "000000000001" * 2


class _Bits:
    """MSB-first bit reader."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.data):
            raise ValueError("truncated G4 stream")
        bit = (self.data[byte] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def exhausted(self) -> bool:
        return (self.pos >> 3) >= len(self.data)


def _read_run(br: _Bits, table: dict) -> int:
    """One T.4 run length: makeup codes accumulate until a terminal."""
    total = 0
    while True:
        code = 0
        length = 0
        run = None
        while run is None:
            code = (code << 1) | br.read()
            length += 1
            if length > 13:
                raise ValueError("invalid T.4 run code")
            run = table.get((length, code))
        total += run
        if run < 64:
            return total


def _next_mode(br: _Bits) -> tuple[str, int]:
    """Decode one 2-D mode word.  Returns (kind, vertical offset)."""
    if br.read():
        return "v", 0  # V0 = 1
    if br.read():  # 01x
        return ("v", 1) if br.read() else ("v", -1)
    if br.read():  # 001
        return "h", 0
    if br.read():  # 0001
        return "p", 0
    if br.read():  # 00001x
        return ("v", 2) if br.read() else ("v", -2)
    if br.read():  # 000001x
        return ("v", 3) if br.read() else ("v", -3)
    raise ValueError("EOFB or invalid G4 mode code")


def _decode_2d_row(br: _Bits, ref: list[int], width: int) -> list[int]:
    """One 2-D coded row against reference transitions ``ref`` (which
    must end with two ``width`` sentinels) → this row's transitions."""
    cur: list[int] = []
    a0 = -1
    color = 0  # 0 = white
    while a0 < width:
        # a crafted stream of zero-length horizontal runs never
        # advances a0 — bound the transition count (a real row has at
        # most width+1) so malicious input cannot loop forever
        if len(cur) > width + 2:
            raise ValueError("G4 row emits more transitions than pixels")
        # b1: first ref transition strictly > a0 (a0 = -1 admits a
        # transition at 0) whose index parity == color
        i = 0
        while i < len(ref) and ref[i] <= a0:
            i += 1
        if i % 2 != color:
            i += 1
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width
        kind, dv = _next_mode(br)
        if kind == "p":
            a0 = b2  # color runs through to b2; no transition emitted
        elif kind == "v":
            a1 = b1 + dv
            if a1 < 0 or a1 > width:
                raise ValueError("G4 vertical move out of row")
            cur.append(a1)
            a0 = a1
            color ^= 1
        else:  # horizontal: two runs, color unchanged after
            r1 = _read_run(br, _WHITE_DECODE if color == 0 else _BLACK_DECODE)
            r2 = _read_run(br, _BLACK_DECODE if color == 0 else _WHITE_DECODE)
            start = 0 if a0 < 0 else a0
            t1 = start + r1
            t2 = t1 + r2
            if t2 > width:
                raise ValueError("G4 horizontal runs overflow row")
            cur.append(t1)
            cur.append(t2)
            a0 = t2
    return cur


def _paint_rows(all_trans: list[list[int]], width: int) -> bytes:
    """Transition lists → row-byte-aligned packed raster (MSB-first,
    bit 1 = black) via the flip + prefix-XOR trick."""
    import numpy as np

    rows = np.zeros((len(all_trans), width), dtype=bool)
    for y, cur in enumerate(all_trans):
        if cur:
            flips = np.zeros(width + 1, dtype=bool)
            for t in cur:
                if t < width:
                    flips[t] ^= True
            rows[y] = np.logical_xor.accumulate(flips)[:width]
    return np.packbits(rows, axis=1).tobytes()


def g4_decode(data: bytes, width: int, n_rows: int) -> bytes:
    """G4 code stream → row-byte-aligned packed bilevel raster
    (MSB-first, bit 1 = black), ``n_rows`` rows of ``width`` px."""
    br = _Bits(data)
    ref: list[int] = [width, width]  # imaginary all-white reference row
    all_trans: list[list[int]] = []
    for y in range(n_rows):
        try:
            cur = _decode_2d_row(br, ref, width)
        except ValueError:
            if br.exhausted():
                raise ValueError("G4 stream ended before all rows") from None
            raise
        all_trans.append(cur)
        ref = cur + [width, width]
    return _paint_rows(all_trans, width)


def _transitions(row) -> list[int]:
    """Positions where the row changes color (row starts white; a black
    first pixel is a transition at 0).  ``row``: bool/int sequence with
    truthy = black."""
    out = []
    prev = 0
    for x, v in enumerate(row):
        b = 1 if v else 0
        if b != prev:
            out.append(x)
            prev = b
    return out


def _encode_2d_row_bits(cur: list[int], ref: list[int], w: int) -> list[str]:
    """2-D mode words for one row's transitions ``cur`` against
    reference transitions ``ref`` (both WITHOUT sentinels)."""
    bits: list[str] = []
    refs = ref + [w, w]
    curs = cur + [w, w]
    a0 = -1
    color = 0
    while a0 < w:
        # b1/b2 from ref, same parity rule as the decoder
        i = 0
        while i < len(refs) and refs[i] <= a0:
            i += 1
        if i % 2 != color:
            i += 1
        b1 = refs[i] if i < len(refs) else w
        b2 = refs[i + 1] if i + 1 < len(refs) else w
        # a1: next transition in cur > a0 with parity == color
        j = 0
        while j < len(curs) and curs[j] <= a0:
            j += 1
        if j % 2 != color:
            j += 1
        a1 = curs[j] if j < len(curs) else w
        if b2 < a1:
            bits.append(_MODE_PASS)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            bits.append(_MODE_V[a1 - b1])
            a0 = a1
            color ^= 1
        else:
            a2 = curs[j + 1] if j + 1 < len(curs) else w
            start = 0 if a0 < 0 else a0
            bits.append(_MODE_HORIZ)
            bits.append(_encode_run(a1 - start, color))
            bits.append(_encode_run(a2 - a1, color ^ 1))
            a0 = a2
    return bits


def _bits_to_bytes(stream: str) -> bytes:
    pad = (-len(stream)) % 8
    stream += "0" * pad
    return bytes(int(stream[i : i + 8], 2) for i in range(0, len(stream), 8))


def g4_encode(page) -> bytes:
    """Bilevel raster (2-D array-like, truthy = BLACK) → G4 code stream
    terminated with EOFB."""
    import numpy as np

    arr = np.asarray(page).astype(bool)
    h, w = arr.shape
    bits: list[str] = []
    ref: list[int] = []
    for y in range(h):
        cur = _transitions(arr[y])
        bits.extend(_encode_2d_row_bits(cur, ref, w))
        ref = cur
    bits.append(_EOFB)
    return _bits_to_bytes("".join(bits))


def _encode_run(run: int, color: int) -> str:
    table = _WHITE_CODES if color == 0 else _BLACK_CODES
    out = []
    # makeup codes leave a remainder <= 63; runs beyond 2560 chain the
    # largest extended makeup
    while run >= 64:
        if run > 2623:
            m = 2560
        else:
            m = (run // 64) * 64
        out.append(table[m])
        run -= m
    out.append(table[run])
    return "".join(out)


# --------------------------------------------------- Group 3 / MH (T.4)
# TIFF Compression=2 ("CCITT RLE" / Modified Huffman): every row is
# 1-D coded independently with the T.4 run tables above, no EOL codes,
# and each row's code starts on a BYTE boundary (TIFF 6.0 §Compression
# field, value 2).  TIFF Compression=3 (true T.4 / fax Group 3): every
# row is preceded by an EOL (eleven 0s + 1, optionally fill-padded);
# with T4Options bit 0 set each EOL carries a tag bit selecting 1-D
# (1) or 2-D (0) coding for the row that follows — 2-D rows reuse the
# T.6 vertical/pass/horizontal modes against the previous row.

_EOL = "000000000001"


def _mh_decode_row(br: _Bits, width: int) -> list[int]:
    """One 1-D (Modified Huffman) row → transition positions.  Rows
    start white; a leading black pixel is coded as a zero-length white
    run, which lands a transition at 0 naturally."""
    cur: list[int] = []
    pos = 0
    color = 0
    while pos < width:
        # alternating zero-length runs never advance pos — bound the
        # transition count so malicious input cannot loop forever
        if len(cur) > width + 2:
            raise ValueError("MH row emits more transitions than pixels")
        run = _read_run(br, _WHITE_DECODE if color == 0 else _BLACK_DECODE)
        pos += run
        if pos > width:
            raise ValueError("MH run overflows row")
        cur.append(pos)
        color ^= 1
    return cur


def _mh_row_bits(trans: list[int], width: int) -> list[str]:
    """1-D code words for one row given its transitions."""
    bits: list[str] = []
    prev = 0
    color = 0
    for t in trans + [width]:
        bits.append(_encode_run(t - prev, color))
        prev = t
        color ^= 1
    return bits


def mh_decode(data: bytes, width: int, n_rows: int) -> bytes:
    """TIFF Compression=2 stream → packed raster (bit 1 = black).
    Each row's code begins on a byte boundary per the TIFF spec."""
    br = _Bits(data)
    all_trans: list[list[int]] = []
    for _y in range(n_rows):
        br.pos = (br.pos + 7) & ~7  # rows are byte-aligned
        all_trans.append(_mh_decode_row(br, width))
    return _paint_rows(all_trans, width)


def mh_encode(page) -> bytes:
    """Bilevel raster (truthy = BLACK) → TIFF Compression=2 stream
    (each row 1-D coded, byte-aligned)."""
    import numpy as np

    arr = np.asarray(page).astype(bool)
    _h, w = arr.shape
    out: list[bytes] = []
    for row in arr:
        out.append(_bits_to_bytes("".join(_mh_row_bits(_transitions(row), w))))
    return b"".join(out)


def _expect_eol(br: _Bits, two_d: bool) -> bool:
    """Consume one EOL (≥11 zeros then a 1, tolerating fill bits) and,
    in 2-D mode, the tag bit.  Returns True when the following row is
    1-D coded."""
    zeros = 0
    while True:
        bit = br.read()
        if bit:
            break
        zeros += 1
        if zeros > 64 + 11:
            raise ValueError("G3 fill run exceeds one row's worth of EOL")
    if zeros < 11:
        raise ValueError(f"expected G3 EOL, saw {zeros} zero bits before 1")
    if not two_d:
        return True
    return bool(br.read())


def g3_decode(data: bytes, width: int, n_rows: int, two_d: bool = False) -> bytes:
    """TIFF Compression=3 (T.4 Group 3) stream → packed raster (bit 1
    = black).  ``two_d``: T4Options bit 0 — EOLs carry a 1-D/2-D tag
    bit and 2-D rows code against the previous row.  Fill bits before
    EOLs (T4Options bit 2) are consumed transparently; a trailing RTC
    is ignored because decoding stops after ``n_rows``."""
    br = _Bits(data)
    ref: list[int] = []
    all_trans: list[list[int]] = []
    for _y in range(n_rows):
        try:
            if _expect_eol(br, two_d):
                cur = _mh_decode_row(br, width)
            else:
                cur = _decode_2d_row(br, ref + [width, width], width)
        except ValueError:
            if br.exhausted():
                raise ValueError("G3 stream ended before all rows") from None
            raise
        all_trans.append(cur)
        ref = cur
    return _paint_rows(all_trans, width)


def g3_encode(page, two_d: bool = False) -> bytes:
    """Bilevel raster (truthy = BLACK) → T.4 Group 3 stream.  With
    ``two_d`` every 4th row is 1-D coded and the rows between are
    2-D coded against their predecessor (the fax K-factor, error
    resilience on real lines); ends with RTC (six EOLs)."""
    import numpy as np

    arr = np.asarray(page).astype(bool)
    h, w = arr.shape
    bits: list[str] = []
    ref: list[int] = []
    for y in range(h):
        cur = _transitions(arr[y])
        if not two_d:
            bits.append(_EOL)
            bits.extend(_mh_row_bits(cur, w))
        elif y % 4 == 0:
            bits.append(_EOL + "1")
            bits.extend(_mh_row_bits(cur, w))
        else:
            bits.append(_EOL + "0")
            bits.extend(_encode_2d_row_bits(cur, ref, w))
        ref = cur
    for _ in range(6):  # RTC
        bits.append(_EOL + "1" if two_d else _EOL)
    return _bits_to_bytes("".join(bits))
