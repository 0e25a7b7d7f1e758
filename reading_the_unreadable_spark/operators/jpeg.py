"""Baseline-sequential JFIF (JPEG) codec — pure numpy + stdlib.

Scanned-newspaper and web corpora are overwhelmingly JPEG (the reference
reads page images freely through cv2, ``send_to_lm_functions.py:715-737``);
this container has no PIL/cv2, so — same policy as the PNG/PDF codecs in
this repo — the profile real corpora actually use is implemented from
the public JPEG spec (ITU-T T.81): baseline sequential DCT and
progressive DCT (SOF2 — spectral selection + successive approximation,
DC/AC first and refinement scans, EOB runs), 8-bit AND 12-bit sample
precision (12-bit folds into the dequantization step via IDCT
linearity; a 12-bit SOF1 encoder ships for round trips), Huffman-coded,
grayscale or YCbCr with the full T.81 sampling-factor range (Hi/Vi in
[1, 4], Σ Hi×Vi ≤ 10 — 4:4:4 / 4:2:2 / 4:2:0 / 4:1:1 / 4:4:0 and any
other integer-ratio layout), restart markers.  Arithmetic coding,
hierarchical/lossless modes, and fractional
upsampling ratios (no real encoder emits them) raise
``NotImplementedError`` loudly.  All constant tables below are the
spec's public Annex K examples (quantization) and K.3.3 typical
Huffman tables; the progressive encoder builds per-scan optimized
tables with the Annex K.2 frequency-merge algorithm.

The per-symbol Huffman loop is plain Python: correct and fine for the
fixture-scale images tests feed through ``mapInPandas`` Arrow batches;
a production deployment would swap a codec lib into
``multimodal.decode_image`` without touching the Spark plumbing.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------- spec constants
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
)  # fmt: skip

Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
)  # fmt: skip

Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ]
)  # fmt: skip

# (bits-per-length[1..16], symbol list) — spec K.3.3 typical tables
DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
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
)  # fmt: skip
AC_CHROMA = (
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
)  # fmt: skip

# Orthonormal 8x8 DCT-II basis — identical to the JPEG FDCT/IDCT
# definition (T.81 A.3.3): forward F = A @ f @ A.T, inverse f = A.T @ F @ A.
_A = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(1 / 8) if _u == 0 else 0.5
    for _x in range(8):
        _A[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decoder(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, for bit-serial decoding."""
    return {(ln, code): sym for sym, (code, ln) in _huff_codes(bits, values).items()}


def _scale_q(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (public libjpeg formula)."""
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int32)


# ----------------------------------------------------------------- encoder
class _BitWriter:
    def __init__(self) -> None:
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
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


def _magnitude(v: int) -> tuple[int, int]:
    """DC/AC value → (size, amplitude bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    return np.stack([y, cb, cr], axis=-1)


def _block_grid(plane: np.ndarray) -> np.ndarray:
    """Pad a plane to 8-multiples by edge replication, return
    (by, bx, 8, 8) blocks."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    return p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)


def _encode_plane_block(
    block: np.ndarray,
    q: np.ndarray,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
    bw: _BitWriter,
    shift: float = 128.0,
) -> int:
    coeffs = _A @ (block - shift) @ _A.T
    quant = np.round(coeffs.flatten() / q).astype(np.int32)[ZIGZAG]
    # DC: differential
    diff = int(quant[0]) - pred
    size, bits = _magnitude(diff)
    code, ln = dc_codes[size]
    bw.write(code, ln)
    if size:
        bw.write(bits, size)
    # AC: run-length of zeros + size
    run = 0
    for k in range(1, 64):
        v = int(quant[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        code, ln = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        bw.write(bits, size)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return int(quant[0])


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsample: bool | str = False,
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) → baseline JFIF bytes.
    ``subsample=True`` (or ``"420"``) writes 4:2:0 (2x2 Y sampling),
    the common camera layout; ``"422"`` writes 4:2:2 (2x1 Y sampling,
    the broadcast/scanner layout — exercises the decoder's asymmetric
    upsample); ``"411"`` writes 4:1:1 (4x1 Y sampling, the DV/camera
    layout — exercises 4-wide MCUs); default is 4:4:4.  ``restart_interval`` emits a DRI
    segment and RSTn markers every N MCUs (the error-resilience layout
    real scanners produce)."""
    gray = arr.ndim == 2
    if gray or subsample in (False, None):
        mode = "444"
    elif subsample in (True, "420"):
        mode = "420"
    elif subsample == "422":
        mode = "422"
    elif subsample == "411":
        mode = "411"
    else:
        raise ValueError(f"unknown subsample mode {subsample!r}")
    h, w = arr.shape[:2]
    ql = _scale_q(Q_LUMA, quality)
    qc = _scale_q(Q_CHROMA, quality)
    ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(ql_z.tolist())
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qc_z.tolist())
    # SOF0
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    y_samp = {"444": 0x11, "420": 0x22, "422": 0x21, "411": 0x41}[mode]
    sof += bytes([1, y_samp, 0])
    if not gray:
        sof += bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT
    for tclass, tid, (bits, values) in (
        (0, 0, DC_LUMA),
        (1, 0, AC_LUMA),
        (0, 1, DC_CHROMA),
        (1, 1, AC_CHROMA),
    ):
        if gray and tid == 1:
            continue
        body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    sos += bytes([1, 0x00])
    if not gray:
        sos += bytes([2, 0x11]) + bytes([3, 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_l = _huff_codes(*DC_LUMA)
    ac_l = _huff_codes(*AC_LUMA)
    dc_c = _huff_codes(*DC_CHROMA)
    ac_c = _huff_codes(*AC_CHROMA)
    bw = _BitWriter()
    mcu_n = 0
    rst_n = 0

    def maybe_restart(preds: list[int]) -> None:
        nonlocal rst_n
        if restart_interval and mcu_n and mcu_n % restart_interval == 0:
            bw.flush()
            bw.buf += bytes([0xFF, 0xD0 + (rst_n % 8)])
            rst_n += 1
            preds[:] = [0] * len(preds)

    if gray:
        planes = [arr.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]

    if mode == "444":
        grids = [_block_grid(p) for p in planes]
        by, bx = grids[0].shape[:2]
        preds = [0] * len(planes)
        for yy in range(by):
            for xx in range(bx):
                maybe_restart(preds)
                for ci, grid in enumerate(grids):
                    q = ql if ci == 0 else qc
                    dc = dc_l if ci == 0 else dc_c
                    ac = ac_l if ci == 0 else ac_c
                    preds[ci] = _encode_plane_block(
                        grid[yy, xx], q, preds[ci], dc, ac, bw
                    )
                mcu_n += 1
    elif mode == "422":
        # 4:2:2 MCU = 2 Y blocks side by side + 1 Cb + 1 Cr (chroma =
        # horizontal pair mean; vertical resolution kept)
        ypl, cb, cr = planes
        pw = -w % 2
        cbp = np.pad(cb, ((0, 0), (0, pw)), mode="edge")
        crp = np.pad(cr, ((0, 0), (0, pw)), mode="edge")
        cb2 = cbp.reshape(cbp.shape[0], cbp.shape[1] // 2, 2).mean(2)
        cr2 = crp.reshape(crp.shape[0], crp.shape[1] // 2, 2).mean(2)
        ygrid = _block_grid(ypl)
        by, bx = ygrid.shape[:2]
        if bx % 2:  # pad to even block COLUMNS so MCUs tile fully
            ygrid = np.pad(
                ygrid, ((0, 0), (0, 1), (0, 0), (0, 0)), mode="edge"
            )
            bx += 1
        cbg, crg = _block_grid(cb2), _block_grid(cr2)
        preds = [0, 0, 0]
        for my in range(by):
            for mx in range(bx // 2):
                maybe_restart(preds)
                for dx in range(2):
                    preds[0] = _encode_plane_block(
                        ygrid[my, mx * 2 + dx], ql, preds[0], dc_l, ac_l, bw
                    )
                preds[1] = _encode_plane_block(
                    cbg[my, mx], qc, preds[1], dc_c, ac_c, bw
                )
                preds[2] = _encode_plane_block(
                    crg[my, mx], qc, preds[2], dc_c, ac_c, bw
                )
                mcu_n += 1
    elif mode == "420":
        # 4:2:0 MCU = 4 Y blocks + 1 Cb + 1 Cr (chroma = 2x2 box mean)
        ypl, cb, cr = planes
        ph, pw = -h % 2, -w % 2
        cbp = np.pad(cb, ((0, ph), (0, pw)), mode="edge")
        crp = np.pad(cr, ((0, ph), (0, pw)), mode="edge")
        cb2 = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
        cr2 = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
        ygrid = _block_grid(ypl)
        # pad Y grid to even block counts so MCUs tile fully
        by, bx = ygrid.shape[:2]
        if by % 2 or bx % 2:
            ygrid = np.pad(
                ygrid, ((0, by % 2), (0, bx % 2), (0, 0), (0, 0)), mode="edge"
            )
            by, bx = ygrid.shape[:2]
        cbg, crg = _block_grid(cb2), _block_grid(cr2)
        preds = [0, 0, 0]
        for my in range(by // 2):
            for mx in range(bx // 2):
                maybe_restart(preds)
                for dy in range(2):
                    for dx in range(2):
                        preds[0] = _encode_plane_block(
                            ygrid[my * 2 + dy, mx * 2 + dx], ql, preds[0],
                            dc_l, ac_l, bw,
                        )
                preds[1] = _encode_plane_block(
                    cbg[my, mx], qc, preds[1], dc_c, ac_c, bw
                )
                preds[2] = _encode_plane_block(
                    crg[my, mx], qc, preds[2], dc_c, ac_c, bw
                )
                mcu_n += 1
    elif mode == "411":
        # 4:1:1 MCU = 4 Y blocks side by side + 1 Cb + 1 Cr (chroma =
        # horizontal 4-mean; the DV/camera layout)
        ypl, cb, cr = planes
        pw = -w % 4
        cbp = np.pad(cb, ((0, 0), (0, pw)), mode="edge")
        crp = np.pad(cr, ((0, 0), (0, pw)), mode="edge")
        cb4 = cbp.reshape(cbp.shape[0], cbp.shape[1] // 4, 4).mean(2)
        cr4 = crp.reshape(crp.shape[0], crp.shape[1] // 4, 4).mean(2)
        ygrid = _block_grid(ypl)
        by, bx = ygrid.shape[:2]
        if bx % 4:  # pad to block COLUMNS % 4 == 0 so MCUs tile fully
            ygrid = np.pad(
                ygrid, ((0, 0), (0, -bx % 4), (0, 0), (0, 0)), mode="edge"
            )
            bx = ygrid.shape[1]
        cbg, crg = _block_grid(cb4), _block_grid(cr4)
        preds = [0, 0, 0]
        for my in range(by):
            for mx in range(bx // 4):
                maybe_restart(preds)
                for dx in range(4):
                    preds[0] = _encode_plane_block(
                        ygrid[my, mx * 4 + dx], ql, preds[0], dc_l, ac_l, bw
                    )
                preds[1] = _encode_plane_block(
                    cbg[my, mx], qc, preds[1], dc_c, ac_c, bw
                )
                preds[2] = _encode_plane_block(
                    crg[my, mx], qc, preds[2], dc_c, ac_c, bw
                )
                mcu_n += 1
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ----------------------------------------------------------------- decoder
class _BitReader:
    """Bit-serial reader over entropy-coded data with 0xFF00 unstuffing;
    stops at (and exposes) RST/other markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Consume a restart marker and byte-align."""
        self.acc = 0
        self.nbits = 0
        # pos currently points at the 0xFF of the RST marker
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _decode_block(
    br: _BitReader, dc_tab: dict, ac_tab: dict, q: np.ndarray, pred: int
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.float64)
    size = _decode_symbol(br, dc_tab)
    diff = _extend(br.read_bits(size), size)
    dc = pred + diff
    zz[0] = dc
    k = 1
    while k < 64:
        rs = _decode_symbol(br, ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        zz[k] = _extend(br.read_bits(size), size)
        k += 1
    coeffs = np.zeros(64, dtype=np.float64)
    coeffs[ZIGZAG] = zz * q
    block = _A.T @ coeffs.reshape(8, 8) @ _A
    return block + 128.0, dc


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline or progressive (SOF2) JFIF bytes → HxWx3 uint8 RGB
    (grayscale replicated).  Raises NotImplementedError on
    arithmetic/hierarchical profiles, ValueError on
    malformed/truncated data (a quarantining caller catches exactly
    those two — nothing else may escape)."""
    try:
        return _decode_jpeg_impl(payload)
    except (IndexError, EOFError, struct.error, KeyError) as e:
        # scan overran/aborted, or a scan referenced an undefined
        # Huffman/quant table / frame component (KeyError) — all are
        # malformed-input conditions, not decoder bugs
        raise ValueError(f"truncated or malformed JPEG: {e}") from e


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG: {payload[:4]!r}")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    frame_precision = 8
    progressive = False
    prog_state: dict | None = None
    restart_interval = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while payload[pos + 1] == 0xFF:  # legal fill bytes before a marker
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone markers
            pos += 2
            continue
        seglen = struct.unpack_from(">H", payload, pos + 2)[0]
        seg = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq > 1:
                    raise ValueError(f"invalid DQT precision {pq}")
                # kept in ZIGZAG order — dequantization multiplies the
                # zigzag-ordered coefficient vector directly.  Pq=1 is
                # the 16-bit big-endian layout (T.81 B.2.4.1, used by
                # very-high-quality encoders)
                width = 129 if pq else 65
                raw = seg[i + 1 : i + width]
                if len(raw) != width - 1:
                    raise ValueError(
                        f"truncated DQT: {len(raw)} of {width - 1} bytes"
                    )
                qtables[tq] = np.frombuffer(
                    raw, dtype=">u2" if pq else np.uint8
                ).astype(np.int32)
                i += width
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tclass, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nval = sum(bits)
                values = list(seg[i + 17 : i + 17 + nval])
                htables[(tclass, tid)] = _huff_decoder(bits, values)
                i += 17 + nval
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            precision = seg[0]
            if precision not in (8, 12):
                raise NotImplementedError(f"{precision}-bit precision")
            if precision == 12 and marker == 0xC0:
                # T.81 table B.2: baseline is 8-bit; 12-bit needs
                # extended sequential (SOF1) or progressive (SOF2)
                raise ValueError("12-bit sample precision in baseline SOF0")
            fh, fw = struct.unpack_from(">HH", seg, 1)
            if fh == 0 or fw == 0 or fh * fw > 1 << 28:
                # corrupt frame headers must not drive allocations
                raise ValueError(f"implausible JPEG dimensions {fw}x{fh}")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + c * 3 : 9 + c * 3]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            frame = (fh, fw, comps)
            frame_precision = precision
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF{marker - 0xC0}): "
                "arithmetic/hierarchical/lossless not supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_tabs = {}
            for c in range(ns):
                cs, tt = seg[1 + c * 2 : 3 + c * 2]
                scan_tabs[cs] = (tt >> 4, tt & 0x0F)
            if not progressive:
                return _decode_scan(
                    payload, pos + 2 + seglen, frame, scan_tabs,
                    qtables, htables, restart_interval, frame_precision,
                )
            ss, se = seg[1 + ns * 2], seg[2 + ns * 2]
            ah_al = seg[3 + ns * 2]
            ah, al = ah_al >> 4, ah_al & 0x0F
            if prog_state is None:
                prog_state = _prog_init(frame)
            pos = _decode_prog_scan(
                payload, pos + 2 + seglen, frame, scan_tabs, htables,
                restart_interval, prog_state, ss, se, ah, al,
            )
            continue
        # APPn/COM/others: skip
        pos += 2 + seglen
    if progressive and prog_state is not None:
        return _prog_reconstruct(frame, prog_state, qtables, frame_precision)
    raise ValueError("no SOS marker found")


def _check_sampling(comps: list) -> None:
    """T.81 sampling-factor profile: factors 1-4 (B.2.2, Hi/Vi in
    [1, 4]) with Σ Hi×Vi ≤ 10 in an interleaved scan (B.2.3), and —
    this decoder's one restriction — integer upsampling ratios
    (hmax % ch == 0), which every layout real encoders emit satisfies
    (4:4:4, 4:2:2, 4:2:0, 4:1:1, 4:4:0).  A crafted factor of 0 is
    rejected before it reaches the geometry divisions."""
    for _cid, ch, cv, _tq in comps:
        if not (1 <= ch <= 4 and 1 <= cv <= 4):
            raise ValueError(f"invalid sampling factor {ch}x{cv}")
    if sum(c[1] * c[2] for c in comps) > 10:
        raise ValueError("interleaved sampling factors exceed T.81's 10")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for _cid, ch, cv, _tq in comps:
        if hmax % ch or vmax % cv:
            raise NotImplementedError(
                f"fractional chroma upsampling {ch}x{cv} vs {hmax}x{vmax}"
            )


def _decode_scan(
    payload: bytes,
    pos: int,
    frame: tuple,
    scan_tabs: dict,
    qtables: dict,
    htables: dict,
    restart_interval: int,
    precision: int = 8,
) -> np.ndarray:
    fh, fw, comps = frame
    _check_sampling(comps)
    # 12-bit: IDCT is linear, so folding the 2^4 range difference into
    # the dequantization step reuses the whole 8-bit pipeline — the
    # level shift (+128 after /16 ≡ +2048 before) and the 0..255 clamp
    # below are then already correct
    q_div = 16.0 if precision == 12 else 1.0
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-fw // mcu_w)
    mcus_y = -(-fh // mcu_h)
    planes = {
        cid: np.zeros((mcus_y * cv * 8, mcus_x * ch * 8))
        for cid, ch, cv, _ in comps
    }
    preds = {cid: 0 for cid, *_ in comps}
    br = _BitReader(payload, pos)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                try:
                    # drain padding bits until the marker surfaces
                    while True:
                        br.read_bit()
                except _RestartMarker:
                    br.align_restart()
                    preds = {cid: 0 for cid, *_ in comps}
            try:
                for cid, ch, cv, tq in comps:
                    dc_tab = htables[(0, scan_tabs[cid][0])]
                    ac_tab = htables[(1, scan_tabs[cid][1])]
                    q = qtables[tq] / q_div if q_div != 1.0 else qtables[tq]
                    for dy in range(cv):
                        for dx in range(ch):
                            block, preds[cid] = _decode_block(
                                br, dc_tab, ac_tab, q, preds[cid]
                            )
                            y0 = (my * cv + dy) * 8
                            x0 = (mx * ch + dx) * 8
                            planes[cid][y0 : y0 + 8, x0 : x0 + 8] = block
            except _RestartMarker:
                raise ValueError("unexpected restart marker mid-MCU")
            mcu_count += 1
    # upsample to full resolution, crop, color-convert
    full = []
    for cid, ch, cv, _ in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(p[:fh, :fw])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ------------------------------------------------- progressive (SOF2) decode
def _comp_geometry(frame: tuple):
    """Per-component block geometry: MCU-grid dims (what interleaved DC
    scans cover) and true dims (what non-interleaved AC scans cover)."""
    fh, fw, comps = frame
    # same profile gate as the baseline path — also keeps a crafted
    # sampling factor of 0 out of the divisions below
    _check_sampling(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    geo = {}
    for cid, ch, cv, tq in comps:
        mcus_x = -(-fw // (8 * hmax))
        mcus_y = -(-fh // (8 * vmax))
        bw_mcu, bh_mcu = mcus_x * ch, mcus_y * cv
        cw = -(-fw * ch // hmax)
        chh = -(-fh * cv // vmax)
        bw_true, bh_true = -(-cw // 8), -(-chh // 8)
        geo[cid] = (bw_mcu, bh_mcu, bw_true, bh_true, ch, cv, tq)
    return geo, hmax, vmax


def _prog_init(frame: tuple) -> dict:
    """Coefficient accumulators, one (bh, bw, 64) int32 array per
    component (zigzag order), sized to the MCU grid."""
    geo, _, _ = _comp_geometry(frame)
    return {
        cid: np.zeros((bh_mcu, bw_mcu, 64), dtype=np.int32)
        for cid, (bw_mcu, bh_mcu, *_rest) in geo.items()
    }


def _next_marker_pos(payload: bytes, pos: int) -> int:
    """Position of the next real marker after entropy data (skips
    stuffed 0xFF00 and stray restart markers)."""
    n = len(payload)
    while pos < n - 1:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        nxt = payload[pos + 1]
        if nxt == 0x00:
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            pos += 2
        elif nxt == 0xFF:
            pos += 1
        else:
            return pos
    raise ValueError("truncated progressive scan: no trailing marker")


def _refine_nonzero(br: _BitReader, coef: np.ndarray, k: int, one: int) -> None:
    """Correction bit for an already-nonzero coefficient (T.81 G.2,
    libjpeg's guard form: only apply when the Al bit is still clear)."""
    if br.read_bit() and (int(coef[k]) & one) == 0:
        coef[k] += one if coef[k] >= 0 else -one


def _ac_first_block(
    br: _BitReader, ac_tab: dict, coef: np.ndarray,
    ss: int, se: int, al: int, eobrun: int,
) -> int:
    """One block of an AC initial scan (Ah=0); returns remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(br, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:  # EOBn: run of (1<<r)-1+ext more all-zero bands
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                return eobrun
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("AC run past spectral band end")
            coef[k] = _extend(br.read_bits(s), s) << al
            k += 1
    return 0


def _ac_refine_block(
    br: _BitReader, ac_tab: dict, coef: np.ndarray,
    ss: int, se: int, al: int, eobrun: int,
) -> int:
    """One block of an AC refinement scan (Ah>0); returns remaining EOB
    run.  Structure follows T.81 G.1.2.3 / the public libjpeg
    decode_mcu_AC_refine shape: inside an EOB run only correction bits
    for already-nonzero coefficients are read."""
    one = 1 << al
    if eobrun > 0:
        for k in range(ss, se + 1):
            if coef[k]:
                _refine_nonzero(br, coef, k, one)
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(br, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                r = 64  # sweep to band end refining, placing nothing
            sv = 0
        else:
            if s != 1:
                raise ValueError("AC refinement magnitude must be 1")
            sv = one if br.read_bit() else -one
        while k <= se:
            if coef[k]:
                _refine_nonzero(br, coef, k, one)
            else:
                if r == 0:
                    if sv:
                        coef[k] = sv
                    k += 1
                    break
                r -= 1
            k += 1
    return eobrun


def _decode_prog_scan(
    payload: bytes,
    pos: int,
    frame: tuple,
    scan_tabs: dict,
    htables: dict,
    restart_interval: int,
    state: dict,
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> int:
    """Decode one progressive scan into the coefficient state; returns
    the payload position of the next marker."""
    geo, hmax, vmax = _comp_geometry(frame)
    fh, fw, comps = frame
    scan_comps = [c for c in comps if c[0] in scan_tabs]
    br = _BitReader(payload, pos)
    unit = 0  # restart-interval unit counter (MCUs, or blocks when ns=1)

    def at_restart() -> bool:
        return bool(restart_interval) and unit and unit % restart_interval == 0

    def consume_restart() -> None:
        try:
            while True:
                br.read_bit()  # drain pad bits until the marker surfaces
        except _RestartMarker:
            br.align_restart()

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        preds = {cid: 0 for cid, *_ in scan_comps}
        if len(scan_comps) > 1:  # interleaved MCU walk
            mcus_x = -(-fw // (8 * hmax))
            mcus_y = -(-fh // (8 * vmax))
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if at_restart():
                        consume_restart()
                        preds = {cid: 0 for cid, *_ in scan_comps}
                    for cid, ch, cv, _tq in scan_comps:
                        coefs = state[cid]
                        dc_tab = htables.get((0, scan_tabs[cid][0]))
                        if ah == 0 and dc_tab is None:
                            raise ValueError("DC scan references undefined table")
                        for dy in range(cv):
                            for dx in range(ch):
                                by, bx = my * cv + dy, mx * ch + dx
                                if ah == 0:
                                    size = _decode_symbol(br, dc_tab)
                                    diff = _extend(br.read_bits(size), size)
                                    preds[cid] += diff
                                    coefs[by, bx, 0] = preds[cid] << al
                                elif br.read_bit():
                                    coefs[by, bx, 0] += 1 << al
                    unit += 1
        else:  # single-component DC scan: raster over true block dims
            cid, ch, cv, _tq = scan_comps[0]
            _bwm, _bhm, bw_t, bh_t, *_ = geo[cid]
            coefs = state[cid]
            dc_tab = htables.get((0, scan_tabs[cid][0]))
            if ah == 0 and dc_tab is None:
                raise ValueError("DC scan references undefined table")
            for by in range(bh_t):
                for bx in range(bw_t):
                    if at_restart():
                        consume_restart()
                        preds[cid] = 0
                    if ah == 0:
                        size = _decode_symbol(br, dc_tab)
                        diff = _extend(br.read_bits(size), size)
                        preds[cid] += diff
                        coefs[by, bx, 0] = preds[cid] << al
                    elif br.read_bit():
                        coefs[by, bx, 0] += 1 << al
                    unit += 1
    else:  # AC scan: spec requires exactly one component
        if len(scan_comps) != 1:
            raise ValueError("progressive AC scan must be single-component")
        cid = scan_comps[0][0]
        _bwm, _bhm, bw_t, bh_t, *_ = geo[cid]
        coefs = state[cid]
        ac_tab = htables.get((1, scan_tabs[cid][1]))
        if ac_tab is None:
            raise ValueError(f"AC scan references undefined table {scan_tabs[cid][1]}")
        fn = _ac_first_block if ah == 0 else _ac_refine_block
        eobrun = 0
        for by in range(bh_t):
            for bx in range(bw_t):
                if at_restart():
                    consume_restart()
                    eobrun = 0
                eobrun = fn(br, ac_tab, coefs[by, bx], ss, se, al, eobrun)
                unit += 1
    return _next_marker_pos(payload, br.pos)


def _prog_reconstruct(
    frame: tuple, state: dict, qtables: dict, precision: int = 8
) -> np.ndarray:
    """Dequantize + IDCT the accumulated coefficients, upsample, crop,
    color-convert — mirrors the tail of :func:`_decode_scan` (including
    the 12-bit fold-into-dequantization trick)."""
    fh, fw, comps = frame
    geo, hmax, vmax = _comp_geometry(frame)
    full = []
    for cid, ch, cv, tq in comps:
        bw_mcu, bh_mcu, *_ = geo[cid]
        q = qtables[tq].astype(np.float64)
        if precision == 12:
            q = q / 16.0
        coefs = state[cid].astype(np.float64) * q  # both zigzag-ordered
        plane = np.zeros((bh_mcu * 8, bw_mcu * 8))
        dez = np.zeros(64)
        for by in range(bh_mcu):
            for bx in range(bw_mcu):
                dez[ZIGZAG] = coefs[by, bx]
                block = _A.T @ dez.reshape(8, 8) @ _A
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block + 128.0
        plane = np.repeat(np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(plane[:fh, :fw])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ------------------------------------------------- progressive (SOF2) encode
def _build_huff_table(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Optimized Huffman table from symbol frequencies — the public
    T.81 Annex K.2 algorithm (code-size derivation by frequency
    merging, BITS adjustment to the 16-bit limit, reserved symbol 256
    so no real symbol gets the all-ones code).  Returns the DHT wire
    form: (bits[1..16] counts, symbols in canonical order)."""
    freq = [0] * 257
    for sym, f in freqs.items():
        freq[sym] = f
    freq[256] = 1
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        v, v1 = None, -1
        for i in range(257):
            if freq[i] and (v is None or freq[i] <= v):
                v, v1 = freq[i], i
        v, v2 = None, -1
        for i in range(257):
            if freq[i] and i != v1 and (v is None or freq[i] <= v):
                v, v2 = freq[i], i
        if v2 < 0:
            break
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] >= 0:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] >= 0:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved-symbol code
    values = [
        sym
        for size in range(1, 33)
        for sym in range(256)
        if codesize[sym] == size
    ]
    return bits[1:17], values


def _quantized_comps(arr: np.ndarray, quality: int, subsample: bool):
    """Forward DCT + quantization into per-component zigzag coefficient
    arrays sized to the MCU grid (the same geometry the baseline encoder
    walks), plus each component's true block dims for non-interleaved
    scans."""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ql = _scale_q(Q_LUMA, quality)
    qc = _scale_q(Q_CHROMA, quality)
    if gray:
        plane_specs = [(arr.astype(np.float64), 1, 1, 0, ql)]
        hmax = vmax = 1
    elif not subsample:
        ycc = _rgb_to_ycbcr(arr)
        plane_specs = [
            (ycc[..., 0], 1, 1, 0, ql),
            (ycc[..., 1], 1, 1, 1, qc),
            (ycc[..., 2], 1, 1, 1, qc),
        ]
        hmax = vmax = 1
    else:
        ycc = _rgb_to_ycbcr(arr)
        ph, pw = -h % 2, -w % 2
        cbp = np.pad(ycc[..., 1], ((0, ph), (0, pw)), mode="edge")
        crp = np.pad(ycc[..., 2], ((0, ph), (0, pw)), mode="edge")
        cb2 = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
        cr2 = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
        plane_specs = [
            (ycc[..., 0], 2, 2, 0, ql),
            (cb2, 1, 1, 1, qc),
            (cr2, 1, 1, 1, qc),
        ]
        hmax = vmax = 2
    comps = []
    for idx, (plane, ch, cv, tq, q) in enumerate(plane_specs):
        grid = _block_grid(plane)
        bh_t, bw_t = grid.shape[:2]  # true block dims = unpadded grid
        if hmax == 2 and idx == 0 and (bh_t % 2 or bw_t % 2):
            grid = np.pad(
                grid, ((0, bh_t % 2), (0, bw_t % 2), (0, 0), (0, 0)),
                mode="edge",
            )
        by, bx = grid.shape[:2]
        coef = np.zeros((by, bx, 64), dtype=np.int32)
        qf = q.astype(np.float64)
        for yy in range(by):
            for xx in range(bx):
                coeffs = _A @ (grid[yy, xx] - 128.0) @ _A.T
                coef[yy, xx] = np.round(coeffs.flatten() / qf).astype(np.int32)[
                    ZIGZAG
                ]
        comps.append(
            {"cid": idx + 1, "ch": ch, "cv": cv, "tq": tq,
             "coef": coef, "bw_t": bw_t, "bh_t": bh_t}
        )
    return comps, hmax, vmax, ql, qc, gray


class _EobState:
    """EOB-run + buffered-correction-bit state for one AC scan (the
    encoder mirror of T.81 G.1.2.2/G.1.2.3; shapes follow the public
    libjpeg emit_eobrun / BE buffer discipline)."""

    def __init__(self, emit_sym, emit_bits) -> None:
        self.eobrun = 0
        self.pending: list[int] = []
        self.emit_sym = emit_sym
        self.emit_bits = emit_bits

    def flush(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.emit_sym(r << 4)
            if r:
                self.emit_bits(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.pending:
            self.emit_bits(b, 1)
        self.pending = []


def _enc_ac_first_block(
    block: np.ndarray, ss: int, se: int, al: int, st: _EobState
) -> None:
    tv = [0] * (se + 1)
    any_nz = False
    for k in range(ss, se + 1):
        v = int(block[k])
        a = (v if v >= 0 else -v) >> al
        tv[k] = a if v >= 0 else -a
        any_nz = any_nz or a != 0
    if not any_nz:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush()
        return
    st.flush()
    run = 0
    for k in range(ss, se + 1):
        if tv[k] == 0:
            run += 1
            continue
        while run > 15:
            st.emit_sym(0xF0)
            run -= 16
        size, bits = _magnitude(tv[k])
        st.emit_sym((run << 4) | size)
        st.emit_bits(bits, size)
        run = 0
    if run:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush()


def _enc_ac_refine_block(
    block: np.ndarray, ss: int, se: int, al: int, st: _EobState
) -> None:
    ab = [0] * (se + 1)
    eob = ss - 1
    for k in range(ss, se + 1):
        v = int(block[k])
        ab[k] = (v if v >= 0 else -v) >> al
        if ab[k] == 1:
            eob = k
    r = 0
    br: list[int] = []
    for k in range(ss, se + 1):
        if ab[k] == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            st.flush()
            st.emit_sym(0xF0)
            r -= 16
            for b in br:
                st.emit_bits(b, 1)
            br = []
        if ab[k] > 1:  # history coefficient: buffer its correction bit
            br.append(ab[k] & 1)
            continue
        st.flush()
        st.emit_sym((r << 4) | 1)
        st.emit_bits(1 if int(block[k]) > 0 else 0, 1)
        for b in br:
            st.emit_bits(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.pending.extend(br)
        if st.eobrun == 0x7FFF or len(st.pending) > 900:
            st.flush()


def _run_prog_scan(
    comps_in_scan: list[dict],
    hmax: int,
    vmax: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    emit_sym,
    emit_bits,
) -> None:
    """One progressive scan over the coefficient arrays.  Called twice
    per scan: once with a tallying sink (to build the optimized Huffman
    table), once with the real bit-writer sink."""
    if ss == 0:  # DC scan
        preds = {c["cid"]: 0 for c in comps_in_scan}
        if len(comps_in_scan) > 1:
            by0, bx0 = comps_in_scan[0]["coef"].shape[:2]
            mcus_y = by0 // comps_in_scan[0]["cv"]
            mcus_x = bx0 // comps_in_scan[0]["ch"]
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for c in comps_in_scan:
                        for dy in range(c["cv"]):
                            for dx in range(c["ch"]):
                                v = int(
                                    c["coef"][my * c["cv"] + dy,
                                              mx * c["ch"] + dx, 0]
                                ) >> al
                                if ah == 0:
                                    diff = v - preds[c["cid"]]
                                    preds[c["cid"]] = v
                                    size, bits = _magnitude(diff)
                                    emit_sym(size)
                                    emit_bits(bits, size)
                                else:
                                    emit_bits(v & 1, 1)
        else:
            c = comps_in_scan[0]
            for by in range(c["bh_t"]):
                for bx in range(c["bw_t"]):
                    v = int(c["coef"][by, bx, 0]) >> al
                    if ah == 0:
                        diff = v - preds[c["cid"]]
                        preds[c["cid"]] = v
                        size, bits = _magnitude(diff)
                        emit_sym(size)
                        emit_bits(bits, size)
                    else:
                        emit_bits(v & 1, 1)
    else:  # AC scan: single component, true block dims
        c = comps_in_scan[0]
        st = _EobState(emit_sym, emit_bits)
        fn = _enc_ac_first_block if ah == 0 else _enc_ac_refine_block
        for by in range(c["bh_t"]):
            for bx in range(c["bw_t"]):
                fn(c["coef"][by, bx], ss, se, al, st)
        st.flush()


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) → progressive (SOF2) JFIF
    bytes, libjpeg's "simple progression" scan script: DC first at Al=1,
    banded AC first scans, AC refinement, DC refinement, final Al=0 AC
    refinements.  The quantized coefficients are identical to the
    baseline encoder's at the same quality, so decode(progressive) ==
    decode(baseline) pixel-for-pixel — pinned by tests.  ``subsample``:
    False (4:4:4) or True/"420"; other modes raise rather than silently
    changing the sampling (parity with :func:`encode_jpeg`)."""
    if subsample not in (False, None, True, "420"):
        raise ValueError(
            f"unsupported progressive subsample mode {subsample!r}"
        )
    comps, hmax, vmax, ql, qc, gray = _quantized_comps(arr, quality, subsample)
    h, w = arr.shape[:2]
    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        ql[ZIGZAG].tolist()
    )
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(
            qc[ZIGZAG].tolist()
        )
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in comps:
        sof += bytes([c["cid"], (c["ch"] << 4) | c["cv"], c["tq"]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof

    if gray:
        script = [
            ([1], 0, 0, 0, 1),
            ([1], 1, 5, 0, 2),
            ([1], 6, 63, 0, 2),
            ([1], 1, 63, 2, 1),
            ([1], 0, 0, 1, 0),
            ([1], 1, 63, 1, 0),
        ]
    else:
        script = [
            ([1, 2, 3], 0, 0, 0, 1),
            ([1], 1, 5, 0, 2),
            ([2], 1, 63, 0, 1),
            ([3], 1, 63, 0, 1),
            ([1], 6, 63, 0, 2),
            ([1], 1, 63, 2, 1),
            ([1, 2, 3], 0, 0, 1, 0),
            ([1], 1, 63, 1, 0),
            ([2], 1, 63, 1, 0),
            ([3], 1, 63, 1, 0),
        ]
    by_id = {c["cid"]: c for c in comps}
    for cids, ss, se, ah, al in script:
        scomps = [by_id[cid] for cid in cids]
        # pass 1: tally symbols for the optimized per-scan table
        freqs: dict[int, int] = {}
        _run_prog_scan(
            scomps, hmax, vmax, ss, se, ah, al,
            lambda s: freqs.__setitem__(s, freqs.get(s, 0) + 1),
            lambda b, n: None,
        )
        tclass = 0 if ss == 0 else 1
        codes: dict[int, tuple[int, int]] = {}
        if freqs:  # DC-refinement scans emit no symbols at all
            bits, values = _build_huff_table(freqs)
            codes = _huff_codes(bits, values)
            body = bytes([tclass << 4]) + bytes(bits) + bytes(values)
            out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
        sos = bytes([len(cids)])
        for cid in cids:
            sos += bytes([cid, 0x00])  # Td=Ta=0 (redefined per scan)
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        bw = _BitWriter()

        def emit_sym(s, _bw=bw, _codes=codes):
            code, ln = _codes[s]
            _bw.write(code, ln)

        def emit_bits(b, n, _bw=bw):
            if n:
                _bw.write(b, n)

        _run_prog_scan(scomps, hmax, vmax, ss, se, ah, al, emit_sym, emit_bits)
        bw.flush()
        out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)
