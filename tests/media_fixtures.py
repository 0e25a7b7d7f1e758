"""Fixture encoders and the media-row schema the tests build inputs
with.  Each writes a format whose decoder lives in the package
(12-bit JPEG, GIF, AIFF, uncompressed-DIB AVI, EXIF APP1 in a JPEG);
the package itself only reads these formats."""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import types as T

from reading_the_unreadable_spark.operators.jpeg import (
    AC_LUMA,
    DC_LUMA,
    Q_LUMA,
    ZIGZAG,
    _BitWriter,
    _block_grid,
    _encode_plane_block,
    _huff_codes,
    _scale_q,
)
from reading_the_unreadable_spark.operators.multimodal import _GIF_INTERLACE
from reading_the_unreadable_spark.operators.video import _chunk, _lst

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)


def encode_jpeg_12(arr12: np.ndarray, quality: int = 75) -> bytes:
    """HxW uint16 grayscale (12-bit range, 0..4095) → extended-
    sequential (SOF1) JFIF bytes with 12-bit sample precision — the
    archival-master / medical-scan profile.

    Same DCT path as the 8-bit encoder with the level shift at 2048;
    the quantization table is floored at 32 so every coefficient
    category stays within the standard 8-bit Huffman tables (T.81
    lets 12-bit streams need categories up to 15; flooring q keeps
    |DC diff| ≤ 1024 → category ≤ 11, the std table's last row —
    documented trade: archival 12-bit masters use strong quantization
    anyway)."""
    if arr12.ndim != 2:
        raise ValueError("12-bit JPEG encode is grayscale only")
    if int(arr12.max(initial=0)) > 4095:
        raise ValueError("12-bit samples exceed 4095")
    h, w = arr12.shape
    ql = np.maximum(_scale_q(Q_LUMA, quality), 32)
    ql_z = ql[ZIGZAG]

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    # Pq=1 16-bit DQT (B.2.4.1): 12-bit streams conventionally carry it
    out += b"\xff\xdb" + struct.pack(">H", 131) + b"\x10"
    out += np.asarray(ql_z, dtype=">u2").tobytes()
    sof = struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc1" + struct.pack(">H", len(sof) + 2) + sof
    for tclass, tid, (bits, values) in ((0, 0, DC_LUMA), (1, 0, AC_LUMA)):
        seg = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", len(seg) + 2) + seg
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_codes = _huff_codes(*DC_LUMA)
    ac_codes = _huff_codes(*AC_LUMA)
    bw = _BitWriter()
    grid = _block_grid(arr12.astype(np.float64))
    by, bx = grid.shape[:2]
    pred = 0
    for yy in range(by):
        for xx in range(bx):
            pred = _encode_plane_block(
                grid[yy, xx], ql, pred, dc_codes, ac_codes, bw, shift=2048.0
            )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def encode_gif(arr: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal GIF89a writer for round-trip tests: palette from the
    image's unique colors (≤256), fixed-width LZW codes with periodic
    CLEARs (the classic no-compression layout — spec-valid, decoder
    dictionary growth never outruns the code width)."""
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(f"encode_gif needs ≤256 colors, got {len(pal)}")
    bits = max(2, int(len(pal) - 1).bit_length())
    pal_n = 1 << bits
    palette = np.zeros((pal_n, 3), np.uint8)
    palette[: len(pal)] = pal
    grid = idx.reshape(h, w)
    if interlace:
        order = []
        for start, step in _GIF_INTERLACE:
            order.extend(range(start, h, step))
        grid = grid[order]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    min_code = bits
    clear, end = 1 << bits, (1 << bits) + 1
    code_size = bits + 1
    # CLEAR cadence: dict size resets to clear+2; one entry per emitted
    # symbol; stay strictly below 1<<code_size so the width never grows
    burst = (1 << code_size) - (clear + 2) - 1
    acc = 0
    nbits = 0
    stream = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for i, v in enumerate(grid.flatten()):
        if i and i % burst == 0:
            emit(clear)
        emit(int(v))
    emit(end)
    if nbits:
        stream.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def float_to_f80(x: float) -> bytes:
    if x == 0:
        return b"\x00" * 10
    sign = 0x8000 if x < 0 else 0
    m, e = math.frexp(abs(x))  # x = m * 2^e, m in [0.5, 1)
    mant = int(m * (1 << 64))
    return (sign | (e - 1 + 16383)).to_bytes(2, "big") + mant.to_bytes(8, "big")


def encode_aiff(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 samples (n,) or (n, ch) → big-endian AIFF (COMM + SSND)."""
    if samples.dtype != np.int16:
        raise ValueError("encode_aiff expects int16 samples")
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    comm = (
        struct.pack(">hLh", ch, n, 16) + float_to_f80(float(rate))
    )
    data = samples.astype(">i2").tobytes()
    ssnd = struct.pack(">LL", 0, 0) + data

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack(">I", len(body)) + body + pad

    body = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + struct.pack(">I", len(body)) + body


def encode_avi_dib(frames: list[np.ndarray], fps: float = 10.0) -> bytes:
    """List of HxWx3 uint8 RGB frames → RIFF-AVI with UNCOMPRESSED
    24-bit DIB ``00db`` chunks (bottom-up BGR, 4-byte-padded rows —
    the lossless capture-card layout)."""
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    row_size = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (row_size - w * 3)
    payloads = []
    for f in frames:
        bgr = f[::-1, :, ::-1]  # bottom-up, BGR
        payloads.append(b"".join(bgr[y].tobytes() + pad for y in range(h)))

    usec_per_frame = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1,
                                        int(round(fps)), 0, len(frames), 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_size * h, 0, 0, 0, 0
    )
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _lst(b"movi", b"".join(_chunk(b"00db", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def inject_exif(jpeg: bytes, app1_payload: bytes) -> bytes:
    """Insert the APP1 segment directly after SOI of a real JPEG."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    seg = b"\xff\xe1" + struct.pack(">H", len(app1_payload) + 2) + app1_payload
    return jpeg[:2] + seg + jpeg[2:]
