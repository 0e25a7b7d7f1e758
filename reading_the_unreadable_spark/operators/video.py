"""Video columns: AVI/Motion-JPEG decode + frame sampling, pure
numpy/stdlib.

Same codec policy as images (:mod:`multimodal`), audio (:mod:`audio`)
and PDF: the container that needs no codec library decodes for REAL.
With the from-scratch baseline JFIF codec (:mod:`jpeg`) in hand, the
classic RIFF-AVI Motion-JPEG layout (one ``00dc`` chunk per frame, each
a standalone JPEG) is fully parseable, as is the uncompressed 24-bit
DIB layout (``00db`` chunks, the lossless capture-card format): the
result is an actual video → frames → features pipeline, not a stub.
Inter-frame codecs (H.264/VP9/…) raise ``NotImplementedError`` loudly;
swapping in ffmpeg later changes only :func:`decode_avi_frames`.

Frame SAMPLING is the Spark-side contract a training-data pipeline
needs (decode every Nth frame, never materialize the rest): the
``00dc`` chunk walk is cheap byte slicing, so skipped frames cost no
JPEG work.

Scale shape: the payload-decode stage of
:func:`..execution.decode_payloads`, one output row per SAMPLED frame —
payloads never collected, never in a row-wise UDF.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame

from ..execution import decode_payloads
from .jpeg import decode_jpeg, encode_jpeg
from .multimodal import image_features

SAMPLE_EVERY_N = 2  # sample_frame_features decodes frames 0, 2, 4, …
FRAME_FEATURE_SCHEMA = (
    "media_ref string, frame_idx int, n_frames int, fps double, "
    "width int, height int, feat array<float>, decode_err string"
)


# ----------------------------------------------------------------- codec
def _chunk(cid: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return cid + struct.pack("<I", len(data)) + data + pad


def _lst(kind: bytes, data: bytes) -> bytes:
    body = kind + data
    return b"LIST" + struct.pack("<I", len(body)) + body


def encode_avi_mjpeg(frames: list[np.ndarray]) -> bytes:
    """List of HxWx3 uint8 RGB frames → minimal 10 fps RIFF-AVI with one
    MJPG ``00dc`` chunk per frame (the classic camera/scanner layout)."""
    fps = 10
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg(f, quality=90, subsample=True) for f in frames]

    usec_per_frame = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1,
                                        int(round(fps)), 0, len(frames), 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
    # fourcc for BI_JPEG-style MJPG lives in biCompression (offset 16)
    strf = strf[:16] + b"MJPG" + strf[20:]
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _lst(b"movi", b"".join(_chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_dib_frame(body: bytes, w: int, h: int) -> np.ndarray:
    """One uncompressed 24-bit DIB frame (bottom-up BGR, padded rows)
    → HxWx3 RGB."""
    row_size = (w * 3 + 3) // 4 * 4
    if len(body) < row_size * h:
        raise ValueError(
            f"DIB frame truncated: {len(body)} < {row_size * h} bytes"
        )
    rows = np.frombuffer(body, np.uint8, row_size * h).reshape(h, row_size)
    return rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1].copy()


def decode_avi_frames(
    payload: bytes, every_n: int = 1
) -> tuple[float, int, list[tuple[int, np.ndarray]]]:
    """RIFF-AVI bytes → (fps, total_frames, [(frame_idx, HxWx3)])
    decoding only every ``every_n``-th frame — skipped frames are byte
    slices, no decode work.  Streams decode as Motion-JPEG (``MJPG``
    ``00dc`` chunks) or uncompressed 24-bit DIB (``DIB ``/raw ``00db``
    chunks); inter-frame codecs raise."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError(f"not a RIFF/AVI file: {payload[:4]!r}")
    fps = 0.0
    frames: list[bytes] = []
    codec = "mjpeg"
    dims = [0, 0]  # from the VIDEO stream's strf BITMAPINFOHEADER
    streams: list[bytes] = []  # fccType per stream, in strl order
    vid_idx = [-1]

    def walk(data: bytes) -> None:
        nonlocal fps, codec
        pos = 0
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = struct.unpack_from("<I", data, pos + 4)[0]
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"LIST":
                walk(body[4:])
            elif cid == b"avih":
                usec = struct.unpack_from("<I", body, 0)[0]
                fps = 1_000_000 / usec if usec else 0.0
            elif cid == b"strh":
                streams.append(body[:4])
                if body[:4] == b"vids" and vid_idx[0] < 0:
                    vid_idx[0] = len(streams) - 1
                    fourcc = body[4:8]
                    if fourcc in (b"MJPG", b"mjpg"):
                        codec = "mjpeg"
                    elif fourcc in (b"DIB ", b"\x00\x00\x00\x00", b"RGB "):
                        codec = "dib"
                    else:
                        raise NotImplementedError(
                            f"video codec {fourcc!r} needs ffmpeg; MJPG and "
                            "uncompressed DIB decode here"
                        )
            elif cid == b"strf" and len(streams) - 1 == vid_idx[0] >= 0:
                if len(body) >= 16:
                    dims[0] = struct.unpack_from("<i", body, 4)[0]
                    dims[1] = abs(struct.unpack_from("<i", body, 8)[0])
            elif (
                len(cid) == 4
                and cid[2:] in (b"dc", b"db")
                and cid[:2].isdigit()
                and int(cid[:2]) == vid_idx[0]
            ):
                frames.append(body)
            pos += 8 + size + (size & 1)

    walk(payload[12:])
    if not frames:
        # a RIFF/AVI header with no video chunks is a truncated or
        # gutted file — silently returning zero frames would be data
        # loss the quarantine layer can't see
        raise ValueError("AVI contains no video frames (truncated?)")
    idxs = range(0, len(frames), max(every_n, 1))
    if codec == "mjpeg":
        sampled = [(i, decode_jpeg(frames[i])) for i in idxs]
    else:
        w, h = dims
        if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16) or w * h > 1 << 26:
            raise ValueError(f"implausible DIB frame dimensions {w}x{h}")
        sampled = [(i, _decode_dib_frame(frames[i], w, h)) for i in idxs]
    return fps, len(frames), sampled


# -------------------------------------------------------------- sampling
def sample_frame_features(media: DataFrame) -> DataFrame:
    """(media_ref, payload binary, …) → one row per SAMPLED frame (every
    ``SAMPLE_EVERY_N``-th) with the same feature vector the image path
    computes, through :func:`..execution.decode_payloads`; only sampled
    frames are JPEG-decoded."""

    def rows(b: bytes):
        fps, n, sampled = decode_avi_frames(b, every_n=SAMPLE_EVERY_N)
        for idx, arr in sampled:
            yield (
                idx, n, float(fps), int(arr.shape[1]), int(arr.shape[0]),
                image_features(arr).tolist(), None,
            )

    return decode_payloads(
        media, FRAME_FEATURE_SCHEMA, ("media_ref",), rows,
        (-1, 0, 0.0, 0, 0, []),
    )


# ------------------------------------------------------------------ synth
SYNTH_FRAMES = 4


def synth_avi_bytes(ref: str) -> bytes:
    """Deterministic REAL 32x24 AVI/MJPG clip of ``SYNTH_FRAMES``
    frames for a media_ref: a ref-seeded gradient that brightens per
    frame, so frame order is observable in the decoded features."""
    w, h = 32, 24
    seed = int.from_bytes(hashlib.md5(ref.encode()).digest()[:4], "big")
    rng = np.random.Generator(np.random.PCG64(seed))
    base = rng.integers(0, 40, (h, w, 3)).astype(np.float32)
    frames = []
    for i in range(SYNTH_FRAMES):
        grad = np.linspace(0, 150, w, dtype=np.float32)[None, :, None]
        frames.append(
            np.clip(base + grad + i * (100.0 / (SYNTH_FRAMES - 1)), 0, 255
                    ).astype(np.uint8)
        )
    return encode_avi_mjpeg(frames)
