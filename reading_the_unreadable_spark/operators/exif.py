"""EXIF metadata extraction (JPEG APP1 → TIFF IFD walk), from scratch.

Multimodal curation filters on capture metadata before ever decoding
pixels — orientation (rotate-aware dedup), timestamp (temporal splits),
camera make/model (source mix), GPS (geo filtering / PII scrubbing) —
so EXIF extraction is a scan-stage metadata pass over the image corpus,
orders of magnitude cheaper than decode.  The reference reads images
with cv2 and never touches EXIF (`send_to_lm_functions.py:715-737`);
this is a beyond-reference member of the codec family
(`operators/jpeg.py`, `operators/tiff.py`) and follows its conventions:
pure-numpy/stdlib parsing inside the payload-decode stage of
:func:`..execution.decode_payloads`, loud ``ValueError`` on malformed
structures.

Wire format implemented (EXIF 2.3 over TIFF 6.0):

- JPEG APP1 segment tagged ``Exif\\0\\0`` directly after SOI (walked
  past any other APPn markers).
- TIFF header with EITHER byte order (``II``/``MM`` both supported and
  both exercised by tests), IFD0 → Exif sub-IFD (0x8769) → GPS IFD
  (0x8825).
- value types: ASCII (NUL-terminated), SHORT, LONG, RATIONAL (pairs of
  uint32), with the ≤4-bytes-inline / offset-indirect rule.

A payload with no APP1/Exif marker yields all-NULL fields (absence is
data, not an error); a structurally corrupt EXIF block raises
``ValueError``, and the decode stage turns it into a quarantine row.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..execution import decode_payloads

# IFD0
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
# Exif sub-IFD
TAG_EXPOSURE = 0x829A
TAG_FNUMBER = 0x829D
TAG_ISO = 0x8827
TAG_PIX_X = 0xA002
TAG_PIX_Y = 0xA003
# GPS IFD
TAG_GPS_LAT_REF = 0x0001
TAG_GPS_LAT = 0x0002
TAG_GPS_LON_REF = 0x0003
TAG_GPS_LON = 0x0004

_T_ASCII, _T_SHORT, _T_LONG, _T_RATIONAL = 2, 3, 4, 5
_TYPE_SIZE = {_T_ASCII: 1, _T_SHORT: 2, _T_LONG: 4, _T_RATIONAL: 8}


def _pack_ifd(
    bo: str, entries: list[tuple[int, int, object]], base_off: int
) -> tuple[bytes, bytes]:
    """entries = [(tag, type, value)] → (ifd bytes, overflow data bytes).
    ``base_off`` is the TIFF offset where the IFD itself starts; overflow
    values land directly after the IFD."""
    entries = sorted(entries)
    ifd_len = 2 + len(entries) * 12 + 4
    data = bytearray()
    out = bytearray(struct.pack(bo + "H", len(entries)))
    for tag, typ, val in entries:
        if typ == _T_ASCII:
            raw = val.encode("ascii") + b"\x00"
            count = len(raw)
        elif typ == _T_RATIONAL:
            pairs = val if isinstance(val, list) else [val]
            raw = b"".join(struct.pack(bo + "II", n, d) for n, d in pairs)
            count = len(pairs)
        elif typ == _T_SHORT:
            raw = struct.pack(bo + "H", val)
            count = 1
        else:
            raw = struct.pack(bo + "I", val)
            count = 1
        if len(raw) <= 4:
            inline = raw + b"\x00" * (4 - len(raw))
        else:
            off = base_off + ifd_len + len(data)
            data += raw
            inline = struct.pack(bo + "I", off)
        out += struct.pack(bo + "HHI", tag, typ, count) + inline
    out += struct.pack(bo + "I", 0)  # next-IFD pointer: none
    return bytes(out), bytes(data)


def build_exif(fields: dict, byte_order: str = "II") -> bytes:
    """Assemble an APP1 payload (``Exif\\0\\0`` + TIFF) from a field
    dict (keys: make, model, orientation, datetime, exposure (num,den),
    fnumber (num,den), iso, width, height, gps_lat_ref, gps_lat
    [3 (num,den) pairs], gps_lon_ref, gps_lon)."""
    bo = "<" if byte_order == "II" else ">"
    header = byte_order.encode() + struct.pack(bo + "HI", 42, 8)

    exif_entries = [
        (TAG_EXPOSURE, _T_RATIONAL, fields["exposure"]),
        (TAG_FNUMBER, _T_RATIONAL, fields["fnumber"]),
        (TAG_ISO, _T_SHORT, fields["iso"]),
        (TAG_PIX_X, _T_LONG, fields["width"]),
        (TAG_PIX_Y, _T_LONG, fields["height"]),
    ]
    gps_entries = [
        (TAG_GPS_LAT_REF, _T_ASCII, fields["gps_lat_ref"]),
        (TAG_GPS_LAT, _T_RATIONAL, fields["gps_lat"]),
        (TAG_GPS_LON_REF, _T_ASCII, fields["gps_lon_ref"]),
        (TAG_GPS_LON, _T_RATIONAL, fields["gps_lon"]),
    ]

    # IFD0 is laid out first; sub-IFD offsets depend on IFD0's total
    # size, which depends only on entry COUNT and overflow SIZES — two
    # passes resolve the layout exactly.
    def ifd0_entries(exif_off: int, gps_off: int):
        return [
            (TAG_MAKE, _T_ASCII, fields["make"]),
            (TAG_MODEL, _T_ASCII, fields["model"]),
            (TAG_ORIENTATION, _T_SHORT, fields["orientation"]),
            (TAG_DATETIME, _T_ASCII, fields["datetime"]),
            (TAG_EXIF_IFD, _T_LONG, exif_off),
            (TAG_GPS_IFD, _T_LONG, gps_off),
        ]

    probe_ifd, probe_data = _pack_ifd(bo, ifd0_entries(0, 0), 8)
    exif_off = 8 + len(probe_ifd) + len(probe_data)
    probe_exif, probe_exif_data = _pack_ifd(bo, exif_entries, exif_off)
    gps_off = exif_off + len(probe_exif) + len(probe_exif_data)
    ifd0, ifd0_data = _pack_ifd(bo, ifd0_entries(exif_off, gps_off), 8)
    exif_ifd, exif_data = _pack_ifd(bo, exif_entries, exif_off)
    gps_ifd, gps_data = _pack_ifd(bo, gps_entries, gps_off)
    tiff = header + ifd0 + ifd0_data + exif_ifd + exif_data + gps_ifd + gps_data
    return b"Exif\x00\x00" + tiff


def wrap_jpeg(app1_payload: bytes) -> bytes:
    """Minimal JPEG container carrying only metadata (SOI + APP1 + EOI)
    — sufficient for any EXIF reader."""
    seg = b"\xff\xe1" + struct.pack(">H", len(app1_payload) + 2) + app1_payload
    return b"\xff\xd8" + seg + b"\xff\xd9"


def _read_exif_ifd(tiff: bytes, off: int, bo: str) -> dict[int, object]:
    if off + 2 > len(tiff):
        raise ValueError("EXIF IFD offset out of range")
    (n,) = struct.unpack_from(bo + "H", tiff, off)
    tags: dict[int, object] = {}
    for i in range(n):
        base = off + 2 + i * 12
        if base + 12 > len(tiff):
            raise ValueError("truncated EXIF IFD entry")
        tag, typ, count = struct.unpack_from(bo + "HHI", tiff, base)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue  # unknown type: skip, per TIFF 6.0 readers
        total = size * count
        if total > len(tiff):
            raise ValueError(f"EXIF tag {tag:#x} claims {total} bytes")
        voff = (
            base + 8
            if total <= 4
            else struct.unpack_from(bo + "I", tiff, base + 8)[0]
        )
        if voff + total > len(tiff):
            raise ValueError(f"EXIF tag {tag:#x} value out of range")
        if typ == _T_ASCII:
            raw = tiff[voff : voff + count]
            tags[tag] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        elif typ == _T_RATIONAL:
            vals = struct.unpack_from(bo + "II" * count, tiff, voff)
            tags[tag] = [(vals[2 * i], vals[2 * i + 1]) for i in range(count)]
        else:
            fmt = "H" if typ == _T_SHORT else "I"
            vals = list(struct.unpack_from(bo + fmt * count, tiff, voff))
            tags[tag] = vals[0] if count == 1 else vals
    return tags


def _rat(v, idx: int = 0) -> float | None:
    if v is None:
        return None
    pair = v[idx] if isinstance(v, list) else v
    n, d = pair
    return None if d == 0 else n / d


def _dms(v, ref: str | None, neg_refs: str) -> float | None:
    if v is None or not isinstance(v, list) or len(v) != 3:
        return None
    deg, mn, sec = (_rat(v, 0), _rat(v, 1), _rat(v, 2))
    if deg is None or mn is None or sec is None:
        return None
    val = deg + mn / 60 + sec / 3600
    return -val if (ref or "") in neg_refs else val


def parse_exif(jpeg: bytes) -> dict | None:
    """JPEG bytes → flat EXIF field dict, or None when the image simply
    carries no Exif APP1 (absence is data).  Malformed structures raise
    ``ValueError``."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos, tiff = 2, None
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            break
        marker = jpeg[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", jpeg, pos + 2)
        body = jpeg[pos + 4 : pos + 2 + seglen]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            break
        if marker == 0xDA:  # entropy stream starts: no EXIF ahead
            break
        pos += 2 + seglen
    if tiff is None:
        return None
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("EXIF TIFF header has unknown byte order")
    magic, ifd0_off = struct.unpack_from(bo + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("EXIF TIFF magic != 42")
    ifd0 = _read_exif_ifd(tiff, ifd0_off, bo)
    exif = (
        _read_exif_ifd(tiff, ifd0[TAG_EXIF_IFD], bo)
        if TAG_EXIF_IFD in ifd0
        else {}
    )
    gps = (
        _read_exif_ifd(tiff, ifd0[TAG_GPS_IFD], bo) if TAG_GPS_IFD in ifd0 else {}
    )
    return {
        "make": ifd0.get(TAG_MAKE),
        "model": ifd0.get(TAG_MODEL),
        "orientation": ifd0.get(TAG_ORIENTATION),
        "datetime": ifd0.get(TAG_DATETIME),
        "exposure_s": _rat(exif.get(TAG_EXPOSURE)),
        "f_number": _rat(exif.get(TAG_FNUMBER)),
        "iso": exif.get(TAG_ISO),
        "width": exif.get(TAG_PIX_X),
        "height": exif.get(TAG_PIX_Y),
        "gps_lat": _dms(gps.get(TAG_GPS_LAT), gps.get(TAG_GPS_LAT_REF), "S"),
        "gps_lon": _dms(gps.get(TAG_GPS_LON), gps.get(TAG_GPS_LON_REF), "W"),
    }


EXIF_SCHEMA = (
    "doc_id long, make string, model string, orientation int, "
    "datetime string, exposure_s double, f_number double, iso int, "
    "width int, height int, gps_lat double, gps_lon double, err string"
)


def exif_features(files: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → one typed EXIF row per image, through
    :func:`..execution.decode_payloads`.  Missing EXIF → NULL fields."""

    fields = [f.split(" ")[0] for f in EXIF_SCHEMA.split(", ")][1:-1]

    def rows(b: bytes):
        parsed = parse_exif(b) or {}
        yield (*(parsed.get(k) for k in fields), None)

    return decode_payloads(files, EXIF_SCHEMA, ("doc_id",), rows)
