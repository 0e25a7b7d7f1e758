"""ZIP / TAR / tar.gz archive container sources, from scratch.

Alongside WARC (`sources/warc.py`), these are the container formats
document dumps actually arrive in — scanned-archive deliveries ship as
``.zip`` (one member per page/issue), research corpora as ``.tar.gz``
bundles.  Both parsed from first principles:

- **ZIP** (PKWARE APPNOTE): the reader walks the *central directory*
  (found via the end-of-central-directory record), never trusting local
  headers for sizes — the spec-correct order, since streamed writers
  leave local sizes zero behind a data descriptor.  Methods 0 (stored)
  and 8 (raw DEFLATE via ``zlib``, wbits=-15) are supported; encrypted
  members, data-descriptor members (flag bit 3) and Zip64 raise loudly.
  CRC-32 and size are verified per member.
- **TAR** (POSIX ustar): 512-byte headers, octal size fields, the
  spaces-for-checksum header checksum, regular-file typeflags ('0' or
  NUL); GNU long-name/pax extension headers raise loudly.  A ``.tar.gz``
  is the same stream behind (possibly concatenated) gzip members.

Scale design mirrors the WARC source: archives are the natural split
unit, so the Spark surface is a ``(source, content)`` frame of whole
files (a ``binaryFile`` folder scan yields one) → member explode in
the payload-decode stage of :func:`..execution.decode_payloads` — one
Python crossing per Arrow batch of files, payload bytes never
driver-side, zero exchanges (plan-pinned in
`tests/test_plan_quality.py`).

Reference tie-in: the reference ingests from folder scans of already-
unpacked files (`send_to_lm_functions.py:715-737`); at the 100 TB tier
the unpack step itself must be distributed — this module is that step.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..execution import decode_payloads, spread

ARCHIVE_MEMBER_SCHEMA = (
    "source_file string, container string, member_name string, "
    "method string, member_bytes long, crc_ok boolean, payload binary, "
    "parse_err string"
)

_ZIP_LOCAL_SIG = b"PK\x03\x04"
_ZIP_CENTRAL_SIG = b"PK\x01\x02"
_ZIP_EOCD_SIG = b"PK\x05\x06"


# ------------------------------------------------------------------ ZIP write
def build_zip(members: list[tuple[str, bytes, str]]) -> bytes:
    """A ZIP archive from (name, payload, method) triples; method is
    ``"stored"`` or ``"deflate"``.  Every byte deterministic: fixed
    DOS time/date (0), version 2.0, no extra fields or comments."""
    out: list[bytes] = []
    central: list[bytes] = []
    offset = 0
    for name, payload, method in members:
        name_b = name.encode("utf-8")
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        if method == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(payload) + co.flush()
            method_id = 8
        elif method == "stored":
            data = payload
            method_id = 0
        else:
            raise ValueError(f"unknown zip method: {method!r}")
        local = (
            _ZIP_LOCAL_SIG
            + struct.pack(
                "<HHHHHIIIHH",
                20, 0, method_id, 0, 0, crc, len(data), len(payload),
                len(name_b), 0,
            )
            + name_b
        )
        central.append(
            _ZIP_CENTRAL_SIG
            + struct.pack(
                "<HHHHHHIIIHHHHHII",
                20, 20, 0, method_id, 0, 0, crc, len(data), len(payload),
                len(name_b), 0, 0, 0, 0, 0, offset,
            )
            + name_b
        )
        out.append(local + data)
        offset += len(local) + len(data)
    cd = b"".join(central)
    eocd = _ZIP_EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(cd), offset, 0
    )
    return b"".join(out) + cd + eocd


# ------------------------------------------------------------------ ZIP read
def parse_zip(data: bytes) -> list[dict]:
    """All members of a ZIP archive via the central directory.  Loud
    ValueError on structural corruption (bad signatures, truncation,
    CRC/size mismatch); NotImplementedError on Zip64, encryption, and
    data-descriptor (flag bit 3) members."""
    # EOCD: fixed 22 bytes + a comment up to 65535 bytes — scan the tail.
    tail = data[-(65536 + 22):]
    idx = tail.rfind(_ZIP_EOCD_SIG)
    if idx < 0:
        raise ValueError("zip: end-of-central-directory record not found")
    eocd_at = len(data) - len(tail) + idx
    if eocd_at + 22 > len(data):
        raise ValueError("zip: EOCD truncated")
    (_, _, n_here, n_total, cd_size, cd_offset, _) = struct.unpack(
        "<HHHHIIH", data[eocd_at + 4 : eocd_at + 22]
    )
    if n_total == 0xFFFF or cd_offset == 0xFFFFFFFF:
        raise NotImplementedError("zip64 archives not supported")
    if n_here != n_total:
        raise NotImplementedError("multi-disk zip archives not supported")
    if cd_offset + cd_size > len(data):
        raise ValueError("zip: central directory extends past end of file")
    members: list[dict] = []
    pos = cd_offset
    for _ in range(n_total):
        if data[pos : pos + 4] != _ZIP_CENTRAL_SIG:
            raise ValueError("zip: bad central-directory entry signature")
        (
            _vmade, _vneed, flags, method_id, _t, _d, crc, csize, usize,
            fnlen, extralen, commentlen, _disk, _iattr, _eattr, lho,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", data[pos + 4 : pos + 46])
        name = data[pos + 46 : pos + 46 + fnlen].decode("utf-8")
        pos += 46 + fnlen + extralen + commentlen
        if flags & 0x1:
            raise NotImplementedError(f"zip member {name!r} is encrypted")
        if flags & 0x8:
            raise NotImplementedError(
                f"zip member {name!r} uses a data descriptor (flag bit 3)"
            )
        if method_id not in (0, 8):
            raise NotImplementedError(
                f"zip member {name!r}: compression method {method_id}"
            )
        # Local header only locates the payload; sizes come from central.
        if data[lho : lho + 4] != _ZIP_LOCAL_SIG:
            raise ValueError(f"zip member {name!r}: bad local header")
        lh_fnlen, lh_extralen = struct.unpack("<HH", data[lho + 26 : lho + 30])
        body_at = lho + 30 + lh_fnlen + lh_extralen
        if body_at + csize > len(data):
            raise ValueError(f"zip member {name!r}: payload truncated")
        raw = data[body_at : body_at + csize]
        if method_id == 8:
            d = zlib.decompressobj(-15)
            try:
                payload = d.decompress(raw)
                payload += d.flush()
            except zlib.error as e:
                raise ValueError(f"zip member {name!r}: bad deflate: {e}") from e
        else:
            payload = raw
        if len(payload) != usize:
            raise ValueError(
                f"zip member {name!r}: size mismatch "
                f"(central {usize}, got {len(payload)})"
            )
        crc_ok = (zlib.crc32(payload) & 0xFFFFFFFF) == crc
        members.append(
            {
                "member_name": name,
                "method": "deflate" if method_id == 8 else "stored",
                "payload": payload,
                "crc_ok": crc_ok,
            }
        )
    return members


# ------------------------------------------------------------------ TAR write
def _tar_header(name: str, size: int) -> bytes:
    name_b = name.encode("utf-8")
    if len(name_b) > 100:
        raise ValueError(f"tar member name too long: {name!r}")
    h = bytearray(512)
    h[0 : len(name_b)] = name_b
    h[100:108] = b"0000644\x00"           # mode
    h[108:116] = b"0000000\x00"           # uid
    h[116:124] = b"0000000\x00"           # gid
    h[124:136] = f"{size:011o}".encode() + b"\x00"
    h[136:148] = b"00000000000\x00"       # mtime 0 — deterministic
    h[148:156] = b" " * 8                 # checksum: spaces while summing
    h[156] = ord("0")                     # regular file
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    chk = sum(h)
    h[148:156] = f"{chk:06o}".encode() + b"\x00 "
    return bytes(h)


def build_tar(members: list[tuple[str, bytes]], gzip_frame: bool = False) -> bytes:
    """A POSIX ustar stream from (name, payload) pairs; payloads padded
    to 512-byte blocks, two zero blocks at the end.  ``gzip_frame``
    wraps the stream in one gzip member (the .tar.gz layout)."""
    out = []
    for name, payload in members:
        out.append(_tar_header(name, len(payload)))
        out.append(payload)
        pad = (-len(payload)) % 512
        out.append(b"\x00" * pad)
    out.append(b"\x00" * 1024)
    blob = b"".join(out)
    if gzip_frame:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        blob = co.compress(blob) + co.flush()
    return blob


# ------------------------------------------------------------------ TAR read
def parse_tar(data: bytes) -> list[dict]:
    """All regular-file members of a ustar stream.  Loud ValueError on
    bad checksums/truncation; NotImplementedError on GNU/pax extension
    typeflags (long names, sparse files)."""
    members: list[dict] = []
    pos = 0
    n = len(data)
    while pos + 512 <= n:
        block = data[pos : pos + 512]
        if block == b"\x00" * 512:
            break  # end-of-archive marker
        if block[257:262] != b"ustar":
            raise ValueError("tar: bad magic (not a ustar header)")
        stored_chk = int(block[148:156].split(b"\x00")[0].strip() or b"0", 8)
        summed = sum(block[:148]) + 8 * 32 + sum(block[156:])
        if summed != stored_chk:
            raise ValueError("tar: header checksum mismatch")
        name = block[0:100].split(b"\x00")[0].decode("utf-8")
        size_field = block[124:136].split(b"\x00")[0].strip()
        try:
            size = int(size_field or b"0", 8)
        except ValueError as e:
            raise ValueError(f"tar member {name!r}: bad size field") from e
        typeflag = block[156:157]
        body_at = pos + 512
        if body_at + size > n:
            raise ValueError(f"tar member {name!r}: payload truncated")
        if typeflag in (b"0", b"\x00"):
            members.append(
                {
                    "member_name": name,
                    "method": "tar",
                    "payload": data[body_at : body_at + size],
                    "crc_ok": True,  # tar has no payload CRC; header verified
                }
            )
        elif typeflag in (b"L", b"K", b"x", b"g", b"S"):
            raise NotImplementedError(
                f"tar extension typeflag {typeflag!r} not supported"
            )
        # directories ('5'), links ('1','2'), devices: skipped silently
        pos = body_at + size + ((-size) % 512)
    else:
        if pos < n:
            raise ValueError("tar: trailing partial block")
    return members


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the .tar.gz and .warc.gz
    layouts) — stdlib ``gzip.decompress`` stops after one member; the
    zlib loop walks ``unused_data`` through all of them."""
    out, rest = [], data
    while rest:
        d = zlib.decompressobj(31)
        try:
            out.append(d.decompress(rest))
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member: {e}") from e
        if not d.eof:
            raise ValueError("truncated gzip member")
        rest = d.unused_data
    return b"".join(out)


# ------------------------------------------------------------------ sniff
def parse_archive(data: bytes) -> tuple[str, list[dict]]:
    """(container, members) — container sniffed by magic: gzip frames
    unwrap first (re-sniffed as tar inside), a ZIP local-header or
    end-of-central-directory signature parses as ZIP, ustar headers as
    TAR (a tar whose first member name starts with ``PK`` stays TAR).
    Unknown magic raises ValueError."""
    if len(data) < 4:
        raise ValueError("archive too short to sniff")
    if data[:2] == b"\x1f\x8b":
        inner = _gunzip_members(data)
        if len(inner) >= 262 and inner[257:262] == b"ustar":
            return "tar.gz", parse_tar(inner)
        raise ValueError("gzip payload is not a tar stream")
    if data[:4] in (_ZIP_LOCAL_SIG, _ZIP_EOCD_SIG):
        return "zip", parse_zip(data)
    if len(data) >= 262 and data[257:262] == b"ustar":
        return "tar", parse_tar(data)
    raise ValueError(f"unknown archive magic: {data[:4]!r}")


# ------------------------------------------------------------- Spark surface
def parse_archive_frame(files: DataFrame) -> DataFrame:
    """(source, content: binary) → one row per archive member, through
    :func:`..execution.decode_payloads`: the archive is the split unit,
    members explode executor-side."""

    def rows(b: bytes):
        container, members = parse_archive(b)
        for m in members:
            yield (
                container, m["member_name"], m["method"], len(m["payload"]),
                m["crc_ok"], m["payload"], None,
            )

    return decode_payloads(
        files, ARCHIVE_MEMBER_SCHEMA, ("source",), rows, payload="content"
    )


# ------------------------------------------------- deterministic fixtures
def archives_from_documents(documents: DataFrame) -> DataFrame:
    """Pack the documents table into synthetic archives — every byte a
    pure function of (doc_id, text) so parsing back is DuckDB-replicable
    regardless of how docs batch into files:

    - even doc_id → ZIP archive; member method ``stored`` when
      ``doc_id % 3 == 0`` else ``deflate``;
    - odd doc_id → ``.tar.gz`` archive.

    Member name is ``doc_{doc_id}.txt``; payload is the UTF-8 text.
    Output: (source string, content binary) — the parse_archive_frame
    input shape.  Batches never leave the executor."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zips: list[tuple[str, bytes, str]] = []
            tars: list[tuple[str, bytes]] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                name = f"doc_{doc_id}.txt"
                payload = str(text).encode("utf-8")
                if doc_id % 2 == 0:
                    method = "stored" if doc_id % 3 == 0 else "deflate"
                    zips.append((name, payload, method))
                else:
                    tars.append((name, payload))
            out_src, out_blob = [], []
            if zips:
                blob = build_zip(zips)
                out_src.append(
                    f"synth://{hashlib.md5(blob).hexdigest()[:12]}.zip"
                )
                out_blob.append(bytearray(blob))
            if tars:
                blob = build_tar(tars, gzip_frame=True)
                out_src.append(
                    f"synth://{hashlib.md5(blob).hexdigest()[:12]}.tar.gz"
                )
                out_blob.append(bytearray(blob))
            yield pd.DataFrame(
                {
                    "source": pd.Series(out_src, dtype=object),
                    "content": pd.Series(out_blob, dtype=object),
                }
            )

    return spread(documents.select("doc_id", "text")).mapInPandas(
        fn, schema="source string, content binary"
    )
