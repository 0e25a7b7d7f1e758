"""WARC/WET web-archive container source (ISO 28500 / WARC 1.0).

The container format web-scale extraction corpora actually arrive in
(Common Crawl ships WARC response captures and WET text conversions) —
parsed from scratch: version line, CRLF-terminated named fields,
``Content-Length``-delimited payload, double-CRLF record trailer, and
per-record gzip members (the standard .warc.gz layout, concatenated
DEFLATE members decoded with a ``zlib`` loop).  HTTP ``response``
payloads are further split into status line / headers / body.

Scale design: WARC files are the natural split unit (Common Crawl caps
them ~1 GB); records inside a file are sequential by construction, so
the Spark surface takes a ``(source, content)`` frame of whole files (a
``binaryFile`` folder scan yields one) and parses each file inside
:func:`..execution.decode_payloads` — one Python crossing per Arrow
batch of files, records exploded executor-side, payload bytes never
driver-side.

Reference tie-in: the reference ingests page images from folder scans
(`send_to_lm_functions.py:715-737`); a web-corpus deployment of the same
pipeline starts one step earlier, at the crawl archive — this module is
that step, feeding the existing HTML main-content and layout chains.
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..execution import decode_payloads, spread
from .archives import _gunzip_members

CRLF = b"\r\n"

WARC_RECORD_SCHEMA = (
    "source_file string, record_type string, target_uri string, "
    "warc_date string, record_id string, warc_content_type string, "
    "http_status int, http_content_type string, payload binary, "
    "parse_err string"
)


# ------------------------------------------------------------------ writer
def build_warc_record(
    record_type: str,
    payload: bytes,
    *,
    target_uri: str | None = None,
    content_type: str = "application/octet-stream",
) -> bytes:
    """One WARC/1.0 record: header block + Content-Length payload +
    double-CRLF trailer.  The record id is a deterministic urn:uuid
    derived from the payload and the date is fixed (fixtures must be
    reproducible — no wall clock, no randomness)."""
    h = hashlib.md5(record_type.encode() + b"\x00" + payload).hexdigest()
    record_id = f"urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + record_type.encode(),
        b"WARC-Record-ID: <" + record_id.encode() + b">",
        b"WARC-Date: 2026-01-01T00:00:00Z",
    ]
    if target_uri is not None:
        lines.append(b"WARC-Target-URI: " + target_uri.encode())
    lines.append(b"Content-Type: " + content_type.encode())
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return CRLF.join(lines) + CRLF + CRLF + payload + CRLF + CRLF


def build_http_response(body: bytes) -> bytes:
    """An HTTP/1.1 200 text/html response message — the payload of a
    WARC ``response`` record (status line + headers + blank line + body)."""
    head = (
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode() + body


def build_warc(records: list[bytes], gzip_members: bool = False) -> bytes:
    """Concatenate records into a .warc (or .warc.gz: each record its own
    gzip member, the layout that makes archives seekable per record)."""
    if not gzip_members:
        return b"".join(records)
    out = []
    for r in records:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits=31 → gzip frame
        out.append(co.compress(r) + co.flush())
    return b"".join(out)


# ------------------------------------------------------------------ parser
def _parse_header_block(block: bytes) -> dict[str, str]:
    """CRLF-separated ``Name: value`` fields; names case-folded (the spec
    says field names are case-insensitive)."""
    headers: dict[str, str] = {}
    for line in block.split(CRLF):
        if not line:
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed WARC header line: {line[:60]!r}")
        headers[name.strip().decode("latin-1").lower()] = value.strip().decode(
            "latin-1"
        )
    return headers


def split_http_response(payload: bytes) -> tuple[int, str | None, bytes]:
    """(status, content-type, body) of an HTTP response message.  Raises
    ValueError when the payload is not HTTP — callers decide whether
    that quarantines or propagates."""
    head, sep, body = payload.partition(CRLF + CRLF)
    lines = head.split(CRLF)
    parts = lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"not an HTTP response: {lines[0][:60]!r}")
    if not sep:
        raise ValueError("HTTP response head missing blank-line terminator")
    try:
        status = int(parts[1])
    except ValueError as e:
        raise ValueError(f"bad HTTP status: {parts[1][:20]!r}") from e
    ctype = None
    for line in lines[1:]:
        name, _, value = line.partition(b":")
        if name.strip().lower() == b"content-type":
            ctype = value.strip().decode("latin-1")
    return status, ctype, body


def parse_warc(data: bytes) -> list[dict]:
    """All records of a WARC file (plain or .warc.gz), each as a dict of
    the spec-named fields plus the raw payload.  Loud failure on
    structural corruption: bad magic, missing Content-Length, payload
    truncation — a quarantining caller catches ValueError."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    records, pos, n = [], 0, len(data)
    while pos < n:
        # tolerate extra CRLFs between records (seen in the wild)
        while data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = data.find(CRLF + CRLF, pos)
        if head_end < 0:
            raise ValueError("WARC record header not terminated")
        head = data[pos:head_end]
        version, _, field_block = head.partition(CRLF)
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line: {version[:40]!r}")
        fields = _parse_header_block(field_block)
        if "content-length" not in fields:
            raise ValueError("WARC record missing Content-Length")
        try:
            length = int(fields["content-length"])
        except ValueError as e:
            raise ValueError(
                f"bad Content-Length: {fields['content-length']!r}"
            ) from e
        if length < 0:
            raise ValueError(f"bad Content-Length: {length}")
        body_start = head_end + 4
        if body_start + length > n:
            raise ValueError("WARC payload truncated")
        payload = data[body_start : body_start + length]
        if data[body_start + length : body_start + length + 4] != CRLF + CRLF:
            raise ValueError("WARC record missing double-CRLF trailer")
        records.append(
            {
                "record_type": fields.get("warc-type"),
                "target_uri": fields.get("warc-target-uri"),
                "warc_date": fields.get("warc-date"),
                "record_id": fields.get("warc-record-id", "").strip("<>"),
                "warc_content_type": fields.get("content-type"),
                "payload": payload,
            }
        )
        pos = body_start + length + 4
    return records


# ------------------------------------------------------------- Spark surface
def parse_warc_frame(files: DataFrame) -> DataFrame:
    """(source, content: binary) → one row per WARC record, HTTP
    responses split, through :func:`..execution.decode_payloads`: the
    file is the split unit, records explode executor-side."""

    def rows(b: bytes):
        for rec in parse_warc(b):
            status, http_ctype, body = None, None, rec["payload"]
            ct = (rec["warc_content_type"] or "").lower()
            if rec["record_type"] == "response" and ct.startswith("application/http"):
                try:
                    status, http_ctype, body = split_http_response(body)
                except ValueError:
                    pass  # keep raw; downstream sees no status
            yield (
                rec["record_type"], rec["target_uri"], rec["warc_date"],
                rec["record_id"], rec["warc_content_type"], status, http_ctype,
                body, None,
            )

    return decode_payloads(
        files, WARC_RECORD_SCHEMA, ("source",), rows, payload="content"
    )


# ------------------------------------------------- deterministic fixtures
def warc_from_documents(documents: DataFrame) -> DataFrame:
    """Pack the documents table into synthetic .warc.gz blobs — one
    archive per Arrow batch, one record per document, every byte a pure
    function of (doc_id, text) so parsing back is DuckDB-replicable
    regardless of how docs batch into files:

    - ``doc_id % 7 == 0`` → WET ``conversion`` record (text/plain, the
      Common Crawl text-extract layout);
    - otherwise → ``response`` record wrapping the text in a fixed HTML
      template behind an HTTP/1.1 200 head.

    Output: (source string, content binary) — the parse_warc_frame
    input shape.  Batches never leave the executor."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            records = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                uri = f"http://example.org/doc/{doc_id}"
                if doc_id % 7 == 0:
                    records.append(
                        build_warc_record(
                            "conversion",
                            str(text).encode(),
                            target_uri=uri,
                            content_type="text/plain",
                        )
                    )
                else:
                    html = (
                        f"<html><head><title>doc {doc_id}</title></head>"
                        f"<body><p>{text}</p></body></html>"
                    ).encode()
                    records.append(
                        build_warc_record(
                            "response",
                            build_http_response(html),
                            target_uri=uri,
                            content_type="application/http; msgtype=response",
                        )
                    )
            if not records:
                yield pd.DataFrame({"source": pd.Series([], dtype=object),
                                    "content": pd.Series([], dtype=object)})
                continue
            blob = build_warc(records, gzip_members=True)
            name = hashlib.md5(blob).hexdigest()[:12]
            yield pd.DataFrame(
                {"source": [f"synth://{name}.warc.gz"],
                 "content": [bytearray(blob)]}
            )

    # payload packing is compute-heavy map work: rebalance under-split scans
    return spread(documents.select("doc_id", "text")).mapInPandas(
        fn, schema="source string, content binary"
    )
