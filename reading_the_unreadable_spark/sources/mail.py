"""RFC 5322 / MIME mail source (mbox + .eml), from scratch.

Mailing-list archives (LKML, pipermail dumps, Enron) are a standing
training-corpus family, and they arrive as mbox files: concatenated
RFC 5322 messages behind ``From `` separator lines.  This module
implements the full chain without the stdlib ``email`` package — the
wire formats are simple enough to own, and owning them keeps the
error contract loud and the behavior pinned by our own tests:

- **mbox framing** — messages split on ``\\nFrom `` separators;
  ``>From``-stuffed body lines are unstuffed per the mboxrd rule
  (one leading ``>`` removed from ``>+From `` lines);
- **header block** — CRLF or LF tolerant, continuation lines (leading
  WSP) unfolded with a single space, names case-insensitive;
- **RFC 2047 encoded-words** in Subject — ``=?charset?Q?..?=`` and
  ``?B?`` forms decoded (Q: ``_`` → space, ``=XX`` hex; B: base64);
- **MIME multipart** — boundary from the Content-Type parameter,
  preamble/epilogue dropped, parts walked recursively in order;
- **Content-Transfer-Encoding** — 7bit/8bit identity,
  quoted-printable (``=XX``, soft line breaks) and base64 decoded from
  first principles (``binascii`` for the base64 alphabet, as zlib is
  for DEFLATE elsewhere).

Output is one row per MIME part, ``(part_order, content_type, subject,
from, text, payload)`` — text parts decoded to strings, other parts
kept as bytes for the multimodal decoders downstream.  Scale shape:
the mbox file is the split unit (``binaryFile`` scan or any
(source, content) frame) → :func:`..execution.decode_payloads`
explodes messages and parts executor-side; a malformed message
quarantines on its own, with its ``msg_index``.
"""

from __future__ import annotations

import binascii
import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..execution import QUARANTINE_ERRORS, decode_payloads, quarantine_reason

MAIL_PART_SCHEMA = (
    "source_file string, msg_index int, part_order int, "
    "content_type string, subject string, sender string, text string, "
    "payload binary, parse_err string"
)


# ------------------------------------------------------------- encodings
def qp_encode(text: str) -> str:
    """Quoted-printable with ``=XX`` escapes for non-printables/=, soft
    line breaks at 72 columns — deterministic, round-trips exactly."""
    out: list[str] = []
    col = 0
    for ch in text:
        b = ch.encode("utf-8")
        enc = (
            ch
            if (" " <= ch <= "~" and ch != "=")
            else "".join(f"={x:02X}" for x in b)
        )
        if col + len(enc) > 72:
            out.append("=\n")
            col = 0
        out.append(enc)
        col += len(enc)
    return "".join(out)


def qp_decode(data: str) -> str:
    """Inverse of `qp_encode` (and of any conforming encoder): soft
    breaks removed, ``=XX`` hex decoded, UTF-8 reassembled."""
    data = re.sub(r"=\r?\n", "", data)

    def unhex(m: re.Match) -> str:
        return chr(int(m.group(1), 16))

    raw = re.sub(r"=([0-9A-Fa-f]{2})", unhex, data)
    return raw.encode("latin-1").decode("utf-8", errors="replace")


def b64_encode_wrapped(payload: bytes) -> str:
    enc = binascii.b2a_base64(payload, newline=False).decode("ascii")
    return "\n".join(enc[i : i + 76] for i in range(0, len(enc), 76))


def _b64_decode(data: str) -> bytes:
    compact = re.sub(r"\s+", "", data)
    pad = (-len(compact)) % 4
    try:
        return binascii.a2b_base64(compact + "=" * pad)
    except binascii.Error as e:
        raise ValueError(f"bad base64 body: {e}") from e


_ENCODED_WORD = re.compile(r"=\?([^?]+)\?([QqBb])\?([^?]*)\?=")


def decode_encoded_words(s: str) -> str:
    """RFC 2047 Subject decoding: Q-form (``_``→space, ``=XX``) and
    B-form (base64); unknown charsets decode as UTF-8 with replace."""

    def one(m: re.Match) -> str:
        charset, kind, payload = m.group(1), m.group(2).upper(), m.group(3)
        if kind == "Q":
            raw = re.sub(
                r"=([0-9A-Fa-f]{2})",
                lambda h: chr(int(h.group(1), 16)),
                payload.replace("_", " "),
            ).encode("latin-1")
        else:
            raw = _b64_decode(payload)
        try:
            return raw.decode(charset, errors="replace")
        except LookupError:
            return raw.decode("utf-8", errors="replace")

    return _ENCODED_WORD.sub(one, s)


# ------------------------------------------------------------- rfc5322
def _split_headers(raw: bytes) -> tuple[dict[str, str], bytes]:
    """Header block → folded-header dict (lower-cased names, last wins)
    + body bytes.  CRLF/LF tolerant."""
    m = re.search(rb"\r?\n\r?\n", raw)
    if m is None:
        head, body = raw, b""
    else:
        head, body = raw[: m.start()], raw[m.end() :]
    headers: dict[str, str] = {}
    name: str | None = None
    for line in head.decode("utf-8", errors="replace").splitlines():
        if line[:1] in (" ", "\t") and name is not None:
            headers[name] += " " + line.strip()
            continue
        if ":" not in line:
            raise ValueError(f"malformed header line: {line[:60]!r}")
        name, _, val = line.partition(":")
        name = name.strip().lower()
        headers[name] = val.strip()
    return headers, body


def _content_type(headers: dict[str, str]) -> tuple[str, dict[str, str]]:
    ct = headers.get("content-type", "text/plain")
    parts = [p.strip() for p in ct.split(";")]
    params: dict[str, str] = {}
    for p in parts[1:]:
        if "=" in p:
            k, _, v = p.partition("=")
            params[k.strip().lower()] = v.strip().strip('"')
    return parts[0].lower(), params


def _decode_body(body: bytes, headers: dict[str, str]) -> bytes:
    cte = headers.get("content-transfer-encoding", "7bit").lower()
    if cte in ("7bit", "8bit", "binary"):
        return body
    if cte == "quoted-printable":
        return qp_decode(body.decode("ascii", errors="replace")).encode("utf-8")
    if cte == "base64":
        return _b64_decode(body.decode("ascii", errors="replace"))
    raise NotImplementedError(f"content-transfer-encoding {cte!r}")


def parse_eml(raw: bytes) -> list[dict]:
    """One RFC 5322 message → MIME parts in document order:
    ``{part_order, content_type, subject, sender, text, payload}``.
    ``text`` is set for text/* parts, ``payload`` for everything else.
    Raises ValueError / NotImplementedError on malformed input —
    callers quarantine."""
    headers, body = _split_headers(raw)
    subject = decode_encoded_words(headers.get("subject", ""))
    sender = headers.get("from", "")
    parts: list[dict] = []

    def walk(headers: dict[str, str], body: bytes) -> None:
        ctype, params = _content_type(headers)
        if ctype.startswith("multipart/"):
            boundary = params.get("boundary")
            if not boundary:
                raise ValueError("multipart without boundary parameter")
            delim = b"--" + boundary.encode()
            chunks = re.split(
                rb"(?:^|\r?\n)" + re.escape(delim) + rb"(--)?[ \t]*(?:\r?\n|$)",
                body,
            )
            # re.split with the capture group interleaves None/'--'
            # markers; segments between the first and the terminator
            # are the parts (preamble before, epilogue after)
            segs: list[bytes] = []
            terminated = False
            for i in range(1, len(chunks), 2):
                if chunks[i] == b"--":
                    terminated = True
                    break
                segs.append(chunks[i + 1])
            if not segs and not terminated:
                raise ValueError("multipart boundary never matched")
            for seg in segs:
                sub_h, sub_b = _split_headers(seg)
                walk(sub_h, sub_b)
            return
        decoded = _decode_body(body, headers)
        row = {
            "part_order": len(parts) + 1,
            "content_type": ctype,
            "subject": subject,
            "sender": sender,
            "text": None,
            "payload": None,
        }
        if ctype.startswith("text/"):
            row["text"] = decoded.decode("utf-8", errors="replace").rstrip("\n")
        else:
            row["payload"] = decoded
        parts.append(row)

    walk(headers, body)
    if not parts:
        raise ValueError("message contains no MIME parts")
    return parts


# ------------------------------------------------------------------ mbox
def build_mbox(messages: list[bytes]) -> bytes:
    """Concatenate raw messages behind deterministic ``From `` separator
    lines, mboxrd-stuffing body lines that would collide."""
    out: list[bytes] = []
    for msg in messages:
        out.append(b"From archive@local Thu Jan  1 00:00:00 1970\n")
        out.append(re.sub(rb"(?m)^(>*From )", rb">\1", msg))
        if not msg.endswith(b"\n"):
            out.append(b"\n")
    return b"".join(out)


def parse_mbox(data: bytes) -> list[bytes]:
    """mbox → raw messages, separator lines dropped, mboxrd unstuffed."""
    if not data.startswith(b"From "):
        raise ValueError("not an mbox: missing leading 'From ' separator")
    msgs: list[bytes] = []
    for seg in re.split(rb"(?:^|\n)From [^\n]*\n", data):
        if not seg:
            continue
        seg = re.sub(rb"(?m)^>(>*From )", rb"\1", seg)
        # the newline before the next separator belongs to the message
        # (mbox messages end with LF by framing convention; `build_mbox`
        # guarantees it on write)
        if not seg.endswith(b"\n"):
            seg += b"\n"
        msgs.append(seg)
    return msgs


def parse_mbox_frame(files: DataFrame) -> DataFrame:
    """(source, content: binary) → one row per MIME part across every
    message in every mbox, through :func:`..execution.decode_payloads`.
    A malformed message quarantines on its own (a broken mail must not
    sink its whole archive): one row with its ``msg_index`` and the
    reason."""

    def rows(b: bytes):
        for idx, msg in enumerate(parse_mbox(b)):
            try:
                parts = parse_eml(msg)
            except QUARANTINE_ERRORS as e:
                yield idx, None, None, None, None, None, None, quarantine_reason(e)
                continue
            for p in parts:
                yield (
                    idx, p["part_order"], p["content_type"], p["subject"],
                    p["sender"], p["text"], p["payload"], None,
                )

    return decode_payloads(
        files, MAIL_PART_SCHEMA, ("source",), rows, payload="content"
    )


def mbox_from_documents(documents: DataFrame) -> DataFrame:
    """Pack each Arrow batch's documents into ONE mbox blob (the
    archive-batching convention); every message is a pure function of
    (doc_id, text):

    - Subject is an RFC 2047 Q-encoded word ``Issue {doc_id}``;
    - even doc_id → multipart/mixed: a quoted-printable text/plain part
      carrying the text verbatim + a base64 text/html rendition;
    - odd doc_id → a single quoted-printable text/plain body."""

    def one_eml(doc_id: int, text: str) -> bytes:
        subj = f"=?utf-8?Q?Issue_{doc_id}?="
        common = (
            f"From: corpus-bot-{doc_id}@example.org\n"
            f"Subject: {subj}\nMIME-Version: 1.0\n"
        )
        if doc_id % 2 == 0:
            b = f"b{doc_id}"
            html = f"<p>{text}</p>"
            return (
                common
                + f'Content-Type: multipart/mixed; boundary="{b}"\n\n'
                + "preamble is ignored\n"
                + f"--{b}\nContent-Type: text/plain; charset=utf-8\n"
                + "Content-Transfer-Encoding: quoted-printable\n\n"
                + qp_encode(text)
                + f"\n--{b}\nContent-Type: text/html; charset=utf-8\n"
                + "Content-Transfer-Encoding: base64\n\n"
                + b64_encode_wrapped(html.encode("utf-8"))
                + f"\n--{b}--\nepilogue\n"
            ).encode("utf-8")
        return (
            common
            + "Content-Type: text/plain; charset=utf-8\n"
            + "Content-Transfer-Encoding: quoted-printable\n\n"
            + qp_encode(text)
            + "\n"
        ).encode("utf-8")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            msgs = [
                one_eml(int(d), str(t))
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            if not msgs:
                yield pd.DataFrame(
                    {
                        "source": pd.Series([], dtype=object),
                        "content": pd.Series([], dtype=object),
                    }
                )
                continue
            blob = build_mbox(msgs)
            yield pd.DataFrame(
                {
                    "source": pd.Series(
                        [f"synth://{hashlib.md5(blob).hexdigest()[:12]}.mbox"],
                        dtype=object,
                    ),
                    "content": pd.Series([bytearray(blob)], dtype=object),
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        fn, schema="source string, content binary"
    )
