"""PDF text/layout parse — the north rule's "PDF/layout parse" family.

Codec situation in this image: no pdfminer/PyMuPDF.  Same approach as
the PNG codec in :mod:`multimodal`: implement the container profile that
needs only the stdlib — classic AND post-2005 (xref-stream + /ObjStm
object-stream) PDF structure, raw or FlateDecode content streams, and
the standard text-showing operators (``BT/ET``, ``Tm``, ``Td``/``TD``,
``T*``, ``Tj``, ``'``, ``TJ``) with literal/hex string handling
(``\\(`` ``\\)`` ``\\\\`` ``\\n`` … octal, ``<hex>``) — and raise
loudly on anything beyond it (encryption, other filters).

Output grain is the LAYOUT grain: one row per text-showing operation
with its text-space position.

Spark integration is the payload-decode stage of
:func:`..execution.decode_payloads` over binary payload columns
(payloads never collected, never in a row-wise UDF; a PDF that fails
to parse becomes one ``decode_err`` row).
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib

from pyspark.sql import DataFrame

from ..execution import decode_payloads
from . import pdf_crypt

PDF_SPAN_SCHEMA = (
    "doc_id string, page int, run int, x double, y double, text string, "
    "decode_err string"
)

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_REF_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


# ----------------------------------------------------------------- writer
def _escape_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


_ENCRYPT_METHODS = ("rc4-40", "rc4-128", "aes-128", "aes-256")


def _build_encrypt_dict(
    method: str, id0: bytes
) -> tuple[bytes, pdf_crypt.StandardSecurityHandler]:
    """The /Encrypt dictionary body + handler for ``encode_pdf``
    (standard security handler, empty user/owner password, P = -4 i.e.
    all permissions granted)."""
    p = -4
    if method == "aes-256":
        # V5/R6: the file key is free-standing (not password-derived);
        # a fixture writer derives it and the salts from the file ID
        file_key = hashlib.sha256(id0 + b"|rtu-file-key").digest()
        vs = hashlib.md5(id0 + b"|vs").digest()[:8]
        ks = hashlib.md5(id0 + b"|ks").digest()[:8]
        u, ue = pdf_crypt.compute_r6_entries(b"", file_key, vs, ks)
        ovs = hashlib.md5(id0 + b"|ovs").digest()[:8]
        oks = hashlib.md5(id0 + b"|oks").digest()[:8]
        # owner entries use the full 48-byte /U as extra hash data
        o = pdf_crypt.hash_2b(b"", ovs, u) + ovs + oks
        oe = pdf_crypt.aes_cbc_encrypt(
            pdf_crypt.hash_2b(b"", oks, u), b"\x00" * 16, file_key, pad=False
        )
        perms = pdf_crypt.aes_ecb_encrypt_block(
            file_key, struct.pack("<i", p) + b"\xff\xff\xff\xffTadb" + b"rtu!"
        )
        body = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
            b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF "
            b"/O <%s> /U <%s> /OE <%s> /UE <%s> /P %d /Perms <%s> >>"
            % (
                o.hex().encode(),
                u.hex().encode(),
                oe.hex().encode(),
                ue.hex().encode(),
                p,
                perms.hex().encode(),
            )
        )
        return body, pdf_crypt.StandardSecurityHandler(file_key, "aes256")
    if method == "rc4-40":
        r, nbytes, crypt_m = 2, 5, "rc4"
        tail = b"/V 1 /R 2"
    elif method == "rc4-128":
        r, nbytes, crypt_m = 3, 16, "rc4"
        tail = b"/V 2 /R 3 /Length 128"
    elif method == "aes-128":
        r, nbytes, crypt_m = 4, 16, "aes128"
        tail = (
            b"/V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF"
        )
    else:
        raise ValueError(f"unknown encrypt method {method!r}: {_ENCRYPT_METHODS}")
    o = pdf_crypt.compute_o(b"", b"", r, nbytes)
    key = pdf_crypt.compute_key(b"", o, p, id0, r, nbytes)
    u = pdf_crypt.compute_u(key, id0, r)
    body = b"<< /Filter /Standard %s /O <%s> /U <%s> /P %d >>" % (
        tail,
        o.hex().encode(),
        u.hex().encode(),
        p,
    )
    return body, pdf_crypt.StandardSecurityHandler(key, crypt_m)


def _encrypt_body_streams(
    body: bytes, num: int, handler: pdf_crypt.StandardSecurityHandler
) -> bytes:
    """Encrypt the stream data inside one writer-built object body and
    update its literal /Length (AES grows the data: IV + padding)."""
    sm = re.search(rb"stream\r?\n", body)
    if sm is None:
        return body
    head = body[: sm.start()]
    lit = _LEN_LIT_RE.search(head)
    if lit is None:
        raise ValueError("writer stream without a literal /Length")
    data = body[sm.end() : sm.end() + int(lit.group(1))]
    enc = handler.encrypt(data, num)
    head = head[: lit.start(1)] + b"%d" % len(enc) + head[lit.end(1) :]
    return head + b"stream\n" + enc + b"\nendstream"


def encode_pdf(
    pages: list[list[str]],
    compress: bool = False,
    xref_stream: bool = False,
    use_objstm: bool = False,
    encrypt: str | None = None,
) -> bytes:
    """Minimal PDF writer: one content stream per page, each line placed
    with an absolute ``Tm`` (from y = 720, 14 pt apart) then shown with
    ``Tj``.  ``compress=True``
    Flate-encodes the content streams (the common real case) so the
    parser's inflate path is exercised.  ``xref_stream=True`` writes the
    post-2005 layout: a ``/Type /XRef`` cross-reference STREAM instead
    of the classic ``xref`` table + ``trailer``; ``use_objstm=True``
    additionally packs the non-stream objects (font, page dicts, pages
    node, catalog) into a Flate-compressed ``/Type /ObjStm`` object
    stream with type-2 xref entries — the layout Acrobat-era writers
    produce."""
    objects: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids: list[int] = []
    content_ids: list[int] = []
    for lines in pages:
        ops = [b"BT", b"/F1 12 Tf"]
        y = 720.0
        for line in lines:
            ops.append(f"1 0 0 1 72 {y:g} Tm".encode())
            ops.append(b"(" + _escape_pdf_string(line).encode("latin-1") + b") Tj")
            y -= 14.0
        ops.append(b"ET")
        data = b"\n".join(ops)
        filt = b""
        if compress:
            data = zlib.compress(data)
            filt = b" /Filter /FlateDecode"
        content_ids.append(
            add(
                b"<< /Length %d%s >>\nstream\n%s\nendstream"
                % (len(data), filt, data)
            )
        )
    pages_id = len(objects) + len(pages) + 1
    for cid in content_ids:
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_id, font, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    pages_obj = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    )
    if pages_obj != pages_id:  # never inside assert: -O must not skip the add
        raise AssertionError(f"pages object id drifted: {pages_obj} != {pages_id}")
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    enc_id = 0
    trailer_extra = b""
    handler = None
    if encrypt is not None:
        # deterministic file ID (spec wants "unique"; a fixture writer
        # wants reproducible) — derived from the document text
        id0 = hashlib.md5(
            b"\x00".join(ln.encode("latin-1") for pg in pages for ln in pg)
            + b"|rtu-pdf-id"
        ).digest()
        enc_body, handler = _build_encrypt_dict(encrypt, id0)
        enc_id = add(enc_body)
        trailer_extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            enc_id,
            id0.hex().encode(),
            id0.hex().encode(),
        )
        for i, body in enumerate(objects, start=1):
            if i != enc_id:  # the encrypt dict itself is never encrypted
                objects[i - 1] = _encrypt_body_streams(body, i, handler)

    if not xref_stream:
        out = bytearray(b"%PDF-1.4\n")
        offsets = [0]
        for i, body in enumerate(objects, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        xref_at = len(out)
        out += b"xref\n0 %d\n" % (len(objects) + 1)
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n%%%%EOF"
            % (len(objects) + 1, catalog, trailer_extra, xref_at)
        )
        return bytes(out)

    # post-2005 layout: cross-reference STREAM, optional /ObjStm packing
    out = bytearray(b"%PDF-1.5\n")
    n = len(objects)
    entries: dict[int, tuple[int, int, int]] = {}  # num -> (type, f2, f3)
    if use_objstm:
        objstm_num, xref_num = n + 1, n + 2
        # the /Encrypt dict must stay a top-level object (the spec
        # forbids packing it into an ObjStm)
        packed = [
            (i, b)
            for i, b in enumerate(objects, start=1)
            if b"stream" not in b and i != enc_id
        ]
        for i, body in enumerate(objects, start=1):
            if b"stream" in body or i == enc_id:
                entries[i] = (1, len(out), 0)
                out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        header = b" ".join(b"%d %d" % (i, off) for (i, _), off in zip(
            packed,
            [sum(len(b) + 1 for _, b in packed[:k]) for k in range(len(packed))],
        )) + b"\n"
        bodies = b"".join(b + b"\n" for _, b in packed)
        for idx, (i, _) in enumerate(packed):
            entries[i] = (2, objstm_num, idx)
        stm_data = zlib.compress(header + bodies)
        if handler is not None:
            # packed objects are protected by encrypting the ObjStm
            # stream itself (spec: strings inside an ObjStm are NOT
            # separately encrypted)
            stm_data = handler.encrypt(stm_data, objstm_num)
        entries[objstm_num] = (1, len(out), 0)
        out += (
            b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n"
            % (objstm_num, len(packed), len(header), len(stm_data))
            + stm_data
            + b"\nendstream\nendobj\n"
        )
    else:
        xref_num = n + 1
        for i, body in enumerate(objects, start=1):
            entries[i] = (1, len(out), 0)
            out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    entries[xref_num] = (1, xref_at, 0)
    size = xref_num + 1
    rows = bytearray()
    for i in range(size):
        t, f2, f3 = entries.get(i, (0, 0, 65535))
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /Root %d 0 R%s /W [1 4 2] "
        b"/Index [0 %d] /Length %d >>\nstream\n"
        % (xref_num, size, catalog, trailer_extra, size, len(rows))
        + bytes(rows)  # cross-reference streams are never encrypted
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_at
    return bytes(out)


# ----------------------------------------------------------------- parser
def _decode_string(tok: bytes) -> str:
    """PDF literal string body → str (escapes + octal)."""
    out: list[str] = []
    i = 0
    while i < len(tok):
        c = tok[i]
        if c == 0x5C and i + 1 < len(tok):  # backslash
            nxt = tok[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                digits = b""
                while j < len(tok) and len(digits) < 3 and 0x30 <= tok[j] <= 0x37:
                    digits += tok[j : j + 1]
                    j += 1
                out.append(chr(int(digits, 8)))
                i = j
                continue
            out.append(_ESCAPES.get(nxt, chr(nxt)))
            i += 2
            continue
        out.append(chr(c))
        i += 1
    return "".join(out)


_TOKEN_RE = re.compile(
    rb"\((?:\\.|[^()\\])*\)"  # literal string (with escapes)
    rb"|<[0-9A-Fa-f\s]*>"  # hex string (whitespace allowed, odd len padded)
    rb"|\[|\]"
    rb"|/[A-Za-z0-9]+"
    rb"|[-+.0-9]+"
    rb"|[A-Za-z'\"*]+"
)


def parse_content_text(stream: bytes) -> list[tuple[float, float, str]]:
    """Content stream → [(x, y, text)] in stream order, tracking the text
    matrix (Tm), relative moves (Td/TD), leading (TL), and next-line ops
    (T*, ').  One tuple per text-showing operator; TJ arrays concatenate
    their strings (kerning numbers dropped — layout consumers use the
    run position, not intra-run advances)."""
    runs: list[tuple[float, float, str]] = []
    stack: list[bytes] = []
    x = y = 0.0
    leading = 0.0
    in_array: list[str] | None = None
    for m in _TOKEN_RE.finditer(stream):
        tok = m.group(0)
        if tok == b"[":
            in_array = []
            continue
        if tok == b"]":
            stack.append(b"\x00ARRAY")  # placeholder; strings held in in_array
            continue
        if tok.startswith(b"(") or tok.startswith(b"<"):
            if tok.startswith(b"("):
                s = _decode_string(tok[1:-1])
            else:  # hex string: strip whitespace, pad odd digit count with 0
                hx = re.sub(rb"\s", b"", tok[1:-1])
                if len(hx) % 2:
                    hx += b"0"
                s = bytes.fromhex(hx.decode("ascii")).decode("latin-1")
            if in_array is not None:
                in_array.append(s)
            else:
                stack.append(b"\x00STR" + s.encode("utf-8", "surrogatepass"))
            continue
        if tok[:1] in b"-+.0123456789":
            stack.append(tok)
            continue
        if tok.startswith(b"/"):
            stack.append(tok)
            continue
        # operator
        op = tok
        if op == b"Tm" and len(stack) >= 6:
            x, y = float(stack[-2]), float(stack[-1])
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            x += float(stack[-2])
            y += float(stack[-1])
            if op == b"TD":
                leading = -float(stack[-1])
        elif op == b"TL" and stack:
            leading = float(stack[-1])
        elif op == b"T*":
            y -= leading
        elif op == b"Tj" and stack and stack[-1].startswith(b"\x00STR"):
            runs.append((x, y, stack[-1][4:].decode("utf-8", "surrogatepass")))
        elif op == b"'":
            y -= leading
            if stack and stack[-1].startswith(b"\x00STR"):
                runs.append((x, y, stack[-1][4:].decode("utf-8", "surrogatepass")))
        elif op == b"TJ" and in_array is not None:
            runs.append((x, y, "".join(in_array)))
        # ANY operator consumes an open array (dash patterns '[ ] 0 d',
        # color arrays, …), not just TJ — leaving in_array set would
        # silently route every later literal string into the stale array
        # and drop all following page text
        in_array = None
        stack.clear()
    return runs


_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+\d+\s+obj")
#  (?!\d) stops backtracking from shortening the number so the negative
#  indirect-ref lookahead can't be dodged ('/Length 99 0 R' must never
#  half-match as literal length 9)
_LEN_LIT_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_LEN_REF_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")


def _scan_pass(
    payload: bytes, int_objs: dict[int, int] | None
) -> dict[int, bytes]:
    """One cursor pass of the binary-safe object scan.  Stream bodies
    are skipped using the declared /Length before searching ``endobj``;
    when a /Length is indirect and ``int_objs`` can't resolve it yet
    (first pass), the scan falls back to the first ``endstream`` marker
    for THAT stream only."""
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        m = _OBJ_HEAD_RE.search(payload, pos)
        if not m:
            return objs
        start = m.end()
        sm = re.compile(rb"stream\r?\n").search(payload, start)
        end_probe = payload.find(b"endobj", start)
        if sm is not None and (end_probe == -1 or sm.start() < end_probe):
            head = payload[start : sm.start()]
            lit = _LEN_LIT_RE.search(head)
            ref = None if lit else _LEN_REF_RE.search(head)
            data_start = sm.end()
            if lit:
                length = int(lit.group(1))
            elif (
                int_objs is not None
                and ref is not None
                and int(ref.group(1)) in int_objs
            ):
                length = int_objs[int(ref.group(1))]
                # the resolved integer came from pass-1 scanned bodies;
                # validate it lands on the real stream terminator so a
                # phantom integer can never silently mis-slice the data
                if not re.match(
                    rb"\s*endstream", payload[data_start + length :][:20]
                ):
                    raise NotImplementedError(
                        "indirect /Length does not land on endstream"
                    )
            elif int_objs is None and ref is not None:
                # first pass: length unknown — advance to the first
                # 'endstream' that is actually followed by 'endobj'
                # (compressed bytes can contain a bare 'endstream' run;
                # stopping there would resume the scan mid-stream and
                # register phantom integer objects from garbage)
                es = data_start
                while True:
                    es = payload.find(b"endstream", es)
                    if es == -1:
                        length = 0
                        break
                    if re.match(rb"\s*endobj", payload[es + 9 :][:20]):
                        length = es - data_start
                        break
                    es += len(b"endstream")
            else:
                raise NotImplementedError(
                    "stream object without resolvable /Length"
                )
            end_probe = payload.find(b"endobj", data_start + length)
            if end_probe == -1:
                raise ValueError("unterminated stream object")
        elif end_probe == -1:
            return objs
        objs[int(m.group(1))] = payload[start:end_probe]
        pos = end_probe + len(b"endobj")


def _scan_objects(payload: bytes) -> dict[int, bytes]:
    """Binary-safe object scan: stream bodies are SKIPPED using the
    declared /Length before searching for ``endobj``, so compressed
    bytes that happen to contain ``endobj`` / ``N M obj`` marker runs
    can neither truncate an object nor register phantom ones.

    Indirect ``/Length N 0 R`` values are resolved with a first cursor
    pass that collects integer objects FROM SCANNED NON-STREAM BODIES
    only — never by regexing the raw payload, where marker-like byte
    runs inside compressed data could register phantom integers and
    override the real length."""
    first = _scan_pass(payload, int_objs=None)
    int_objs: dict[int, int] = {}
    for num, body in first.items():
        if b"stream" not in body:
            im = re.match(rb"\s*(\d+)\s*$", body)
            if im:
                int_objs[num] = int(im.group(1))
    return _scan_pass(payload, int_objs)


def _expand_object_streams(objs: dict[int, bytes]) -> dict[int, bytes]:
    """Merge objects embedded in ``/Type /ObjStm`` compressed object
    streams (the post-2005 layout: page dicts, font dicts, the catalog
    commonly live there) into the object map.  Embedded bodies are plain
    dicts — the spec forbids streams inside an ObjStm — so the page-tree
    walk and ``/Contents`` resolution work on them unchanged.  Direct
    definitions win on collision (a well-formed file has none; xref
    precedence is metadata the scan-based discovery deliberately never
    consults)."""
    out = dict(objs)
    for body in objs.values():
        sm = re.search(rb"stream\r?\n", body)
        if sm is None:
            continue
        head = body[: sm.start()]
        # test the DICT HEADER only — compressed stream payloads can
        # coincidentally contain the b"/ObjStm" byte sequence
        if b"/ObjStm" not in head:
            continue
        n_m = re.search(rb"/N\s+(\d+)", head)
        f_m = re.search(rb"/First\s+(\d+)", head)
        if not (n_m and f_m):
            raise ValueError("ObjStm missing /N or /First")
        lit = _LEN_LIT_RE.search(head)
        if lit:
            data = body[sm.end() : sm.end() + int(lit.group(1))]
        else:
            es = body.rfind(b"endstream")
            data = body[sm.end() : es].rstrip(b"\r\n")
        if b"/Filter" in head:
            if b"/FlateDecode" not in head:
                raise NotImplementedError("ObjStm filter beyond FlateDecode")
            try:
                data = zlib.decompress(data)
            except zlib.error as e:  # corrupt Flate data must stay ValueError
                raise ValueError(f"corrupt ObjStm Flate stream: {e}") from e
        first = int(f_m.group(1))
        nums = [int(x) for x in data[:first].split()]
        pairs = list(zip(nums[0::2], nums[1::2]))[: int(n_m.group(1))]
        for k, (onum, ooff) in enumerate(pairs):
            end = first + pairs[k + 1][1] if k + 1 < len(pairs) else len(data)
            out.setdefault(onum, data[first + ooff : end].strip())
    return out


def _is_page(body: bytes) -> bool:
    return b"/Type" in body and b"/Page" in body and b"/Pages" not in body


def _is_pages_node(body: bytes) -> bool:
    return b"/Type" in body and b"/Pages" in body and b"/Kids" in body


def _kids(body: bytes) -> list[int]:
    km = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
    if not km:
        return []
    return [int(r) for r in re.findall(rb"(\d+)\s+\d+\s+R", km.group(1))]


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Document page order by RECURSIVELY walking the /Pages tree from
    the root (object ids are NOT ordering, and real writers balance
    larger documents into multi-level /Pages trees whose root /Kids
    reference intermediate /Pages nodes, not leaves).  Falls back to
    ascending-id order over /Type /Page leaves when no tree resolves,
    and always appends any leaf pages the tree missed (orphans) so text
    is never silently dropped."""
    page_ids = [num for num, body in objs.items() if _is_page(body)]
    roots = [
        num
        for num, body in objs.items()
        if _is_pages_node(body)
        and not any(num in _kids(b) for b in objs.values() if _is_pages_node(b))
    ]
    ordered: list[int] = []
    seen: set[int] = set()

    def walk(num: int) -> None:
        if num in seen or num not in objs:
            return
        seen.add(num)
        body = objs[num]
        if _is_page(body):
            ordered.append(num)
        elif _is_pages_node(body):
            for kid in _kids(body):
                walk(kid)

    for root in roots:
        walk(root)
    # orphans: leaf pages the tree never reached (broken /Kids, etc.)
    ordered.extend(n for n in sorted(page_ids) if n not in seen)
    return ordered


def _dict_string_bytes(body: bytes, name: bytes) -> bytes | None:
    """The raw bytes of a hex ``<…>`` or literal ``(…)`` string value
    for key ``name`` in a dictionary body (security-handler entries)."""
    m = re.search(rb"/" + name + rb"\s*<([0-9A-Fa-f\s]*)>", body)
    if m:
        return bytes.fromhex(m.group(1).replace(b" ", b"").decode())
    m = re.search(rb"/" + name + rb"\s*\(", body)
    if not m:
        return None
    out = bytearray()
    i = m.end()
    depth = 1
    while i < len(body):
        c = body[i]
        if c == 0x5C:  # backslash escape
            i += 1
            e = body[i]
            if 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_s = bytearray([e])
                while len(oct_s) < 3 and 0x30 <= body[i + 1] <= 0x37:
                    i += 1
                    oct_s.append(body[i])
                out.append(int(oct_s.decode(), 8) & 0xFF)
            else:
                out.append(
                    {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(e, e)
                )
        elif c == 0x28:
            depth += 1
            out.append(c)
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out)
            out.append(c)
        else:
            out.append(c)
        i += 1
    raise ValueError(f"unterminated string for /{name.decode()}")


def _open_encryption(
    payload: bytes, objs: dict[int, bytes], enc_num: int
) -> pdf_crypt.StandardSecurityHandler:
    """Parse the /Encrypt dictionary and establish the file key with an
    EMPTY user password (ISO 32000-1 §7.6).  ValueError when a real
    password would be needed; NotImplementedError beyond the supported
    profile (non-Standard handlers, /R 5, exotic crypt filters)."""
    body = objs.get(enc_num)
    if body is None:
        raise ValueError(f"/Encrypt references missing object {enc_num}")
    if not re.search(rb"/Filter\s*/Standard", body):
        raise NotImplementedError("non-Standard security handler")
    v_m = re.search(rb"/V\s+(\d+)", body)
    r_m = re.search(rb"/R\s+(\d+)", body)
    v = int(v_m.group(1)) if v_m else 0
    r = int(r_m.group(1)) if r_m else 2
    u_entry = _dict_string_bytes(body, b"U")
    o_entry = _dict_string_bytes(body, b"O")
    if u_entry is None or o_entry is None:
        raise ValueError("/Encrypt dictionary missing /O or /U")
    if v == 5:
        if r != 6:
            raise NotImplementedError(f"/V 5 revision {r} (only R6 supported)")
        ue = _dict_string_bytes(body, b"UE")
        if ue is None:
            raise ValueError("/V 5 dictionary missing /UE")
        key = pdf_crypt.verify_r6_user_password(b"", u_entry, ue)
        if key is None:
            raise ValueError("encrypted PDF: non-empty user password required")
        return pdf_crypt.StandardSecurityHandler(key, "aes256")
    len_m = re.search(rb"/Length\s+(\d+)", body)
    nbits = int(len_m.group(1)) if len_m else 40
    p_m = re.search(rb"/P\s+(-?\d+)", body)
    p = int(p_m.group(1)) if p_m else -1
    em = not re.search(rb"/EncryptMetadata\s+false", body)
    if v == 1:
        method, nbytes = "rc4", 5
    elif v == 2:
        method, nbytes = "rc4", nbits // 8
    elif v == 4:
        cf = re.search(rb"/CFM\s*/(\w+)", body)
        cfm = cf.group(1) if cf else b""
        if cfm == b"AESV2":
            method, nbytes = "aes128", 16
        elif cfm == b"V2":
            method, nbytes = "rc4", nbits // 8
        else:
            raise NotImplementedError(f"crypt filter /CFM {cfm!r}")
    else:
        raise NotImplementedError(f"encryption /V {v}")
    # first element of the trailer /ID array (hex form; the last
    # occurrence wins — incremental updates append trailers)
    id0 = b""
    for im in re.finditer(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>", payload):
        id0 = bytes.fromhex(im.group(1).replace(b" ", b"").decode())
    key = pdf_crypt.verify_user_password(
        b"", o_entry, u_entry, p, id0, r, nbytes, em
    )
    if key is None:
        raise ValueError("encrypted PDF: non-empty user password required")
    return pdf_crypt.StandardSecurityHandler(key, method)


def _decrypt_body_streams(
    body: bytes,
    num: int,
    handler: pdf_crypt.StandardSecurityHandler,
    int_objs: dict[int, int],
) -> bytes:
    """Decrypt the stream data inside one scanned object body, slicing
    by /Length (literal, or indirect via the plaintext integer objects
    — integers are never encrypted) and rewriting /Length to the
    decrypted size (AES shrinks: IV + padding removed).  Generation
    numbers are assumed 0 (the scan keys by object number; nonzero
    generations only arise from incremental-update chains, outside this
    parser's profile — a mismatch surfaces as a zlib/padding error, not
    silent corruption)."""
    sm = re.search(rb"stream\r?\n", body)
    if sm is None:
        return body
    head = body[: sm.start()]
    lit = _LEN_LIT_RE.search(head)
    if lit is not None:
        length = int(lit.group(1))
    else:
        ref = _LEN_REF_RE.search(head)
        if ref is None or int(ref.group(1)) not in int_objs:
            raise NotImplementedError(
                "encrypted stream without resolvable /Length"
            )
        length = int_objs[int(ref.group(1))]
    data = body[sm.end() : sm.end() + length]
    dec = handler.decrypt(data, num)
    head = re.sub(
        rb"/Length\s+\d+(\s+\d+\s+R)?", b"/Length %d" % len(dec), head, count=1
    )
    return head + b"stream\n" + dec + b"\nendstream"


_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef")


def decode_pdf(payload: bytes) -> list[list[tuple[float, float, str]]]:
    """PDF bytes → per-page text runs [(x, y, text), …] in /Kids order.

    Both classic (xref table) and post-2005 (xref stream + /ObjStm
    object streams) layouts parse: object discovery is scan-based, so
    cross-reference tables AND cross-reference streams are metadata this
    parser never needs to consult, and objects packed into compressed
    /ObjStm streams are expanded by :func:`_expand_object_streams`.

    Encrypted documents (standard security handler, empty user
    password — RC4 40/128, AES-128 ``/AESV2``, AES-256 ``/R 6``) are
    decrypted transparently via :mod:`pdf_crypt`; a document needing a
    real password raises ValueError.  Raises NotImplementedError on
    non-Standard handlers, non-Flate filters, or unresolvable stream
    lengths (the honest-subset contract, like PNG in
    :mod:`multimodal`)."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError(f"not a PDF: {payload[:8]!r}")
    objs = _scan_objects(payload)
    if b"/Encrypt" in payload:
        enc_m = None
        for enc_m in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", payload):
            pass  # last occurrence wins (incremental updates)
        if enc_m is None:
            raise NotImplementedError(
                "encrypted PDF: unresolvable /Encrypt reference"
            )
        enc_num = int(enc_m.group(1))
        handler = _open_encryption(payload, objs, enc_num)
        int_objs: dict[int, int] = {}
        for n, b in objs.items():
            if b"stream" not in b:
                im = re.match(rb"\s*(\d+)\s*$", b)
                if im:
                    int_objs[n] = int(im.group(1))
        objs = {
            n: (
                b
                if n == enc_num or _XREF_TYPE_RE.search(b[:200])
                else _decrypt_body_streams(b, n, handler, int_objs)
            )
            for n, b in objs.items()
        }
    objs = _expand_object_streams(objs)
    pages: list[list[tuple[float, float, str]]] = []
    for num in _page_order(objs):
        body = objs[num]
        ref = _REF_RE.search(body)
        if not ref:
            pages.append([])
            continue
        cbody = objs.get(int(ref.group(1)), b"")
        start = re.search(rb"stream\r?\n", cbody)
        if not start:
            pages.append([])
            continue
        lit = _LEN_LIT_RE.search(cbody[: start.start()])
        if lit:
            # slice by the declared /Length — binary-safe (compressed
            # data may legitimately end in \r or contain marker-like
            # byte runs; a regex up to `endstream` truncates those)
            data = cbody[start.end() : start.end() + int(lit.group(1))]
        else:
            ref_len = _LEN_REF_RE.search(cbody[: start.start()])
            if ref_len:
                im = re.match(rb"\s*(\d+)\s*$", objs.get(int(ref_len.group(1)), b""))
                if not im:
                    raise NotImplementedError("unresolvable indirect /Length")
                data = cbody[start.end() : start.end() + int(im.group(1))]
            else:
                sm = _STREAM_RE.search(cbody)
                if not sm:
                    pages.append([])
                    continue
                data = sm.group(1)
        if b"/Filter" in cbody[: start.start()]:
            if b"/FlateDecode" not in cbody[: start.start()]:
                raise NotImplementedError(
                    f"unsupported stream filter in obj {int(ref.group(1))}"
                )
            try:
                data = zlib.decompress(data)
            except zlib.error as e:  # corrupt Flate data must stay ValueError
                raise ValueError(f"corrupt content Flate stream: {e}") from e
        pages.append(parse_content_text(data))
    return pages


# ------------------------------------------------------------ Spark plumbing
def parse_pdf_spans(df: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → one row per text run with its page and
    text-space position, through :func:`..execution.decode_payloads`."""

    def rows(b: bytes):
        for pg, runs in enumerate(decode_pdf(b)):
            for i, (x, y, text) in enumerate(runs):
                yield pg, i, x, y, text, None

    return decode_payloads(df, PDF_SPAN_SCHEMA, ("doc_id",), rows)
