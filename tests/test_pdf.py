"""PDF write/parse round-trips, encryption and the Spark parse surface."""

from __future__ import annotations

import pytest

from reading_the_unreadable_spark.operators.pdf import (
    decode_pdf,
    encode_pdf,
    parse_content_text,
    parse_pdf_spans,
)


def test_roundtrip_plain_and_compressed():
    pages = [["hello world", "second (line) with \\ escapes"], ["page two"]]
    for compress in (False, True):
        got = decode_pdf(encode_pdf(pages, compress=compress))
        assert [[t for _, _, t in page] for page in got] == [
            ["hello world", "second (line) with \\ escapes"],
            ["page two"],
        ]
        # absolute Tm positions with the default leading
        assert got[0][0][:2] == (72.0, 720.0)
        assert got[0][1][:2] == (72.0, 706.0)


def test_content_operators():
    runs = parse_content_text(
        b"BT /F1 12 Tf 14 TL 1 0 0 1 72 700 Tm [ (Hel) -20 (lo) ] TJ "
        b"0 -14 Td (next) Tj T* (starred) Tj (quoted) ' ET"
    )
    assert runs == [
        (72.0, 700.0, "Hello"),
        (72.0, 686.0, "next"),
        (72.0, 672.0, "starred"),
        (72.0, 658.0, "quoted"),
    ]


def test_string_escapes_octal():
    runs = parse_content_text(b"BT 1 0 0 1 10 10 Tm (\\110i\\n\\(x\\)) Tj ET")
    assert runs == [(10.0, 10.0, "Hi\n(x)")]


def test_loud_failures():
    with pytest.raises(ValueError):
        decode_pdf(b"not a pdf at all")
    enc = encode_pdf([["x"]]).replace(b"/Type /Catalog", b"/Type /Catalog /Encrypt 9")
    with pytest.raises(NotImplementedError):
        decode_pdf(enc)
    lzw = encode_pdf([["x"]], compress=False).replace(
        b"/Length", b"/Filter /LZWDecode /Length"
    )
    with pytest.raises(NotImplementedError):
        decode_pdf(lzw)


def test_indirect_length_resolved():
    """Real writers emit '/Length N 0 R' (length known only after the
    stream): the parser resolves the integer object."""
    import re

    pdf = encode_pdf([["indirect length line"]], compress=True)
    m = re.search(rb"/Length (\d+)", pdf)
    pdf2 = (
        pdf.replace(b"/Length " + m.group(1), b"/Length 99 0 R", 1)
        + b"\n99 0 obj "
        + m.group(1)
        + b" endobj\n"
    )
    assert decode_pdf(pdf2) == decode_pdf(pdf)


def test_kids_array_orders_pages():
    """Page order comes from /Kids, not object-id order."""
    import re

    pdf = encode_pdf([["page A"], ["page B"]])
    km = re.search(rb"/Kids \[([^\]]*)\]", pdf)
    refs = re.findall(rb"\d+ 0 R", km.group(1))
    swapped = pdf.replace(km.group(1), b" ".join(reversed(refs)), 1)
    assert [[t for _, _, t in p] for p in decode_pdf(swapped)] == [
        ["page B"],
        ["page A"],
    ]


def test_binary_safe_marker_bytes_in_stream():
    """Compressed bytes that contain 'endobj' / 'N 0 obj' marker runs
    must not truncate objects or register phantoms (the /Length-driven
    scan skips stream data)."""
    pdf = encode_pdf([["marker test line"]], compress=False)
    poisoned = pdf.replace(
        b"(marker test line) Tj", b"(endobj 7 0 obj trap) Tj", 1
    )
    # fix the /Length for the new content size
    import re

    old = re.search(rb"/Length (\d+)", pdf)
    delta = len(b"(endobj 7 0 obj trap) Tj") - len(b"(marker test line) Tj")
    poisoned = poisoned.replace(
        b"/Length " + old.group(1),
        b"/Length " + str(int(old.group(1)) + delta).encode(),
        1,
    )
    assert [[t for _, _, t in p] for p in decode_pdf(poisoned)] == [
        ["endobj 7 0 obj trap"]
    ]


def test_multilevel_pages_tree():
    """Acrobat-style balanced trees put intermediate /Pages nodes in the
    root's /Kids — the walk must recurse to the leaves."""
    import re

    pdf = encode_pdf([["page one text"], ["page two text"]])
    # find the root /Pages object and its two kid refs
    m = re.search(rb"(\d+) 0 obj\n<< /Type /Pages /Kids \[(\d+) 0 R (\d+) 0 R\]", pdf)
    root, k1, k2 = int(m.group(1)), int(m.group(2)), int(m.group(3))
    # splice two intermediate /Pages nodes (98, 99) between root and leaves
    inter = (
        b"98 0 obj\n<< /Type /Pages /Kids [%d 0 R] /Count 1 >>\nendobj\n"
        b"99 0 obj\n<< /Type /Pages /Kids [%d 0 R] /Count 1 >>\nendobj\n"
        % (k1, k2)
    )
    patched = pdf.replace(
        b"/Kids [%d 0 R %d 0 R]" % (k1, k2), b"/Kids [98 0 R 99 0 R]"
    ).replace(b"xref\n", inter + b"xref\n", 1)
    got = [[t for _, _, t in p] for p in decode_pdf(patched)]
    assert got == [["page one text"], ["page two text"]]


def test_phantom_int_object_in_stream_ignored():
    """'N M obj K endobj' byte runs INSIDE stream data must not override
    a real indirect-/Length integer object."""
    import re

    pdf = encode_pdf([["first run kept", "second run kept"]], compress=False)
    m = re.search(rb"/Length (\d+)", pdf)
    real_len = int(m.group(1))
    # poison the content stream with a phantom shorter declaration of 99
    poison = b"\n% 99 0 obj 3 endobj"
    pdf2 = pdf.replace(b"ET\nendstream", b"ET" + poison + b"\nendstream", 1)
    pdf2 = pdf2.replace(
        b"/Length %d" % real_len, b"/Length 99 0 R", 1
    ) + b"\n99 0 obj %d endobj\n" % (real_len + len(poison))
    got = [[t for _, _, t in p] for p in decode_pdf(pdf2)]
    assert got == [["first run kept", "second run kept"]]


def test_parse_pdf_spans_spark(spark):
    rows = [
        ("a", bytearray(encode_pdf([["line one", "line two"], ["p2"]], compress=True))),
        ("b", bytearray(encode_pdf([["only line"]]))),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = parse_pdf_spans(df).orderBy("doc_id", "page", "run").collect()
    assert [(r["doc_id"], r["page"], r["run"], r["text"]) for r in got] == [
        ("a", 0, 0, "line one"),
        ("a", 0, 1, "line two"),
        ("a", 1, 0, "p2"),
        ("b", 0, 0, "only line"),
    ]
    assert got[0]["y"] == 720.0 and got[1]["y"] == 706.0
    assert all(r["decode_err"] is None for r in got)


def test_parse_pdf_spans_quarantines_corrupt_pdf(spark):
    """One corrupt PDF becomes one quarantine row; the job and the other
    document's spans survive it."""
    rows = [("ok", bytearray(encode_pdf([["kept"]]))), ("bad", bytearray(b"not a pdf"))]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r["doc_id"]: r for r in parse_pdf_spans(df).collect()}
    assert got["ok"]["text"] == "kept" and got["ok"]["decode_err"] is None
    assert got["bad"]["decode_err"].startswith("ValueError: not a PDF")
    assert got["bad"]["page"] is None and got["bad"]["text"] is None


def test_non_tj_operator_consumes_open_array():
    """An array consumed by a non-TJ operator (dash pattern '[ ] 0 d',
    color arrays, …) must not leave in_array set — a stale array would
    swallow every later literal string and drop the rest of the page."""
    runs = parse_content_text(
        b"BT [ ] 0 d [ 1 2 ] 0 d 1 0 0 1 72 700 Tm (kept text) Tj ET"
    )
    assert runs == [(72.0, 700.0, "kept text")]


def test_hex_strings():
    """Hex strings <48656C6C6F> decode like literal strings (whitespace
    allowed inside, odd digit count padded with 0) in both Tj and TJ."""
    runs = parse_content_text(b"BT 1 0 0 1 10 20 Tm <48656C 6C6F> Tj ET")
    assert runs == [(10.0, 20.0, "Hello")]
    runs = parse_content_text(b"BT 1 0 0 1 0 0 Tm [ <41> (B) <431> ] TJ ET")
    assert runs == [(0.0, 0.0, "ABC\x10")]  # <431> pads to 0x43 0x10


def test_early_endstream_in_indirect_length_stream():
    """Pass-1 fallback for an indirect-/Length stream must skip a bare
    'endstream' byte run inside the body (it only stops at one followed
    by 'endobj'), so the scan never resumes mid-stream."""
    import re

    pdf = encode_pdf([["first line", "second line"]], compress=False)
    m = re.search(rb"/Length (\d+)", pdf)
    real_len = int(m.group(1))
    inject = b"(x endstream y) Tj\n"
    pdf2 = pdf.replace(b"(first line) Tj", inject + b"(first line) Tj", 1)
    pdf2 = pdf2.replace(
        b"/Length %d" % real_len, b"/Length 99 0 R", 1
    ) + b"\n99 0 obj %d endobj\n" % (real_len + len(inject))
    got = [[t for _, _, t in p] for p in decode_pdf(pdf2)]
    assert got == [["x endstream y", "first line", "second line"]]


def test_wrong_indirect_length_raises():
    """A resolved indirect /Length that does not land on 'endstream'
    (e.g. poisoned by a phantom integer object) raises loudly instead of
    silently mis-slicing the stream."""
    import re

    pdf = encode_pdf([["line one"]], compress=True)
    m = re.search(rb"/Length (\d+)", pdf)
    pdf2 = (
        pdf.replace(b"/Length " + m.group(1), b"/Length 99 0 R", 1)
        + b"\n99 0 obj 5 endobj\n"
    )
    with pytest.raises(NotImplementedError):
        decode_pdf(pdf2)


def test_xref_stream_layout():
    """Post-2005 layout: xref STREAM instead of classic table — parses
    identically (object discovery is scan-based; xref data is metadata
    the parser never needs)."""
    pages = [["xref stream page one"], ["and page two"]]
    got = decode_pdf(encode_pdf(pages, xref_stream=True))
    assert [[t for _, _, t in p] for p in got] == pages


def test_object_stream_expansion():
    """/ObjStm packing (page dicts + catalog inside a Flate-compressed
    object stream, type-2 xref entries): embedded objects are expanded
    and the page tree resolves."""
    pages = [["objstm page A", "line two"], ["objstm page B"]]
    for compress in (False, True):
        enc = encode_pdf(
            pages, compress=compress, xref_stream=True, use_objstm=True
        )
        # the page dicts must actually be inside the ObjStm (compressed),
        # not visible as direct plaintext objects
        assert b"/Type /ObjStm" in enc
        assert b"/Type /Page /Parent" not in enc
        got = decode_pdf(enc)
        assert [[t for _, _, t in p] for p in got] == pages


# ------------------------------------------------------------ encryption
def test_crypto_known_answers():
    """FIPS-197 appendix C vectors (AES-128/256) + the classic RC4
    'Key'/'Plaintext' vector pin the primitives to the public specs."""
    from reading_the_unreadable_spark.operators import pdf_crypt as pc

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert pc.aes_ecb_encrypt_block(bytes(range(16)), pt) == bytes.fromhex(
        "69c4e0d86a7b0430d8cdb78070b4c55a"
    )
    rk = pc._expand_key(bytes(range(32)))
    ct = pc._encrypt_block(rk, pt)
    assert ct == bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    # zero IV: one unpadded CBC block is a raw FIPS-197 block decrypt
    assert pc.aes_cbc_decrypt(bytes(range(32)), bytes(16), ct, pad=False) == pt
    assert pc.rc4(b"Key", b"Plaintext") == bytes.fromhex("BBF316E8D940AF0AD3")


def test_cbc_roundtrip_and_padding():
    from reading_the_unreadable_spark.operators import pdf_crypt as pc

    key, iv = bytes(range(16)), b"iviviviviviviviv"
    for n in (0, 1, 15, 16, 17, 33):
        d = bytes(range(n))
        assert pc.aes_cbc_decrypt(key, iv, pc.aes_cbc_encrypt(key, iv, d)) == d
    with pytest.raises(ValueError, match="padding"):
        pc.aes_cbc_decrypt(key, iv, b"\x00" * 16)  # garbage padding byte
    with pytest.raises(ValueError, match="block multiple"):
        pc.aes_cbc_decrypt(key, iv, b"\x00" * 15)


def test_encrypted_roundtrip_all_methods_and_layouts():
    """RC4-40/128, AES-128 (/AESV2) and AES-256 (/V 5 /R 6) documents
    with an empty user password decrypt transparently across classic,
    compressed, and xref-stream + ObjStm layouts."""
    pages = [["Hello encrypted world", r"parens (nested) and \ backslash"],
             ["page two text"]]
    for method in ("rc4-40", "rc4-128", "aes-128", "aes-256"):
        for kw in (
            {},
            {"compress": True},
            {"xref_stream": True, "use_objstm": True, "compress": True},
        ):
            pdf = encode_pdf(pages, encrypt=method, **kw)
            assert b"/Encrypt" in pdf
            # ciphertext, not plaintext, is on the wire
            assert b"Hello encrypted world" not in pdf
            got = decode_pdf(pdf)
            assert [[t for _, _, t in p] for p in got] == pages
            # deterministic writer (derived IVs, no randomness)
            assert pdf == encode_pdf(pages, encrypt=method, **kw)


def test_encrypted_wrong_password_raises():
    """A document keyed to a real (non-empty) user password refuses
    loudly with ValueError, not garbage output."""
    from reading_the_unreadable_spark.operators import pdf_crypt as pc

    pdf = encode_pdf([["secret"]], encrypt="rc4-128")
    # corrupt /U so the empty password no longer validates
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]+)>", pdf)
    bad = hex(int(m.group(1)[:2], 16) ^ 0xFF)[2:].zfill(2).encode()
    broken = pdf[: m.start(1)] + bad + pdf[m.start(1) + 2 :]
    with pytest.raises(ValueError, match="password"):
        decode_pdf(broken)


def test_encrypted_unsupported_profiles_raise():
    pdf = encode_pdf([["x"]], encrypt="rc4-128")
    nonstd = pdf.replace(b"/Filter /Standard", b"/Filter /MyCrypt ")
    with pytest.raises(NotImplementedError, match="non-Standard"):
        decode_pdf(nonstd)
    r5 = pdf.replace(b"/V 2 /R 3", b"/V 5 /R 5")
    with pytest.raises((NotImplementedError, ValueError)):
        decode_pdf(r5)


def test_encrypted_pdf_spans_spark(spark):
    """Encrypted payloads flow through the mapInPandas extraction path
    exactly like plaintext ones."""
    import pandas as pd
    from reading_the_unreadable_spark.operators.pdf import parse_pdf_spans

    rows = [
        ("enc-aes", encode_pdf([["aes page"]], encrypt="aes-128", compress=True)),
        ("enc-rc4", encode_pdf([["rc4 page"]], encrypt="rc4-40")),
        ("plain", encode_pdf([["plain page"]])),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    got = {
        r["doc_id"]: r["text"]
        for r in parse_pdf_spans(df).collect()
    }
    assert got == {
        "enc-aes": "aes page",
        "enc-rc4": "rc4 page",
        "plain": "plain page",
    }
