"""EPUB reader + writer over the from-scratch ZIP container source.

An EPUB (IDPF/W3C) is a ZIP with a fixed discovery chain, which the
reader follows exactly — nothing is inferred from file names:

1. ``META-INF/container.xml`` → the OPF package path (``rootfile
   full-path``);
2. the OPF ``<manifest>`` maps item ids → hrefs (resolved relative to
   the OPF's directory, per spec);
3. the OPF ``<spine>`` lists itemrefs in READING ORDER — the order the
   chapters must be emitted in, which is generally NOT the zip-member
   or alphabetical order (the writer below deliberately stores members
   shuffled so tests prove the spine is honored).

Output is (chapter_order, href, html) rows — chapter html flows into
the existing DOM-lite block machinery (`operators/html.py`:
``visible_text`` / ``html_blocks``), so an EPUB shelf is just another
source for the same main-content extraction the web pipeline runs.
The ``mimetype`` member is validated when present (spec: stored,
``application/epub+zip``).

Scale shape: file-granular explode in
:func:`..execution.decode_payloads` — identical to
`sources/archives.py` / `sources/docx.py`.  XML via stdlib
ElementTree; the binary container layers (ZIP/DEFLATE/CRC) are the
from-scratch ones.
"""

from __future__ import annotations

import posixpath
from typing import Iterator

import pandas as pd
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame

from ..execution import decode_payloads, spread
from .archives import build_zip, parse_zip

_CNT = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_OPF = "{http://www.idpf.org/2007/opf}"

EPUB_CHAPTER_SCHEMA = (
    "source_file string, chapter_order int, href string, html string, "
    "parse_err string"
)

_CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<container version="1.0" '
    'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
    '<rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles></container>'
)


# ------------------------------------------------------------------ writer
def build_epub(chapters: list[tuple[str, str]]) -> bytes:
    """A deterministic EPUB from (href, xhtml) chapters, spine in the
    given order.  Chapter members are stored in REVERSED spine order
    (after the spec-mandated leading ``mimetype``) so readers that walk
    the zip instead of the spine get chapters wrong — the fixture that
    proves `parse_epub` follows the spine."""
    manifest = "".join(
        f'<item id="c{i}" href="{href}" media-type="application/xhtml+xml"/>'
        for i, (href, _) in enumerate(chapters)
    )
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(len(chapters)))
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="uid">'
        f"<manifest>{manifest}</manifest><spine>{spine}</spine></package>"
    )
    members: list[tuple[str, bytes, str]] = [
        ("mimetype", b"application/epub+zip", "stored")
    ]
    for href, html in reversed(chapters):
        members.append((f"OEBPS/{href}", html.encode(), "deflate"))
    members += [
        ("META-INF/container.xml", _CONTAINER_XML.encode(), "deflate"),
        ("OEBPS/content.opf", opf.encode(), "deflate"),
    ]
    return build_zip(members)


# ------------------------------------------------------------------ reader
def parse_epub(data: bytes) -> list[dict]:
    """EPUB bytes → ``[{order, href, html}, ...]`` in SPINE order.
    Raises ValueError on a broken container, missing/malformed
    container.xml or OPF, a spine itemref without a manifest item, or a
    listed chapter absent from the zip."""
    parts = {m["member_name"]: m["payload"] for m in parse_zip(data)}
    if "mimetype" in parts and parts["mimetype"].strip() != b"application/epub+zip":
        raise ValueError("mimetype member is not application/epub+zip")
    if "META-INF/container.xml" not in parts:
        raise ValueError("not an EPUB: META-INF/container.xml missing")
    try:
        container = ET.fromstring(parts["META-INF/container.xml"])
    except ET.ParseError as e:
        raise ValueError(f"malformed container.xml: {e}") from e
    rootfile = container.find(f"{_CNT}rootfiles/{_CNT}rootfile")
    if rootfile is None or not rootfile.get("full-path"):
        raise ValueError("container.xml has no rootfile full-path")
    opf_path = rootfile.get("full-path")
    if opf_path not in parts:
        raise ValueError(f"OPF package {opf_path!r} missing from container")
    try:
        pkg = ET.fromstring(parts[opf_path])
    except ET.ParseError as e:
        raise ValueError(f"malformed OPF: {e}") from e
    base = posixpath.dirname(opf_path)
    items: dict[str, str] = {}
    for it in pkg.iter(f"{_OPF}item"):
        items[it.get("id", "")] = posixpath.normpath(
            posixpath.join(base, it.get("href", ""))
        )
    chapters: list[dict] = []
    for ref in pkg.iter(f"{_OPF}itemref"):
        idref = ref.get("idref", "")
        if idref not in items:
            raise ValueError(f"spine itemref {idref!r} not in manifest")
        member = items[idref]
        if member not in parts:
            raise ValueError(f"chapter {member!r} missing from container")
        chapters.append(
            {
                "order": len(chapters) + 1,
                "href": member,
                "html": parts[member].decode("utf-8", errors="replace"),
            }
        )
    if not chapters:
        raise ValueError("OPF spine is empty")
    return chapters


def parse_epub_frame(files: DataFrame) -> DataFrame:
    """(source, content: binary) → one row per spine chapter, through
    :func:`..execution.decode_payloads`."""

    def rows(b: bytes):
        for ch in parse_epub(b):
            yield ch["order"], ch["href"], ch["html"], None

    return decode_payloads(
        files, EPUB_CHAPTER_SCHEMA, ("source",), rows, payload="content"
    )


def epub_from_documents(documents: DataFrame) -> DataFrame:
    """Pack each documents-table row into a synthetic EPUB whose
    chapters are a pure function of (doc_id, text):

    - chapter 1 ``intro.xhtml``: ``<h1>Issue {doc_id}</h1>`` + the
      document text (XML-escaped) in a ``<p>``, plus a boilerplate
      nav block (link-dense, so block scoring has something to reject);
    - chapter 2 ``body.xhtml``: a closed-form paragraph.

    The spine lists intro before body; the writer stores members in
    reversed spine order (body.xhtml before intro.xhtml in the zip), so
    any reader ignoring the spine emits chapters swapped."""

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src, blob = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                intro = (
                    "<html><body>"
                    '<nav><a href="a">home</a> <a href="b">shop</a></nav>'
                    f"<h1>Issue {doc_id}</h1><p>{esc(str(text))}</p>"
                    "</body></html>"
                )
                body = (
                    "<html><body>"
                    f"<p>Chapter two of issue {doc_id} closes the volume.</p>"
                    "</body></html>"
                )
                src.append(f"synth://doc_{doc_id}.epub")
                blob.append(
                    bytearray(
                        build_epub(
                            [("intro.xhtml", intro), ("body.xhtml", body)]
                        )
                    )
                )
            yield pd.DataFrame(
                {
                    "source": pd.Series(src, dtype=object),
                    "content": pd.Series(blob, dtype=object),
                }
            )

    return spread(documents.select("doc_id", "text")).mapInPandas(
        fn, schema="source string, content binary"
    )
