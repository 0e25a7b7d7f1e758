"""DOCX (OOXML / WordprocessingML) reader + writer over the from-scratch
ZIP container source.

A ``.docx`` is a ZIP of XML parts (ECMA-376).  The reader walks exactly
the parts a text-extraction pipeline needs:

- ``word/document.xml`` — the ``<w:body>`` children IN DOCUMENT ORDER:
  ``<w:p>`` paragraphs (runs ``<w:r><w:t>`` concatenated, ``<w:tab/>``
  → TAB, ``<w:br/>`` → LF), ``<w:tbl>`` tables (rows joined by LF,
  cells by TAB), and inline ``<w:drawing>`` images (DrawingML
  ``<a:blip r:embed="rIdN">``) resolved through the relationships part;
- ``word/_rels/document.xml.rels`` — rId → media target, so a figure
  span carries the archive-internal ``media_ref`` it points at.

Output is the engine's interleaved span model — one row per block,
``(kind, text, media_ref, order)`` with 1-based contiguous ``order`` —
i.e. a .docx folder is just another source for the same downstream
article/knit/quality operators the newspaper pipeline uses.  ``kind``
is ``title`` for paragraphs styled Heading*/Title, ``figure`` for
drawings, ``table`` for tables, ``text`` otherwise — the same
four-way classification the layout stage produces from bounding boxes
(reference classes: `function_modules/bbox_functions.py` title/text/
figure/table).

Scale shape mirrors `sources/archives.py`: the .docx file is the split
unit (``binaryFile`` folder scan or any (source, content) frame) →
:func:`..execution.decode_payloads` explodes spans executor-side, one
Python crossing per Arrow batch, payload bytes never driver-side.

XML is parsed with the stdlib ``xml.etree.ElementTree`` (a non-validating
pull parser; OOXML is well-formed XML by spec — the binary container
layers, ZIP/DEFLATE/CRC, are the from-scratch ones, in
`sources/archives.py`).  Unsupported WordprocessingML (fields, embedded
objects, comments anchors) is simply invisible to the walk — extraction
reads what renders as body text, matching how the reference treats
non-text page furniture.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame

from ..execution import decode_payloads, spread
from .archives import build_zip, parse_zip

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PR = "{http://schemas.openxmlformats.org/package/2006/relationships}"

DOCX_SPAN_SCHEMA = (
    "source_file string, span_order int, kind string, text string, "
    "media_ref string, parse_err string"
)

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Default Extension="png" ContentType="image/png"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.'
    'document.main+xml"/>'
    "</Types>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns='
    '"http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type='
    '"http://schemas.openxmlformats.org/officeDocument/2006/relationships/'
    'officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


# ------------------------------------------------------------------ writer
def build_docx(blocks: list[dict], media: dict[str, bytes] | None = None) -> bytes:
    """A deterministic ``.docx`` from block dicts, for fixtures and the
    synthetic driver corpus.  Block kinds:

    - ``{"kind": "title"|"text", "text": str}`` — paragraph (title gets
      ``<w:pStyle w:val="Heading1"/>``); TAB/LF inside ``text`` are
      written as ``<w:tab/>`` / ``<w:br/>`` so the round trip is exact;
    - ``{"kind": "figure", "media_ref": name}`` — inline drawing whose
      relationship targets ``media/<name>`` (payload from ``media``);
    - ``{"kind": "table", "rows": [[cell, ...], ...]}``.

    Every byte is a pure function of the inputs: members stored in a
    fixed order, ZIP written by the deterministic `build_zip`."""
    media = media or {}
    body: list[str] = []
    rels: list[str] = []
    rid = 0
    for b in blocks:
        kind = b["kind"]
        if kind in ("title", "text"):
            runs: list[str] = []
            for piece in re.split(r"([\t\n])", b["text"]):
                if piece == "\t":
                    runs.append("<w:tab/>")
                elif piece == "\n":
                    runs.append("<w:br/>")
                elif piece:
                    runs.append(
                        f'<w:t xml:space="preserve">{_xml_escape(piece)}</w:t>'
                    )
            style = (
                '<w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
                if kind == "title"
                else ""
            )
            body.append(f"<w:p>{style}<w:r>{''.join(runs)}</w:r></w:p>")
        elif kind == "figure":
            rid += 1
            name = b["media_ref"]
            rels.append(
                f'<Relationship Id="rId{rid}" Type='
                '"http://schemas.openxmlformats.org/officeDocument/2006/'
                f'relationships/image" Target="media/{name}"/>'
            )
            body.append(
                "<w:p><w:r><w:drawing><wp:inline><a:graphic><a:graphicData>"
                f'<pic:pic><pic:blipFill><a:blip r:embed="rId{rid}"/>'
                "</pic:blipFill></pic:pic>"
                "</a:graphicData></a:graphic></wp:inline></w:drawing></w:r></w:p>"
            )
        elif kind == "table":
            rows_xml = []
            for row in b["rows"]:
                cells = "".join(
                    "<w:tc><w:p><w:r>"
                    f'<w:t xml:space="preserve">{_xml_escape(c)}</w:t>'
                    "</w:r></w:p></w:tc>"
                    for c in row
                )
                rows_xml.append(f"<w:tr>{cells}</w:tr>")
            body.append(f"<w:tbl>{''.join(rows_xml)}</w:tbl>")
        else:
            raise ValueError(f"unknown block kind {kind!r}")
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        "<w:document "
        'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships" '
        'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
        'xmlns:pic="http://schemas.openxmlformats.org/drawingml/2006/picture" '
        'xmlns:wp="http://schemas.openxmlformats.org/drawingml/2006/'
        'wordprocessingDrawing">'
        f"<w:body>{''.join(body)}</w:body></w:document>"
    )
    doc_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        f"{''.join(rels)}</Relationships>"
    )
    members: list[tuple[str, bytes, str]] = [
        ("[Content_Types].xml", _CONTENT_TYPES.encode(), "deflate"),
        ("_rels/.rels", _ROOT_RELS.encode(), "deflate"),
        ("word/document.xml", document.encode(), "deflate"),
        ("word/_rels/document.xml.rels", doc_rels.encode(), "deflate"),
    ]
    for name in sorted(media):
        members.append((f"word/media/{name}", media[name], "stored"))
    return build_zip(members)


# ------------------------------------------------------------------ reader
def _run_text(p: ET.Element) -> str:
    """Concatenate a paragraph's runs in document order: ``<w:t>`` text,
    ``<w:tab/>`` → TAB, ``<w:br/>``/``<w:cr/>`` → LF.  ``iter()`` walks
    nested containers (hyperlinks, smart tags) transparently."""
    parts: list[str] = []
    for el in p.iter():
        if el.tag == f"{_W}t":
            parts.append(el.text or "")
        elif el.tag == f"{_W}tab":
            parts.append("\t")
        elif el.tag in (f"{_W}br", f"{_W}cr"):
            parts.append("\n")
    return "".join(parts)


def _para_style(p: ET.Element) -> str | None:
    el = p.find(f"{_W}pPr/{_W}pStyle")
    return el.get(f"{_W}val") if el is not None else None


def parse_docx(data: bytes) -> list[dict]:
    """``.docx`` bytes → interleaved spans ``{kind, text, media_ref,
    order}`` (1-based contiguous order, document order).  Raises
    ValueError on a broken container / missing or malformed
    document.xml — callers quarantine (`parse_docx_frame`)."""
    parts = {m["member_name"]: m["payload"] for m in parse_zip(data)}
    if "word/document.xml" not in parts:
        raise ValueError("not a DOCX: word/document.xml missing")
    rels: dict[str, str] = {}
    if "word/_rels/document.xml.rels" in parts:
        try:
            root = ET.fromstring(parts["word/_rels/document.xml.rels"])
        except ET.ParseError as e:
            raise ValueError(f"malformed rels XML: {e}") from e
        for rel in root.iter(f"{_PR}Relationship"):
            rels[rel.get("Id", "")] = rel.get("Target", "")
    try:
        doc = ET.fromstring(parts["word/document.xml"])
    except ET.ParseError as e:
        raise ValueError(f"malformed document XML: {e}") from e
    body = doc.find(f"{_W}body")
    if body is None:
        raise ValueError("document.xml has no w:body")
    spans: list[dict] = []

    def emit(kind: str, text: str, media_ref: str | None) -> None:
        spans.append(
            {
                "kind": kind,
                "text": text,
                "media_ref": media_ref,
                "order": len(spans) + 1,
            }
        )

    for child in body:
        if child.tag == f"{_W}p":
            blips = [
                el.get(f"{_R}embed")
                for el in child.iter(f"{_A}blip")
                if el.get(f"{_R}embed")
            ]
            if blips:
                for rid in blips:
                    emit("figure", "", rels.get(rid, rid))
                continue
            style = _para_style(child) or ""
            kind = (
                "title"
                if style.startswith("Heading") or style == "Title"
                else "text"
            )
            text = _run_text(child)
            if text:
                emit(kind, text, None)
        elif child.tag == f"{_W}tbl":
            rows = []
            for tr in child.findall(f"{_W}tr"):
                cells = [
                    "".join(_run_text(p) for p in tc.iter(f"{_W}p"))
                    for tc in tr.findall(f"{_W}tc")
                ]
                rows.append("\t".join(cells))
            emit("table", "\n".join(rows), None)
        # sectPr / bookmarks / anything else: not body text
    return spans


def parse_docx_frame(files: DataFrame) -> DataFrame:
    """(source, content: binary) → one row per span, through
    :func:`..execution.decode_payloads` — the file is the split unit."""

    def rows(b: bytes):
        for s in parse_docx(b):
            yield s["order"], s["kind"], s["text"], s["media_ref"], None

    return decode_payloads(
        files, DOCX_SPAN_SCHEMA, ("source",), rows, payload="content"
    )


def docx_from_documents(documents: DataFrame) -> DataFrame:
    """Pack each documents-table row into a synthetic ``.docx`` whose
    blocks are a pure function of (doc_id, text) — the DuckDB-replicable
    fixture convention (`archives_from_documents`):

    - title paragraph ``Issue {doc_id}``;
    - one body paragraph carrying the document's full text verbatim
      (TAB/LF and XML-special characters round-trip through the
      writer's run encoding);
    - ``doc_id % 3 == 0`` → a figure targeting ``media/image1.png``;
    - ``doc_id % 5 == 0`` → a 2×2 table, cell ``r{r}c{c}:{doc_id}``.

    Output: (source ``synth://doc_{doc_id}.docx``, content binary)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src, blob = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                blocks: list[dict] = [
                    {"kind": "title", "text": f"Issue {doc_id}"},
                    {"kind": "text", "text": str(text)},
                ]
                media: dict[str, bytes] = {}
                if doc_id % 3 == 0:
                    blocks.append({"kind": "figure", "media_ref": "image1.png"})
                    media["image1.png"] = b"\x89PNG-fake-" + str(doc_id).encode()
                if doc_id % 5 == 0:
                    blocks.append(
                        {
                            "kind": "table",
                            "rows": [
                                [f"r0c0:{doc_id}", f"r0c1:{doc_id}"],
                                [f"r1c0:{doc_id}", f"r1c1:{doc_id}"],
                            ],
                        }
                    )
                src.append(f"synth://doc_{doc_id}.docx")
                blob.append(bytearray(build_docx(blocks, media)))
            yield pd.DataFrame(
                {
                    "source": pd.Series(src, dtype=object),
                    "content": pd.Series(blob, dtype=object),
                }
            )

    return spread(documents.select("doc_id", "text")).mapInPandas(
        fn, schema="source string, content binary"
    )
