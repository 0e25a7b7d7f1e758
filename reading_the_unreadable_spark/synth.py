"""Deterministic synthetic newspaper-page generator.

Produces, as a pure function of ``doc_id`` (md5-seeded PCG64), a full page:
interleaved spans (kind/text/media_ref/offset) AND their bounding-box
geometry.  The docs table persists only the span columns (the
``BASELINE.json`` input_hint schema); the pipeline and the pandas oracle
both re-derive geometry by calling :func:`synth_page` again, so the layout
path (column inference, block segmentation, reading order — the behavioral
contract of ``/root/reference/function_modules/bbox_functions.py:789-896``)
is exercised end-to-end without shipping pixels.

Case families covered (FIXTURES.md §1.1): 1–4 column pages, full-width
column-spanning titles (block separators), abandon boxes in the top-10%
reclassification zone, perfect-duplicate boxes differing only in
confidence, vertically overlapping boxes, adjacent same-class boxes
eligible for the 1.5×column_width merge, figures and fenced-TSV tables
interleaved with text, hyphen-broken / line-broken / ALL-CAPS-paragraph
OCR noise, and a ~50× span-count broadsheet skew tail.  Round-3 families:
non-canonical layout-model classes (isolate_formula / figure_caption —
the L4a relabel-to-title path), narrow in-column boxes (the L8a x-widening
path), and near-coincident box tops that the y2 adjustment collapses into
sub-10px slivers (the L8b min-height filter path).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

# Deterministic vocabulary (no external data).
WORDS = (
    "the of and to in that was his he it with is for as had you not be her "
    "on at by which have or from this him but all she they were my are me "
    "one their so an said them we who would been will no when there if more "
    "out up into do any your what has man could other than our some very "
    "time upon about may its only now little like then can made should"
).split()

TITLE_WORDS = (
    "NEWS TOWN TRADE CROWN PARLIAMENT MARKET RAILWAY EMPIRE COURT NOTICE "
    "LETTERS FOREIGN COLONIAL SHIPPING POLICE ELECTION REFORM CHARTER UNION "
    "MEETING ADDRESS GAZETTE HERALD EXPRESS STANDARD"
).split()

LIGATURE_SNIPPETS = ["ﬁne", "aﬀair", "ﬂour", "ſociety", "diﬃcult"]


def _seed(doc_id: str) -> int:
    return int.from_bytes(hashlib.md5(doc_id.encode("utf-8")).digest()[:8], "big")


def _seed_text(doc_id: str) -> int:
    # independent stream: second half of the same md5 digest, so skipping
    # every text draw (geometry_only) cannot perturb the geometry stream
    return int.from_bytes(hashlib.md5(doc_id.encode("utf-8")).digest()[8:16], "big")


@dataclass
class Box:
    kind: str
    text: str
    media_ref: str | None
    x1: float
    y1: float
    x2: float
    y2: float
    confidence: float
    offset: int = -1  # assigned after shuffling
    columns: list = field(default_factory=list, repr=False)


def _paragraph(rng: np.random.Generator) -> str:
    """One paragraph of OCR-ish text with deterministic noise."""
    n_words = int(rng.integers(15, 45))
    words = list(rng.choice(WORDS, size=n_words))
    # ligature / long-s artifacts
    if rng.random() < 0.25:
        words[int(rng.integers(0, n_words))] = str(rng.choice(LIGATURE_SNIPPETS))
    # hyphenated line break: split one word across lines
    if rng.random() < 0.3 and n_words > 4:
        i = int(rng.integers(1, n_words - 1))
        w = words[i]
        if len(w) >= 4:
            cut = len(w) // 2
            words[i] = w[:cut] + "-\n" + w[cut:]
    text = " ".join(words)
    # single line breaks inside the paragraph (OCR line wrap)
    toks = text.split(" ")
    if len(toks) > 8 and rng.random() < 0.6:
        step = int(rng.integers(6, 9))
        out = []
        for j, t in enumerate(toks):
            out.append(t)
            if j % step == step - 1 and j < len(toks) - 1:
                out.append("\n")
        text = " ".join(out).replace(" \n ", "\n")
    return text


def _text_content(rng: np.random.Generator) -> str:
    paras = [_paragraph(rng) for _ in range(int(rng.integers(1, 4)))]
    # embedded ALL-CAPS headline paragraph (split-and-reclassify path)
    if rng.random() < 0.15:
        caps = " ".join(rng.choice(TITLE_WORDS, size=int(rng.integers(2, 5))))
        pos = int(rng.integers(0, len(paras) + 1))
        paras.insert(pos, caps)
    return "\n\n".join(paras)


def _title_content(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(TITLE_WORDS, size=int(rng.integers(2, 5))))


def _table_content(rng: np.random.Generator) -> str:
    rows = ["\t".join(rng.choice(WORDS, size=3)) for _ in range(int(rng.integers(2, 5)))]
    return "```tsv\n" + "\n".join(rows) + "\n```"


def synth_page(doc_id: str, geometry_only: bool = False) -> list[Box]:
    """Generate the full page for ``doc_id`` — spans + geometry.

    Deterministic: same doc_id ⇒ byte-identical output, across processes.

    Structure/geometry decisions draw from one PCG64 stream, text content
    from a second independent stream, so ``geometry_only=True`` skips ALL
    text synthesis (the expensive part — the pipeline's geometry-attach
    stage re-derives only coordinates) while producing byte-identical
    geometry: box texts come back empty, everything else is unchanged.
    """
    rng = np.random.Generator(np.random.PCG64(_seed(doc_id)))
    rng_text = (
        None
        if geometry_only
        else np.random.Generator(np.random.PCG64(_seed_text(doc_id)))
    )
    skew = "XL" in doc_id  # explicit heavy-tail broadsheet (skew/salting test)
    broadsheet = skew or rng.random() < 0.1
    if broadsheet:
        page_w, page_h = 1600.0, 2400.0 * (8.0 if skew else 1.0)
        n_cols = int(rng.choice([2, 3, 4]))
    else:
        page_w, page_h = 1000.0, 1400.0
        n_cols = int(rng.choice([1, 2, 3], p=[0.3, 0.4, 0.3]))

    x0, x1_margin = 50.0, page_w - 50.0
    top, bottom = 80.0, page_h - 60.0
    col_w = (x1_margin - x0) / n_cols

    boxes: list[Box] = []

    def conf() -> float:
        return round(float(rng.uniform(0.5, 0.99)), 4)

    # abandon noise box at the very top (reclassification zone)
    if rng.random() < 0.35:
        bx = x0 + float(rng.integers(0, int(col_w)))
        boxes.append(
            Box("abandon", "PAGE 4 PRICE 2d", None, bx, 10.0, bx + 200.0, 40.0, conf())
        )

    y_start = top
    # full-width masthead title (column-spanning ⇒ block separator, col 0)
    n_mastheads = 0
    if n_cols > 1 and rng.random() < 0.6:
        n_mastheads = 1 + int(rng.random() < 0.2)
    for _ in range(n_mastheads):
        boxes.append(
            Box(
                "title",
                "" if geometry_only else _title_content(rng_text),
                None,
                x0,
                y_start,
                x0 + n_cols * col_w,
                y_start + 50.0,
                conf(),
            )
        )
        y_start += 60.0

    fig_counter = 0
    for c in range(n_cols):
        cx1 = x0 + c * col_w + float(rng.integers(1, 5))
        cx2 = x0 + (c + 1) * col_w - float(rng.integers(1, 5))
        y = y_start + float(rng.integers(0, 30))
        while y < bottom - 120.0:
            r = rng.random()
            if r < 0.60:
                kind, h = "text", float(rng.integers(80, 300))
                # raw DocLayout-YOLO label (L0 normalizes it to 'text')
                if rng.random() < 0.12:
                    kind = "plain text"
            elif r < 0.66:
                # non-canonical layout-model class (L4a relabel → title)
                kind = "isolate_formula" if rng.random() < 0.5 else "figure_caption"
                h = float(rng.integers(30, 50))
            elif r < 0.82:
                kind, h = "title", float(rng.integers(40, 61))
            elif r < 0.92:
                kind, h = "figure", float(rng.integers(150, 400))
            else:
                kind, h = "table", float(rng.integers(120, 300))
            y2 = min(y + h, bottom)
            if kind == "figure":
                text, media = "", f"{doc_id}/img/{fig_counter}.png"
                fig_counter += 1
            elif geometry_only:
                text, media = "", None
            elif kind in ("text", "plain text"):
                text, media = _text_content(rng_text), None
            elif kind in ("title", "isolate_formula", "figure_caption"):
                text, media = _title_content(rng_text), None
            else:
                text, media = _table_content(rng_text), None
            # narrow in-column box (L8a widens it back to the bin edges)
            bx1, bx2 = cx1, cx2
            if kind == "text" and rng.random() < 0.15:
                quarter = (cx2 - cx1) * 0.25
                bx1, bx2 = cx1 + quarter, cx2 - quarter
            boxes.append(Box(kind, text, media, bx1, y, bx2, y2, conf()))
            gap = float(rng.integers(5, 20))
            r_gap = rng.random()
            # vertical overlap into the next box (y2-adjust path)
            if r_gap < 0.25:
                gap = -20.0
            elif r_gap < 0.33:
                # next box starts 4px below this one's top: the y2
                # adjustment collapses this box to a sub-10px sliver
                # (L8b min-height filter path)
                gap = (y + 4.0) - y2
            y = y2 + gap

    # perfect-duplicate box, lower confidence (dedup-keep-max-conf path)
    content_boxes = [b for b in boxes if b.kind == "text"]
    if content_boxes and rng.random() < 0.3:
        src = content_boxes[int(rng.integers(0, len(content_boxes)))]
        boxes.append(
            Box(
                src.kind,
                src.text,
                src.media_ref,
                src.x1,
                src.y1,
                src.x2,
                src.y2,
                round(max(src.confidence - 0.1, 0.01), 4),
            )
        )

    # raw detection order is shuffled (reading-order reconstruction is real work)
    perm = rng.permutation(len(boxes))
    shuffled = [boxes[int(i)] for i in perm]
    for i, b in enumerate(shuffled):
        b.offset = i
    return shuffled


def page_arrays(doc_id: str) -> dict[str, np.ndarray]:
    """Geometry table for one page keyed by offset (vectorized consumers).

    geometry_only: the text stream is independent, so the pipeline's
    geometry re-derivation never pays for text synthesis."""
    boxes = synth_page(doc_id, geometry_only=True)
    boxes.sort(key=lambda b: b.offset)
    return {
        "offset": np.array([b.offset for b in boxes], dtype=np.int32),
        "x1": np.array([b.x1 for b in boxes], dtype=np.float64),
        "y1": np.array([b.y1 for b in boxes], dtype=np.float64),
        "x2": np.array([b.x2 for b in boxes], dtype=np.float64),
        "y2": np.array([b.y2 for b in boxes], dtype=np.float64),
        "confidence": np.array([b.confidence for b in boxes], dtype=np.float64),
    }


def make_corpus(n_docs: int, seed_tag: str = "fx") -> list[dict]:
    """Build a docs-table corpus: one dict per document row.

    doc_id format mirrors the reference's page_id
    (``{periodical}-{date}_page_{n}``); every ~40th doc is an XL skew doc.
    """
    periodicals = ["NS", "LDR", "MRT", "CLD", "EWJ", "SNSBL"]
    rows = []
    for i in range(n_docs):
        per = periodicals[i % len(periodicals)]
        tag = "XL-" if (i % 40 == 39) else ""
        doc_id = f"{per}-{tag}{seed_tag}-1850-{(i % 12) + 1:02d}-01_page_{i}"
        spans = [
            {
                "kind": b.kind,
                "text": b.text,
                "media_ref": b.media_ref,
                "offset": b.offset,
            }
            for b in sorted(synth_page(doc_id), key=lambda b: b.offset)
        ]
        rows.append({"doc_id": doc_id, "spans": spans})
    return rows
