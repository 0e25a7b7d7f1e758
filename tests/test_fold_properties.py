"""Differential property test of the fused per-doc fold (pure pandas, no
Spark): on generated doc-sorted box streams, each production phase
(``layout._merge_frame``, ``articles._post_correct_pd``,
``articles.spans_frame_pd``) and their composition
(``layout._fold_spans``) equal the column-pass specs in
``operator_specs``, frame for frame."""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from operator_specs import merge_frame, post_correct, spans_frame

from reading_the_unreadable_spark.operators.articles import (
    _post_correct_pd,
    spans_frame_pd,
)
from reading_the_unreadable_spark.operators.layout import (
    MERGE_WIDTH_MULTIPLIER,
    ORDERED_BOX_SCHEMA,
    _fold_spans,
    _merge_frame,
)

COLUMN_WIDTH = 100.0
COLUMNS = [f.split()[0] for f in ORDERED_BOX_SCHEMA.split(", ")]

# pieces of OCR text: ALL-CAPS words (with ß, whose upper() is "SS"),
# body words, ligatures, every kind of line break and Unicode whitespace
WORDS = ["LONDON", "NEWS", "GREAT", "STRAßE", "ß", "AEIOU", "BRT", "prose",
         "ﬁne", "ſociety", "tsv", "a\tb", "1850"]
SEPARATORS = [" ", "  ", "\n", "\n\n", "\n\n\n", "-\n", "\u00a0", "\u2009",
              "\u3000", "\u202f", "\x00", "\n\n  \n\n"]
PIECES = st.lists(st.sampled_from(WORDS + SEPARATORS), max_size=12).map("".join)
TABLES = st.builds(lambda body, fence: f"{fence}tsv\n{body}\n{fence}", PIECES,
                   st.sampled_from(["```", "``", ""]))


@st.composite
def box(draw, doc_id: str, block: int, col: int, y1: float) -> dict:
    kind = draw(st.sampled_from(["text", "text", "text", "title", "figure", "table", "gap"]))
    # heights and steps on a 10-px grid with COLUMN_WIDTH 100: a run's
    # height often equals the 1.5 × column_width cap exactly
    y2 = y1 + draw(st.sampled_from([10.0, 40.0, 50.0, 100.0, 150.0]))
    row = {
        "doc_id": doc_id, "offset": draw(st.integers(0, 500)), "kind": kind,
        "text": draw(TABLES if kind == "table" else PIECES), "media_ref": None,
        "x1": draw(st.sampled_from([0.0, 5.0, 20.0])), "y1": y1,
        "x2": draw(st.sampled_from([80.0, 95.0, 100.0])), "y2": y2,
        "confidence": draw(st.sampled_from([0.5, 0.9, 0.99])),
        "column_number": col, "column_width": COLUMN_WIDTH, "page_block": block,
        "reading_order": 0,
    }
    if kind == "figure":
        row.update(text="", media_ref=f"{doc_id}-fig.png")
    elif kind == "gap":  # a synthesized column gap box
        row.update(kind="text", text="", offset=-1, confidence=0.0)
    return row


@st.composite
def sorted_stream(draw) -> pd.DataFrame:
    """Boxes in the fold's input order: (doc_id, page_block,
    column_number, y1), with reading_order the rank within the doc."""
    rows = []
    for d in range(draw(st.integers(1, 3))):
        doc_rows = []
        for block in range(draw(st.integers(1, 2))):
            for col in sorted(draw(st.sets(st.integers(0, 3), min_size=1, max_size=3))):
                y1 = 0.0
                for _ in range(draw(st.integers(1, 6))):
                    y1 += draw(st.sampled_from([0.0, 10.0, 50.0]))
                    doc_rows.append(draw(box(f"d{d}", block, col, y1)))
        for i, r in enumerate(doc_rows):
            r["reading_order"] = i + 1
        rows.extend(doc_rows)
    return pd.DataFrame(rows, columns=COLUMNS).astype(
        {"offset": "int32", "column_number": "int32", "page_block": "int32"}
    )


CAP_EDGE = pd.DataFrame(
    [  # a 3-box text run whose height reaches the cap exactly, then one past it
        ("d0", 1, "text", "ONE", None, 0.0, 0.0, 90.0, 50.0, 0.5, 1, COLUMN_WIDTH, 0, 1),
        ("d0", 2, "text", "two", None, 5.0, 50.0, 95.0, 100.0, 0.9, 1, COLUMN_WIDTH, 0, 2),
        ("d0", 3, "text", "three", None, 0.0, 100.0, 80.0,
         MERGE_WIDTH_MULTIPLIER * COLUMN_WIDTH, 0.7, 1, COLUMN_WIDTH, 0, 3),
        ("d0", 4, "text", "four", None, 0.0, 140.0, 80.0, 150.1, 0.7, 1, COLUMN_WIDTH, 0, 4),
    ],
    columns=COLUMNS,
)


def _same(got: pd.DataFrame, want: pd.DataFrame) -> None:
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


@settings(max_examples=200, deadline=None)
@given(sorted_stream())
@example(CAP_EDGE)
def test_fold_phases_equal_specs(stream):
    merged = _merge_frame(stream)
    _same(merged, merge_frame(stream))
    text = _post_correct_pd(merged["kind"], merged["text"])
    want_text = post_correct(merged["kind"], merged["text"])
    assert text.tolist() == want_text.tolist()
    corrected = merged.assign(text=text)
    _same(spans_frame_pd(corrected), spans_frame(corrected))
    _same(_fold_spans(stream), spans_frame(corrected))


def test_cap_edge_merges_at_equality_only():
    """The cap is inclusive and measured from the run head: boxes 1–3
    (height exactly 1.5 × column_width) merge, box 4 starts a new run."""
    merged = _merge_frame(CAP_EDGE)
    assert merged["text"].tolist() == ["ONE\n\ntwo\n\nthree", "four"]
    assert merged["x1"].tolist() == [0.0, 0.0] and merged["x2"].tolist() == [95.0, 80.0]
