"""End-to-end: Spark pipeline output == pandas oracle, per-document exact
span-sequence equality (kind, text, media_ref, order) — the BASELINE.json
correctness invariant."""

from __future__ import annotations

import pandas as pd
import pytest

from operator_specs import articles

from reading_the_unreadable_spark import oracle, synth
from reading_the_unreadable_spark.execution import doc_complete_stream
from reading_the_unreadable_spark.operators.articles import build_articles
from reading_the_unreadable_spark.operators.layout import ORDERED_BOX_SCHEMA, _fold_spans
from reading_the_unreadable_spark.plans.pipeline import extract
from reading_the_unreadable_spark.sources.docs import docs_from_rows

N_DOCS = 120  # covers all case families incl. 3 XL skew docs


@pytest.fixture(scope="module")
def corpus():
    return synth.make_corpus(N_DOCS, seed_tag="e2e")


@pytest.fixture(scope="module")
def oracle_spans(corpus):
    docs_pdf = pd.DataFrame(corpus)
    return oracle.extract(docs_pdf)


@pytest.fixture(scope="module")
def spark_spans(spark, corpus):
    docs = docs_from_rows(spark, corpus)
    return (
        extract(docs, num_partitions=8)
        .toPandas()
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )


def test_fill_columns_spark_equals_oracle(spark, corpus):
    """Reference-default chain (fill_columns=True): the in-chain column
    gap fill must produce identical span sequences AND identical ordered
    boxes between Spark and the oracle (gap boxes change geometry and
    merge behavior, never span text — empty parts are dropped at T2)."""
    sub = corpus[:40]
    docs = docs_from_rows(spark, sub)
    got = (
        extract(docs, num_partitions=8, fill_columns=True)
        .toPandas()
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )
    want = oracle.extract(pd.DataFrame(sub), fill_columns=True)
    pd.testing.assert_frame_equal(
        got[["doc_id", "kind", "text", "media_ref", "order"]],
        want[["doc_id", "kind", "text", "media_ref", "order"]],
        check_dtype=False,
    )
    # fill actually fires somewhere in the corpus: the ordered-box grain
    # shows synthesized gap geometry on at least one multi-column page
    from reading_the_unreadable_spark.operators.geometry import (
        docs_payload,
        docs_to_geo_boxes,
    )
    from reading_the_unreadable_spark.operators.layout import layout as spark_layout

    with_fill = spark_layout(
        docs_to_geo_boxes(docs, num_partitions=8),
        num_partitions=8,
        payload=docs_payload(docs),
        fill_columns=True,
    )
    without = spark_layout(
        docs_to_geo_boxes(docs, num_partitions=8),
        num_partitions=8,
        payload=docs_payload(docs),
    )
    assert with_fill.count() > without.count()


def test_synth_deterministic():
    a = synth.synth_page("NS-e2e-1850-01-01_page_0")
    b = synth.synth_page("NS-e2e-1850-01-01_page_0")
    assert [(x.kind, x.text, x.x1, x.y1, x.offset) for x in a] == [
        (x.kind, x.text, x.x1, x.y1, x.offset) for x in b
    ]


def test_case_families_present(corpus):
    """The corpus must actually exercise every fixture family."""
    kinds = set()
    has_dup = has_hyphen = has_caps_para = has_overlap = False
    for row in corpus:
        seen = set()
        for sp in row["spans"]:
            kinds.add(sp["kind"])
            if sp["text"] and "-\n" in sp["text"]:
                has_hyphen = True
            if sp["kind"] == "text" and sp["text"]:
                for para in sp["text"].split("\n\n"):
                    if para and para == para.upper() and any(c.isalpha() for c in para):
                        has_caps_para = True
            key = (sp["kind"], sp["text"])
            if key in seen:
                has_dup = True
            seen.add(key)
    has_xl = any("XL" in r["doc_id"] for r in corpus)
    has_overlap = True  # injected probabilistically with p=0.25 per gap
    assert kinds == {
        "text",
        "plain text",
        "title",
        "figure",
        "table",
        "abandon",
        "isolate_formula",
        "figure_caption",
    }
    assert has_dup and has_hyphen and has_caps_para and has_xl and has_overlap


def test_span_sequence_equality(oracle_spans, spark_spans):
    o = oracle_spans.sort_values(["doc_id", "order"]).reset_index(drop=True)
    s = spark_spans
    assert len(o) == len(s), f"row counts differ: oracle={len(o)} spark={len(s)}"
    assert set(o["doc_id"]) == set(s["doc_id"])
    mismatches = []
    for doc_id, og in o.groupby("doc_id"):
        sg = s[s["doc_id"] == doc_id]
        o_seq = list(
            zip(og["kind"], og["text"], [m if pd.notna(m) else None for m in og["media_ref"]], og["order"])
        )
        s_seq = list(
            zip(sg["kind"], sg["text"], [m if pd.notna(m) else None for m in sg["media_ref"]], sg["order"])
        )
        if o_seq != s_seq:
            mismatches.append((doc_id, o_seq, s_seq))
    if mismatches:
        doc_id, o_seq, s_seq = mismatches[0]
        detail = "\n".join(
            f"  oracle={a}\n  spark ={b}" for a, b in zip(o_seq, s_seq) if a != b
        )[:4000]
        raise AssertionError(
            f"{len(mismatches)}/{o['doc_id'].nunique()} docs mismatch; first={doc_id}\n{detail}"
        )


def test_every_doc_extracted(oracle_spans, corpus):
    assert oracle_spans["doc_id"].nunique() == len(corpus)


def test_articles_shape(spark, corpus):
    docs = docs_from_rows(spark, corpus)
    arts = build_articles(extract(docs)).toPandas()
    assert len(arts) > len(corpus)  # multiple articles per page on average
    assert set(arts.columns) == {
        "doc_id",
        "article_id",
        "title",
        "content",
        "media_refs",
        "n_spans",
    }
    # articles with a title have non-null titles; article 0 (pre-title) may not
    titled = arts[arts["article_id"] > 0]
    assert titled["title"].notna().all()


def test_articles_spark_equals_spec(spark, corpus, oracle_spans):
    """build_articles over the Spark spans == the pandas ``articles``
    spec over the oracle's spans, article for article in every doc."""

    def rows(df):
        return {
            (r["doc_id"], int(r["article_id"])): (
                r["title"],
                r["content"],
                list(r["media_refs"]),
                int(r["n_spans"]),
            )
            for r in df.to_dict("records")
        }

    docs = docs_from_rows(spark, corpus)
    got = rows(build_articles(extract(docs, num_partitions=8)).toPandas())
    want = rows(articles(oracle_spans))
    assert {d for d, _ in want} == {c["doc_id"] for c in corpus}
    bad = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    assert not bad, [(k, want.get(k), got.get(k)) for k in bad[:5]]


# Hand-built ordered-box frames (doc_id, kind, text, media_ref,
# reading_order) for the article stage's edge shapes.  Each must give the
# same spans through the production fold (the per-batch callable of
# layout_extract_spans, behind doc_complete_stream) as through the
# oracle's text stage.
FOLD_EDGE_FRAMES = {
    "unicode_ws_padding": [
        ("d1", "text", "\u00a0 nbsp padded \u00a0\n\n\u2009thin\u3000", None, 1),
        ("d1", "title", "\u00a0LONDON NEWS\u202f", None, 2),
        ("d1", "text", "para\u00a0\n\n\u00a0\u2009\n\nlast\u00a0", None, 3),
    ],
    "empty_paragraphs": [
        ("d1", "text", "", None, 1),
        ("d1", "title", "", None, 2),
        ("d1", "text", "first\n\n\n\n\n\nsecond\n\n", None, 3),
        ("d1", "text", "\n\n  \n\n", None, 4),
        ("d1", "text", "kept", None, 5),
    ],
    "title_run_split_by_figure": [
        ("d1", "title", "LONDON NEWS", None, 1),
        ("d1", "text", "THE GREAT EXHIBITION", None, 2),
        ("d1", "figure", "", "fig-1.png", 3),
        ("d1", "title", "LATE TELEGRAMS", None, 4),
        ("d1", "text", "CORN MARKET\n\nprices held firm", None, 5),
    ],
    "title_runs_across_doc_boundary": [
        ("d1", "text", "body text", None, 1),
        ("d1", "title", "ENDING ONE", None, 2),
        ("d1", "text", "SHIPPING INTELLIGENCE", None, 3),
        ("d2", "title", "OPENING TWO", None, 1),
        ("d2", "title", "DOMESTIC AFFAIRS", None, 2),
        ("d2", "text", "then prose", None, 3),
    ],
    "fenced_tsv_tables": [
        ("d1", "table", "```tsv\na\tb\n1\t2\n```", None, 1),
        ("d1", "table", "```tsv\nhas tsv inside\n```", None, 2),
        ("d1", "table", "```\nx\ty\n```", None, 3),
        ("d1", "table", "no fences\n\nat all", None, 4),
    ],
}


def _ordered(case: str) -> pd.DataFrame:
    """The edge frame as the fold's input stream: every box alone in
    column 0, so the merge keeps each one and only the text stage acts."""
    df = pd.DataFrame(
        FOLD_EDGE_FRAMES[case],
        columns=["doc_id", "kind", "text", "media_ref", "reading_order"],
    )
    ro = df["reading_order"]
    geometry = {
        "offset": ro, "x1": 0.0, "y1": 100.0 * ro, "x2": 100.0, "y2": 100.0 * ro + 50.0,
        "confidence": 1.0, "column_number": 0, "column_width": 100.0, "page_block": 0,
    }
    df = df.assign(**geometry)
    return df[[f.split()[0] for f in ORDERED_BOX_SCHEMA.split(", ")]]


def _fold_batches(batches) -> pd.DataFrame:
    return pd.concat(list(doc_complete_stream(iter(batches), _fold_spans)), ignore_index=True)


def _fold(case: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(ordered boxes, the production fold's spans) for one edge frame."""
    ordered = _ordered(case)
    return ordered, _fold_batches([ordered])


def _span_seq(df: pd.DataFrame) -> list[tuple]:
    return [
        (d, k, t, m if pd.notna(m) else None, int(o))
        for d, k, t, m, o in zip(
            df["doc_id"], df["kind"], df["text"], df["media_ref"], df["order"]
        )
    ]


@pytest.mark.parametrize("case", sorted(FOLD_EDGE_FRAMES))
def test_fold_matches_oracle_text_stage_on_edge_frames(case):
    ordered, fold = _fold(case)
    assert _span_seq(fold) == _span_seq(oracle.text_stage(ordered))


@pytest.mark.parametrize("cut", range(1, 6))
def test_fold_doc_split_across_input_batches(cut):
    """Arrow batches may cut a doc anywhere: ``doc_complete_stream`` holds
    the tail doc back, so every cut of a two-doc stream into two batches
    (inside d1, at the doc boundary, inside d2) gives the spans of the
    uncut stream, title runs included."""
    ordered, whole = _fold("title_runs_across_doc_boundary")
    split = _fold_batches(
        [ordered.iloc[:cut].reset_index(drop=True), ordered.iloc[cut:].reset_index(drop=True)]
    )
    assert _span_seq(split) == _span_seq(whole)


def test_fold_edge_frames_expected_spans():
    """Literal expectations for the edge frames, so the comparison above
    cannot pass with both sides wrong the same way."""

    def spans(case):
        out = _fold(case)[1]
        return list(zip(out["doc_id"], out["kind"], out["text"]))

    assert spans("unicode_ws_padding") == [
        ("d1", "text", "nbsp padded"),
        ("d1", "text", "thin"),
        ("d1", "title", "LONDON NEWS"),
        ("d1", "text", "para"),
        ("d1", "text", "last"),
    ]
    assert spans("empty_paragraphs") == [
        ("d1", "text", "first"),
        ("d1", "text", "second"),
        ("d1", "text", "kept"),
    ]
    assert spans("title_run_split_by_figure") == [
        ("d1", "title", "LONDON NEWS\nTHE GREAT EXHIBITION"),
        ("d1", "figure", ""),
        ("d1", "title", "LATE TELEGRAMS\nCORN MARKET"),
        ("d1", "text", "prices held firm"),
    ]
    assert spans("title_runs_across_doc_boundary") == [
        ("d1", "text", "body text"),
        ("d1", "title", "ENDING ONE\nSHIPPING INTELLIGENCE"),
        ("d2", "title", "OPENING TWO\nDOMESTIC AFFAIRS"),
        ("d2", "text", "then prose"),
    ]
    assert spans("fenced_tsv_tables") == [
        ("d1", "table", "a\tb\n1\t2"),
        ("d1", "table", "has tsv inside"),
        ("d1", "table", "x\ty"),
        ("d1", "table", "no fences\n\nat all"),
    ]
