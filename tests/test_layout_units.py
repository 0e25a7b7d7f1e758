"""Unit tests for individual layout operators on hand-built pages."""

from __future__ import annotations

from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.layout import (
    ORDERED_BOX_SCHEMA,
    fill_column_gaps,
    layout,
)

BOX_COLS = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "x1 double, y1 double, x2 double, y2 double, confidence double"
)


def _boxes(spark, rows):
    return spark.createDataFrame(rows, BOX_COLS)


def test_reading_order_two_columns(spark):
    # 2-column page: full-width masthead, then two boxes per column;
    # offsets shuffled. Expect: masthead first, then col1 top→bottom,
    # then col2.
    rows = [
        ("d", 3, "text", "c2b", None, 520.0, 600.0, 980.0, 900.0, 0.9),
        ("d", 0, "title", "MAST", None, 20.0, 50.0, 980.0, 100.0, 0.9),
        ("d", 4, "text", "c1a", None, 20.0, 120.0, 480.0, 400.0, 0.9),
        ("d", 1, "text", "c2a", None, 520.0, 120.0, 980.0, 580.0, 0.9),
        ("d", 2, "text", "c1b", None, 20.0, 420.0, 480.0, 900.0, 0.9),
    ]
    got = layout(_boxes(spark, rows), num_partitions=2).orderBy("reading_order")
    texts = [r["text"] for r in got.collect()]
    # c1a+c1b merge? merged height 900-120=780 vs 1.5*colw(480)=720 → no merge
    assert texts == ["MAST", "c1a", "c1b", "c2a", "c2b"]
    cols = {r["text"]: r["column_number"] for r in got.collect()}
    assert cols["MAST"] == 0 and cols["c1a"] == 1 and cols["c2a"] == 2


def test_duplicate_box_dropped_keeps_max_conf(spark):
    rows = [
        ("d", 0, "text", "a", None, 20.0, 100.0, 480.0, 300.0, 0.6),
        ("d", 1, "text", "a", None, 20.0, 100.0, 480.0, 300.0, 0.9),
        ("d", 2, "text", "b", None, 20.0, 320.0, 480.0, 900.0, 0.7),
    ]
    got = layout(_boxes(spark, rows), num_partitions=2).collect()
    confs = sorted(r["confidence"] for r in got)
    # dup removed; survivor has 0.9 (merge may then fold a+b; conf = max)
    assert 0.6 not in confs
    assert 0.9 in confs


def test_abandon_top_zone_removed(spark):
    rows = [
        ("d", 0, "abandon", "PAGE 2", None, 20.0, 5.0, 200.0, 25.0, 0.9),
        ("d", 1, "text", "body", None, 20.0, 100.0, 480.0, 900.0, 0.9),
        ("d", 2, "text", "body2", None, 20.0, 920.0, 480.0, 1300.0, 0.9),
    ]
    got = layout(_boxes(spark, rows), num_partitions=2).collect()
    assert all(r["kind"] != "abandon" for r in got)


def test_y2_overlap_adjusted(spark):
    rows = [
        ("d", 0, "text", "a", None, 20.0, 100.0, 480.0, 520.0, 0.9),  # overlaps b
        ("d", 1, "figure", "", "m", 20.0, 500.0, 480.0, 900.0, 0.9),
        ("d", 2, "table", "t", None, 20.0, 920.0, 480.0, 1300.0, 0.9),
    ]
    got = {r["text"]: r for r in layout(_boxes(spark, rows), num_partitions=2).collect()}
    assert got["a"]["y2"] == 500.0  # clipped to next box's y1


def test_fill_column_gaps(spark):
    # single-block 2-column page; column 2 starts late and ends early
    rows = [
        ("d", 0, "text", "c1", None, 20.0, 100.0, 480.0, 1300.0, 0.9),
        ("d", 1, "text", "c2", None, 520.0, 400.0, 980.0, 1000.0, 0.9),
    ]
    ordered = layout(_boxes(spark, rows), num_partitions=2)
    filled = fill_column_gaps(ordered)
    synth = filled.filter(F.col("offset") == -1).collect()
    gaps = sorted((r["y1"], r["y2"]) for r in synth)
    assert gaps == [(100.0, 400.0), (1000.0, 1300.0)]
    # originals untouched
    assert filled.count() == 2 + 2


def test_fill_skips_multiblock_pages(spark):
    # content ABOVE a full-width separator → two blocks → ineligible
    rows = [
        ("d", 3, "text", "c0", None, 20.0, 50.0, 480.0, 280.0, 0.9),
        ("d", 0, "title", "SEP", None, 20.0, 300.0, 980.0, 350.0, 0.9),
        ("d", 1, "text", "c1", None, 20.0, 370.0, 480.0, 1300.0, 0.9),
        ("d", 2, "text", "c2", None, 520.0, 600.0, 980.0, 1000.0, 0.9),
    ]
    ordered = layout(_boxes(spark, rows), num_partitions=2)
    filled = fill_column_gaps(ordered)
    assert filled.filter(F.col("offset") == -1).count() == 0


def test_adjust_x_widens_narrow_box_to_column_edges(spark):
    """L8a (reference bbox_functions.py:614-646): a narrow non-figure box
    widens to its column's bin edges; x of a box already at/бeyond the
    edge stays put; column-0 boxes clamp to the print area."""
    rows = [
        ("d", 0, "title", "MAST", None, 20.0, 50.0, 980.0, 100.0, 0.9),
        ("d", 1, "text", "narrow", None, 150.0, 120.0, 350.0, 500.0, 0.9),
        ("d", 2, "text", "wide", None, 520.0, 120.0, 980.0, 900.0, 0.9),
    ]
    got = {r["text"]: r for r in layout(_boxes(spark, rows), num_partitions=2).collect()}
    # print area [20, 980], median text width (200+460)/2=330 → k=2;
    # edges 20, 20+960.001/2, 980.001
    e1 = 20.0 + (960.0 + 0.001) / 2.0
    assert got["narrow"]["column_number"] == 1
    assert got["narrow"]["x1"] == 20.0  # x1 > c1 → widened left
    assert abs(got["narrow"]["x2"] - e1) < 1e-9  # x2 < c2 → widened right
    assert abs(got["wide"]["x1"] - e1) < 1e-9  # x1 > its c1 → pulled to edge
    assert abs(got["wide"]["x2"] - 980.001) < 1e-9
    # column-0 masthead already spans the print area → untouched
    assert (got["MAST"]["x1"], got["MAST"]["x2"]) == (20.0, 980.0)


def test_adjust_x_skips_figures(spark):
    rows = [
        ("d", 0, "figure", "", "m", 150.0, 120.0, 350.0, 500.0, 0.9),
        ("d", 1, "text", "t", None, 20.0, 520.0, 480.0, 900.0, 0.9),
    ]
    got = {r["kind"]: r for r in layout(_boxes(spark, rows), num_partitions=2).collect()}
    assert (got["figure"]["x1"], got["figure"]["x2"]) == (150.0, 350.0)


def test_min_height_sliver_dropped(spark):
    """L8b (reference bbox_functions.py:870-871): a box the y2 adjustment
    collapsed below 10px is dropped; the survivor's y2 then re-closes the
    gap via the post-merge second y2 adjustment."""
    rows = [
        ("d", 0, "text", "a", None, 20.0, 100.0, 480.0, 494.0, 0.9),
        ("d", 1, "text", "sliver", None, 20.0, 496.0, 480.0, 500.0, 0.9),
        ("d", 2, "text", "b", None, 20.0, 500.0, 480.0, 900.0, 0.9),
    ]
    got = layout(_boxes(spark, rows), num_partitions=2).collect()
    texts = {r["text"] for r in got}
    assert "sliver" not in texts  # y2-adjusted height 500-496=4 < 10 → dropped
    # a's y2 was adjusted to the sliver's y1 (496); the second y2 pass
    # re-closes it to b's y1 (a+b don't merge: 800 > 1.5*460)
    a = next(r for r in got if r["text"] == "a")
    assert a["y2"] == 500.0
    assert [r["reading_order"] for r in sorted(got, key=lambda r: r["y1"])] == [1, 2]


def test_plain_text_normalized_to_text(spark):
    """L0 (reference pipeline_stages.py:193-195): the raw DocLayout-YOLO
    'plain text' label becomes 'text' BEFORE layout math — it counts for
    the median text width and is NOT title-ized by the L4a relabel."""
    rows = [
        ("d", 0, "plain text", "a", None, 20.0, 100.0, 480.0, 300.0, 0.9),
        ("d", 1, "text", "b", None, 20.0, 320.0, 480.0, 900.0, 0.9),
    ]
    got = {r["text"]: r["kind"] for r in layout(_boxes(spark, rows), num_partitions=2).collect()}
    assert got == {"a": "text", "b": "text"}


def test_noncanonical_kind_relabeled_title(spark):
    """L4a (reference bbox_functions.py:852-856): classes outside
    {figure, table, text} become title and get the title text treatment
    downstream (no text-merge with adjacent text boxes)."""
    from reading_the_unreadable_spark.plans.pipeline import extract_from_boxes

    rows = [
        ("d", 0, "isolate_formula", "e = m c squared", None, 20.0, 100.0, 480.0, 140.0, 0.9),
        ("d", 1, "text", "body text", None, 20.0, 160.0, 480.0, 500.0, 0.9),
    ]
    ordered = layout(_boxes(spark, rows), num_partitions=2).collect()
    kinds = {r["text"]: r["kind"] for r in ordered}
    assert kinds["e = m c squared"] == "title"
    assert kinds["body text"] == "text"
    spans = extract_from_boxes(_boxes(spark, rows), num_partitions=2).collect()
    assert [(s["kind"], s["text"]) for s in sorted(spans, key=lambda s: s["order"])] == [
        ("title", "e = m c squared"),
        ("text", "body text"),
    ]


def test_schema_stable(spark):
    rows = [("d", 0, "text", "a", None, 20.0, 100.0, 480.0, 900.0, 0.9)]
    got = layout(_boxes(spark, rows), num_partitions=2)
    expect = [f.split()[0] for f in ORDERED_BOX_SCHEMA.split(", ")] + ["box_page_id"]
    assert [f.name for f in got.schema.fields] == expect


def test_merge_overlapping_boxes_pairs_islands(spark):
    """G4: greedy pairwise merge of consecutive-reading-order overlapping
    boxes within (doc, column) — reference bbox_functions.py:459-505."""
    from reading_the_unreadable_spark.operators.layout import merge_overlapping_boxes

    rows = [
        # doc A col 1: three mutually-overlapping consecutive boxes ->
        # pair (1,2) merges, 3 stays (merged ro=1, so 3 is 2 away)
        ("A", 1, 1, 0.0, 0.0, 10.0, 10.0),
        ("A", 1, 2, 0.0, 5.0, 10.0, 15.0),
        ("A", 1, 3, 0.0, 9.0, 10.0, 19.0),
        # doc A col 2: overlap but NON-consecutive reading order -> no merge
        ("A", 2, 5, 20.0, 0.0, 30.0, 10.0),
        ("A", 2, 7, 20.0, 2.0, 30.0, 12.0),
        # doc B col 1: consecutive but overlap below 50% of smaller -> no merge
        ("B", 1, 1, 0.0, 0.0, 10.0, 10.0),
        ("B", 1, 2, 0.0, 8.0, 10.0, 18.0),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, column_number int, reading_order int, "
        "x1 double, y1 double, x2 double, y2 double",
    )
    out = {
        (r["doc_id"], r["column_number"], r["reading_order"]): r
        for r in merge_overlapping_boxes(df).collect()
    }
    assert set(out) == {
        ("A", 1, 1),
        ("A", 1, 3),
        ("A", 2, 5),
        ("A", 2, 7),
        ("B", 1, 1),
        ("B", 1, 2),
    }
    merged = out[("A", 1, 1)]
    assert (merged["y1"], merged["y2"]) == (0.0, 15.0)
    assert merged["center_y"] == 7.5
    # untouched box keeps its own geometry
    assert out[("A", 1, 3)]["y1"] == 9.0


def test_docs_to_boxes_matches_oracle(spark):
    """The self-contained boxes frame: one row per span with its text,
    media_ref and geometry, as the oracle explodes docs."""
    import pandas as pd

    from reading_the_unreadable_spark import oracle, synth
    from reading_the_unreadable_spark.operators.geometry import docs_to_boxes
    from reading_the_unreadable_spark.sources.docs import docs_from_rows

    corpus = synth.make_corpus(8, seed_tag="boxes")
    cols = ["doc_id", "offset", "kind", "text", "media_ref",
            "x1", "y1", "x2", "y2", "confidence"]
    got = (
        docs_to_boxes(docs_from_rows(spark, corpus)).toPandas()[cols]
        .sort_values(["doc_id", "offset"]).reset_index(drop=True)
    )
    want = (
        oracle.docs_to_boxes(pd.DataFrame(corpus))[cols]
        .sort_values(["doc_id", "offset"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
