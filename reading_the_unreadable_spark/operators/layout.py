"""Stage 2 — layout analysis + reading-order reconstruction (Spark-first).

Every step that the reference implements as a per-page Python loop
(``function_modules/bbox_functions.py:789-896``) is re-expressed here as
window functions and native column expressions over a **single** hash
exchange on ``doc_id``; only the inherently sequential accumulate-or-flush
box merge (reference ``bbox_functions.py:508-583``) drops to an Arrow
iterator UDF — a ``mapInPandas`` over the already doc-partitioned,
(doc, block, column, order)-sorted stream with doc-boundary-safe
rebatching, so Python is entered once per Arrow batch, not once per page.

Shuffle plan (verified with .explain): one Exchange(hashpartitioning
(doc_id)) — every subsequent Window requires only
ClusteredDistribution(doc_id, …), which the existing partitioning already
satisfies, so Catalyst inserts sorts, not shuffles.

Semantics match :mod:`..oracle` step-for-step (L1–L10 in its docstring).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..execution import doc_complete_stream
from .articles import _post_correct_pd, spans_frame_pd

MERGE_WIDTH_MULTIPLIER = 1.5
ABANDON_TOP_FRACTION = 0.1
MIN_OVERLAP_FRACTION = 0.1
BIN_EPSILON = 0.001
MIN_BOX_HEIGHT = 10.0  # reference postprocess_bbox(min_height=10)
CANONICAL_KINDS = ("figure", "table", "text")

ORDERED_BOX_SCHEMA = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "x1 double, y1 double, x2 double, y2 double, confidence double, "
    "column_number int, column_width double, page_block int, reading_order int"
)


def _layer(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """One ``withColumns`` from SQL expression strings.

    Plan building is Python→JVM round trips: every Column node costs
    several (``F.col`` 13, ``when/otherwise`` 74, a 16-field aliased
    ``struct`` 455), while an ``F.expr`` of any size costs 3, and each
    chained ``withColumn`` re-analyses the whole plan.  A layer holds
    only columns that Catalyst fused into one Project or Window when
    they were chained, so the optimized plan is the one the chain gave.
    Float literals carry a ``D`` suffix: a bare ``0.1`` is DECIMAL in
    Spark SQL."""
    return df.withColumns({name: F.expr(sql) for name, sql in exprs.items()})


def _d(x: float) -> str:
    """A double literal in Spark SQL."""
    return f"{x!r}D"


BY_DOC = "OVER (PARTITION BY doc_id)"


def _abandon_and_print_area(boxes: DataFrame) -> DataFrame:
    """L0–L2: DocLayout-YOLO's 'plain text' class normalizes to 'text'
    BEFORE any layout math (reference ``pipeline_stages.py:193-195`` —
    without this, the L4a relabel would wrongly title-ize body text and
    L3's median text width would skip it); then print-area bounds,
    top-zone abandon reclassification, filter."""
    df = _layer(
        boxes,
        {
            "kind": "CASE WHEN kind = 'plain text' THEN 'text' ELSE kind END",
            "center_y": "(y1 + y2) / 2.0D",
        },
    )
    df = _layer(df, {"_py1": f"min(y1) {BY_DOC}", "_py2": f"max(y2) {BY_DOC}"})
    thr = f"_py1 + {_d(ABANDON_TOP_FRACTION)} * (_py2 - _py1)"
    df = _layer(
        df,
        {
            "_abandon_line": (
                f"max(CASE WHEN kind = 'abandon' AND center_y <= {thr} THEN y2 END) "
                + BY_DOC
            )
        },
    )
    df = df.filter(
        "(_abandon_line IS NULL OR center_y > _abandon_line) AND kind != 'abandon'"
    )
    return df.drop("_py1", "_py2", "_abandon_line")


def _columns_native(df: DataFrame) -> DataFrame:
    """L3–L4: column count inference + bin assignment, all JVM-side.

    The reference's ``assign_columns`` is an O(boxes×bins) Python loop
    (``bbox_functions.py:240-320``); here it is a ``sequence`` +
    higher-order ``filter`` over bin indices — no UDF, no extra shuffle.
    """
    df = _layer(df, {"_px1": f"min(x1) {BY_DOC}", "_px2": f"max(x2) {BY_DOC}"})
    df = _layer(df, {"_pw": "_px2 - _px1"})
    df = _layer(
        df, {"_med_w": f"median(CASE WHEN kind = 'text' THEN x2 - x1 END) {BY_DOC}"}
    )
    df = _layer(df, {"_k": "greatest(CAST(coalesce(floor(_pw / _med_w), 1) AS INT), 1)"})

    def edge(i: str) -> str:
        return f"_px1 + CAST({i} AS DOUBLE) * (_pw + {_d(BIN_EPSILON)}) / CAST(_k AS DOUBLE)"

    hits = (
        "filter(sequence(0, _k - 1), i -> "
        f"least(x2, {edge('i + 1')}) - greatest(x1, {edge('i')}) "
        f">= {_d(MIN_OVERLAP_FRACTION)} * (x2 - x1))"
    )
    df = _layer(
        df,
        {
            "column_width": "_pw / _k",
            "column_number": (
                f"CAST(CASE WHEN size({hits}) > 1 THEN 0 "
                f"WHEN size({hits}) = 1 THEN element_at({hits}, 1) + 1 "
                "ELSE 0 END AS INT)"
            ),
        },
    )
    # column edges (reference assign_columns' c1/c2,
    # ``bbox_functions.py:296-319``): the owning bin's edges for
    # single-column boxes, the print-area edges for column-0 boxes —
    # consumed by the L8a x-widening step.
    df = _layer(
        df,
        {
            "c1": f"CASE WHEN column_number >= 1 THEN {edge('column_number - 1')} ELSE _px1 END",
            "c2": f"CASE WHEN column_number >= 1 THEN {edge('column_number')} ELSE _px2 END",
        },
    )
    return df.drop("_px1", "_px2", "_pw", "_med_w", "_k")


def _blocks_dedup_order(df: DataFrame) -> DataFrame:
    """L4a + L5–L8b: non-canonical-class→title relabel
    (``bbox_functions.py:852-856``), page blocks (gaps-and-islands window
    instead of the reference's O(n·k) loop, ``bbox_functions.py:323-372``),
    duplicate-box removal keeping max confidence (``:383-409``),
    reading-order numbering (``:412-419``), y2 adjustment (``:586-611``),
    x widening to column edges (``:614-646``), and the min-height sliver
    filter (``:870-871``)."""
    # L4a: a real layout model emits classes beyond the canonical set
    # (isolate_formula, figure_caption, …) — everything not figure/table/
    # text becomes title (abandon rows are already gone after L2).
    canonical = ", ".join(f"'{k}'" for k in CANONICAL_KINDS)
    df = _layer(df, {"kind": f"CASE WHEN kind IN ({canonical}) THEN kind ELSE 'title' END"})
    df = _layer(
        df,
        {
            "page_block": (
                "CAST(sum(CASE WHEN column_number = 0 THEN 1 ELSE 0 END) "
                "OVER (PARTITION BY doc_id ORDER BY y1, `offset` "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)"
            )
        },
    )
    # duplicate-box removal keeping max confidence (tie: lowest offset).
    # A row_number window over the rounded coordinates shares the doc_id
    # clustering (no exchange); measured faster than a max_by(struct)
    # hash-agg, whose whole-row struct copies cost more than the sort.
    df = _layer(
        df,
        {
            "_dup_rank": (
                "row_number() OVER (PARTITION BY doc_id, round(x1, 6), round(y1, 6), "
                "round(x2, 6), round(y2, 6) ORDER BY confidence DESC, `offset`)"
            )
        },
    )
    df = df.filter("_dup_rank = 1").drop("_dup_rank")
    df = _layer(
        df,
        {
            "reading_order": (
                "row_number() OVER (PARTITION BY doc_id "
                "ORDER BY page_block, column_number, y1, `offset`)"
            )
        },
    )
    df = _layer(
        df,
        {
            "y2": (
                "coalesce(lead(y1) OVER (PARTITION BY doc_id, page_block, "
                "column_number ORDER BY y1, `offset`), y2)"
            )
        },
    )
    # L8a: widen non-figure boxes to their column edges (x1 := min(x1, c1),
    # x2 := max(x2, c2)) — reference adjust_x_coordinates.
    return _layer(
        df,
        {
            "x1": "CASE WHEN kind != 'figure' AND x1 > c1 THEN c1 ELSE x1 END",
            "x2": "CASE WHEN kind != 'figure' AND x2 < c2 THEN c2 ELSE x2 END",
        },
    )


def _fill_gaps_inline(df: DataFrame) -> DataFrame:
    """L8a.5 (reference ``bbox_functions.py:682-786``, chain position per
    ``postprocess_bbox`` — between the x widening and the min-height
    filter): on eligible pages (>1 column, exactly one block), synthesize
    an empty text box above the first / below the last box of every
    column that doesn't reach the page's content bounds.  Sub-10px gaps
    are dropped by the L8b filter right after, reproducing the
    reference's implicit threshold.

    Plan shape: windows on the existing doc_id clustering + ONE
    ``inline`` explode of a per-row [self, head?, tail?] struct array —
    no self-union, so the upstream window chain is computed once, not
    three times.  ``doc_id`` is deliberately kept OUT of the exploded
    struct and passed through the Generate as the original column: a
    struct-extracted doc_id would be a NEW attribute, Catalyst would
    lose the hashpartitioning(doc_id) property, and the whole box frame
    would re-shuffle before the payload join (measured: the extra
    exchange cost ~24% wall at local[8] and dragged N→4N scaling
    efficiency from ~0.90 to ~0.76)."""
    cols = [c for c in df.columns if c != "doc_id"]
    # Column-grain min/max deliberately reuse the EXACT window spec of
    # the upstream lead-y2 window ((doc, page_block, column) ordered by
    # (y1, offset)) with an unbounded frame: CollapseWindow then fuses
    # them into that WindowExec — zero extra pass.  (doc, page_block,
    # column) ≡ (doc, column) exactly on the single-block pages the
    # eligibility gate admits; on multi-block pages the values are
    # unused (gated by _elig).
    by_col = (
        "OVER (PARTITION BY doc_id, page_block, column_number ORDER BY y1, `offset` "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    # single-block eligibility as min==max (one distinct value) — a
    # collect_set window materializes a per-row set for the same answer;
    # first/last-in-column as reading_order == min/max over the column
    # (reading_order is unique within a doc) — two ordered row_number
    # windows would add two differently-ordered sort passes.
    # one layer per window column, as the column chain had: Catalyst then
    # moves the doc-grain windows that do not read the lead-adjusted y2
    # below the lead window and fuses them into ONE doc-grain WindowExec
    # pass; a shared layer would pin all of them above it (checked on the
    # optimized plan)
    df = _layer(
        df,
        {
            "_elig": (
                f"max(column_number) {BY_DOC} > 1 "
                f"AND min(page_block) {BY_DOC} = max(page_block) {BY_DOC} "
                "AND column_number > 0"
            )
        },
    )
    df = _layer(df, {"_dy1": f"min(y1) {BY_DOC}"})
    df = _layer(df, {"_dy2": f"max(y2) {BY_DOC}"})
    df = _layer(df, {"_first": f"reading_order = min(reading_order) {by_col}"})
    df = _layer(df, {"_last": f"reading_order = max(reading_order) {by_col}"})

    def box(overrides: dict[str, str]) -> str:
        return "struct({})".format(
            ", ".join(f"{overrides.get(c, f'`{c}`')} AS `{c}`" for c in cols)
        )

    def gap(y1: str, y2: str) -> str:
        return box(
            {
                "offset": "-1",
                "kind": "'text'",
                "confidence": "0.0D",
                "y1": y1,
                "y2": y2,
                "center_y": f"({y1} + {y2}) / 2.0D",
                "reading_order": "-1",
            }
        )

    head = f"CASE WHEN _elig AND _first AND y1 > _dy1 THEN {gap('_dy1', 'y1')} END"
    tail = f"CASE WHEN _elig AND _last AND y2 < _dy2 THEN {gap('y2', '_dy2')} END"
    return df.selectExpr(
        "doc_id", f"inline(filter(array({box({})}, {head}, {tail}), x -> x IS NOT NULL))"
    )


def _min_height_filter(df: DataFrame) -> DataFrame:
    # L8b: drop sliver boxes the y2 adjustment collapsed below min_height.
    df = df.filter(f"y2 - y1 >= {_d(MIN_BOX_HEIGHT)}")
    return df.drop("c1", "c2")


def _merge_frame(pdf: pd.DataFrame, post_correct: bool = False) -> pd.DataFrame:
    """L9 fold over a frame sorted by (doc_id, page_block, column_number,
    reading_order): accumulate-or-flush merge of consecutive text boxes
    within (doc, block, column>0) while the merged span height stays
    ≤ 1.5 × column_width.

    A box can extend the open run only when it and the box before it are
    text in the same (doc, block, column>0) group; that test is one
    vectorized shift-compare.  The cap is measured from the run HEAD's
    y1, so whether such a box joins depends on where the run started and
    is not a prefix scan: a Python loop over plain floats decides it, for
    those boxes only.  Every output column is then built once from the
    run starts — the head's values, ``np.minimum/maximum.reduceat`` for
    x1, x2 and confidence, the run end's y2, and one ``"\\n\\n".join``
    per multi-box run."""
    n = len(pdf)
    if n == 0:
        return pdf.copy()
    doc = pdf["doc_id"].to_numpy()
    block = pdf["page_block"].to_numpy()
    col = pdf["column_number"].to_numpy()
    y1 = pdf["y1"].to_numpy()
    y2 = pdf["y2"].to_numpy()
    mergeable = (pdf["kind"] == "text").to_numpy() & (col != 0)
    cont = np.zeros(n, dtype=bool)
    cont[1:] = (
        mergeable[1:]
        & mergeable[:-1]
        & (doc[1:] == doc[:-1])
        & (block[1:] == block[:-1])
        & (col[1:] == col[:-1])
    )
    is_start = ~cont
    y1l, y2l, contl = y1.tolist(), y2.tolist(), cont.tolist()
    capl = (MERGE_WIDTH_MULTIPLIER * pdf["column_width"].to_numpy()).tolist()
    head_y1 = 0.0
    for i in np.flatnonzero(cont).tolist():
        if not contl[i - 1]:
            head_y1 = y1l[i - 1]
        if not y2l[i] - head_y1 <= capl[i]:
            is_start[i] = True
            head_y1 = y1l[i]
    starts = np.flatnonzero(is_start)
    ends = np.append(starts[1:], n)  # exclusive
    out = {c: pdf[c].to_numpy()[starts] for c in pdf.columns}
    out["x1"] = np.minimum.reduceat(pdf["x1"].to_numpy(), starts)
    out["x2"] = np.maximum.reduceat(pdf["x2"].to_numpy(), starts)
    out["confidence"] = np.maximum.reduceat(pdf["confidence"].to_numpy(), starts)
    texts = pdf["text"].tolist()
    for j in np.flatnonzero(ends - starts > 1).tolist():
        out["text"][j] = "\n\n".join(texts[starts[j] : ends[j]])
    # L9b second y2 adjustment (reference postprocess_bbox re-runs
    # adjust_y2_coordinates after the merge/deletion pass): rows within
    # (doc, block, column) are already in ascending-y1 emit order, so
    # "next row's y1 where the (doc, block, column) key is unchanged"
    # re-closes the gaps the min-height deletions opened.
    y2_o = y2[ends - 1]
    doc_o, blk_o, col_o = out["doc_id"], out["page_block"], out["column_number"]
    same = (doc_o[:-1] == doc_o[1:]) & (blk_o[:-1] == blk_o[1:]) & (col_o[:-1] == col_o[1:])
    y2_o[:-1] = np.where(same, out["y1"][1:], y2_o[:-1])
    out["y2"] = y2_o
    # L10 renumber in-UDF: head emit order within a doc IS ascending old
    # reading_order (both follow (block, column, y1, offset)), so the
    # renumber is the position within the doc's contiguous rows — saves
    # a whole post-merge window sort over wide rows.
    doc_first = np.flatnonzero(np.append(True, doc_o[1:] != doc_o[:-1]))
    doc_len = np.diff(np.append(doc_first, len(starts)))
    out["reading_order"] = np.arange(len(starts)) - np.repeat(doc_first, doc_len) + 1
    merged = pd.DataFrame(out)
    if post_correct:
        # T1 folded into the merge's pandas pass: the text is already in
        # Python here, so normalizing now saves a second full Arrow
        # round-trip of every byte of text through ArrowEvalPython.
        merged["text"] = _post_correct_pd(merged["kind"], merged["text"])
    return merged


def vertical_overlap_pct(y1a, y2a, y1b, y2b):
    """F21 — vertical overlap percentage of two boxes, relative to the
    SMALLER box's height (reference ``bbox_functions.py:424-439``).
    Column-expression helper, usable in joins/filters/windows."""
    overlap = F.least(y2a, y2b) - F.greatest(y1a, y1b)
    min_h = F.least(y2a - y1a, y2b - y1b)
    return F.when(overlap <= 0, F.lit(0.0)).otherwise(overlap / min_h * 100.0)


def merge_overlapping_boxes(boxes: DataFrame) -> DataFrame:
    """G4 — merge consecutive-in-reading-order boxes within (doc, column)
    whose vertical overlap is ≥ 50% of the smaller
    box (reference ``bbox_functions.py:459-505``, legacy pre-text merge).

    The reference's greedy pop-and-scan loop only ever merges PAIRS: a
    merged box keeps min(reading_order), so the next candidate is ≥2
    away and never joins — greedy-from-the-left pairing inside maximal
    runs of consecutively-overlapping boxes.  That is exactly
    gaps-and-islands + position parity, so this is pure window SQL: edge
    = (Δreading_order == 1 ∧ overlap ≥ p) vs the previous row; island =
    cumsum(¬edge); pair = floor(position_in_island / 2); one groupBy
    merges each pair.  No UDF, no extra exchange beyond doc_id
    clustering.  Output matches the reference's merged dict: geometry +
    centers + column + min reading_order (the legacy op drops text)."""
    w = Window.partitionBy("doc_id", "column_number").orderBy("reading_order")
    edge = (
        (F.col("reading_order") - F.lag("reading_order").over(w) == 1)
        & (
            vertical_overlap_pct(
                F.lag("y1").over(w),
                F.lag("y2").over(w),
                F.col("y1"),
                F.col("y2"),
            )
            >= F.lit(50.0)
        )
    )
    df = boxes.withColumn("_edge", F.coalesce(edge, F.lit(False)))
    df = df.withColumn(
        "_island",
        F.sum(F.when(F.col("_edge"), 0).otherwise(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_isl = Window.partitionBy("doc_id", "column_number", "_island").orderBy(
        "reading_order"
    )
    df = df.withColumn("_pair", F.floor((F.row_number().over(w_isl) - 1) / 2))
    merged = (
        df.groupBy("doc_id", "column_number", "_island", "_pair")
        .agg(
            F.min("x1").alias("x1"),
            F.min("y1").alias("y1"),
            F.max("x2").alias("x2"),
            F.max("y2").alias("y2"),
            F.min("reading_order").alias("reading_order"),
        )
        .drop("_island", "_pair")
    )
    return merged.select(
        "doc_id",
        "column_number",
        "reading_order",
        "x1",
        "y1",
        "x2",
        "y2",
        ((F.col("x1") + F.col("x2")) / 2).alias("center_x"),
        ((F.col("y1") + F.col("y2")) / 2).alias("center_y"),
    )


def fill_column_gaps(df: DataFrame) -> DataFrame:
    """G6 — synthesize empty boxes at column heads/tails so every column
    spans the page's content area (reference behavioral contract:
    ``bbox_functions.py:682-786``, eligibility per ``:696-698``: pages
    with >1 column and exactly one block).

    Pure-SQL: per-(doc, column) min/max windows + a union of synthesized
    rows — no UDF, no extra shuffle beyond the existing doc_id clustering.
    Synthesized boxes carry kind='text', empty text; they only affect
    geometry consumers (coverage), not extracted span text.  Not part of
    the default chain (mirrors the reference's per-periodical
    fill_columns flag).

    Relationship to :func:`_fill_gaps_inline` (the ``fill_columns=True``
    chain step): this standalone operator runs AFTER layout on ordered
    boxes and spans columns to their box extents; the inline step runs at
    the reference's chain position (pre-merge) where gap boxes can still
    merge into column text.  Both use the same ``>= MIN_BOX_HEIGHT``
    (10px) boundary."""
    w_doc = Window.partitionBy("doc_id")
    w_col = Window.partitionBy("doc_id", "column_number")
    eligible = (F.max("column_number").over(w_doc) > 1) & (
        F.size(F.collect_set("page_block").over(w_doc)) == 1
    )
    df = (
        df.withColumn("_doc_y1", F.min("y1").over(w_doc))
        .withColumn("_doc_y2", F.max("y2").over(w_doc))
        .withColumn("_col_y1", F.min("y1").over(w_col))
        .withColumn("_col_y2", F.max("y2").over(w_col))
        .withColumn("_col_x1", F.min("x1").over(w_col))
        .withColumn("_col_x2", F.max("x2").over(w_col))
        .withColumn("_first_in_col", F.row_number().over(w_col.orderBy("y1", "offset")) == 1)
        .withColumn("_eligible", eligible)
    )
    base = lambda y1c, y2c: [  # noqa: E731
        F.col("doc_id"),
        F.lit(-1).alias("offset"),
        F.lit("text").alias("kind"),
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.col("_col_x1").alias("x1"),
        y1c.alias("y1"),
        F.col("_col_x2").alias("x2"),
        y2c.alias("y2"),
        F.lit(0.0).alias("confidence"),
        F.col("column_number"),
        F.col("column_width"),
        F.col("page_block"),
        F.col("reading_order"),
        F.format_string(
            "B%dC%dR%dG", F.col("page_block"), F.col("column_number"), F.col("reading_order")
        ).alias("box_page_id"),
    ]
    head_rows = df.filter(
        F.col("_eligible")
        & F.col("_first_in_col")
        & (F.col("column_number") > 0)
        & (F.col("_col_y1") - F.col("_doc_y1") >= MIN_BOX_HEIGHT)
    ).select(*base(F.col("_doc_y1"), F.col("_col_y1")))
    tail_rows = df.filter(
        F.col("_eligible")
        & F.col("_first_in_col")
        & (F.col("column_number") > 0)
        & (F.col("_doc_y2") - F.col("_col_y2") >= MIN_BOX_HEIGHT)
    ).select(*base(F.col("_col_y2"), F.col("_doc_y2")))
    keep = [c for c in df.columns if not c.startswith("_")]
    return df.select(*keep).unionByName(head_rows).unionByName(tail_rows)


def _sorted_frame(
    boxes: DataFrame,
    num_partitions: int | None = None,
    payload: DataFrame | None = None,
    fill_columns: bool = False,
) -> DataFrame:
    """Shared stage-2 prefix: doc_id exchange → narrow geometry windows →
    payload re-attach → merge-order sort.

    Narrow-row discipline (the 100 TB shuffle-sort lever): the window
    chain sorts its input 4–5 times with different orderings, so the text
    payload (10–50× the geometry bytes) is projected OUT before the first
    window and re-attached ONCE afterwards via a per-doc offset→payload
    map — the windows sort ~100-byte geometry rows, and text bytes cross
    the wire exactly once (the map join's exchange).

    ``payload``: optional pre-built (doc_id, _payload map<offset,
    (text, media_ref)>) frame (see :func:`..geometry.docs_payload`) —
    the production path, where boxes are the narrow GEO_BOX_SCHEMA and
    text never flowed through the geometry UDF at all.  When omitted,
    the payload map is derived from the boxes frame itself (one
    doc_id-clustered groupBy, no extra exchange)."""
    n = num_partitions or boxes.sparkSession.sparkContext.defaultParallelism
    boxes = boxes.repartition(n, "doc_id")
    if payload is None:
        payload_map = (
            boxes.select("doc_id", "offset", "text", "media_ref")
            .groupBy("doc_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("offset", F.struct("text", "media_ref")))
                ).alias("_payload")
            )
        )
        geo = boxes.drop("text", "media_ref")
    else:
        payload_map = payload
        geo = boxes
    geo = _abandon_and_print_area(geo)
    geo = _columns_native(geo)
    geo = _blocks_dedup_order(geo)
    if fill_columns:
        geo = _fill_gaps_inline(geo)
    geo = _min_height_filter(geo)
    entry = "element_at(_payload, `offset`)"
    df = _layer(
        geo.join(payload_map, "doc_id"),
        # synthesized gap boxes (offset -1) have no payload entry → empty text
        {"text": f"coalesce({entry}.text, '')", "media_ref": f"{entry}.media_ref"},
    )
    # the merge's input columns, in ORDERED_BOX_SCHEMA order
    df = df.selectExpr(*(f"`{f.split()[0]}`" for f in ORDERED_BOX_SCHEMA.split(", ")))
    # sort keys match the preceding window's physical order exactly
    # ((doc, block, column, y1, offset) ≡ reading_order order within the
    # group), so Catalyst elides most of this sort; SQL-string keys build
    # with fewer py4j round trips than column names
    return df.sortWithinPartitions(
        *(F.expr(f"`{c}`") for c in ("doc_id", "page_block", "column_number", "y1", "offset"))
    )


def layout(
    boxes: DataFrame,
    num_partitions: int | None = None,
    payload: DataFrame | None = None,
    post_correct: bool = False,
    fill_columns: bool = False,
) -> DataFrame:
    """Full stage 2: boxes → ordered boxes with reading_order.

    ``num_partitions`` forces the single doc_id exchange width (skew knob;
    AQE may coalesce).  See :func:`_sorted_frame` for the narrow-row
    window design; ``post_correct=True`` folds the T1 OCR normalization
    into the merge UDF's pandas pass (one Arrow text round-trip).
    ``fill_columns=True`` runs the reference's default in-chain column
    gap fill (``postprocess_bbox(fill_columns=True)``) — the pipeline
    entry points in :mod:`..plans.pipeline` default it ON to match the
    reference; this operator-level default stays False so callers
    composing stages opt in explicitly (the per-periodical shape of
    ``result_section.py:89-92``).  Gap boxes carry empty text, so
    extracted SPANS are identical either way (T2 drops empty parts),
    only box geometry consumers differ."""
    merged = _sorted_frame(boxes, num_partitions, payload, fill_columns).mapInPandas(
        lambda batches: doc_complete_stream(
            batches, lambda pdf: _merge_frame(pdf, post_correct)
        ),
        schema=ORDERED_BOX_SCHEMA,
    )
    return merged.withColumn(
        "box_page_id",
        F.format_string(
            "B%dC%dR%d", F.col("page_block"), F.col("column_number"), F.col("reading_order")
        ),
    )


SPAN_SCHEMA = "doc_id string, kind string, text string, media_ref string, order int"


def layout_extract_spans(
    boxes: DataFrame,
    num_partitions: int | None = None,
    payload: DataFrame | None = None,
    fill_columns: bool = False,
) -> DataFrame:
    """Fused production plan: the SAME sorted stream the box merge uses,
    with merge → OCR post-correct → paragraph split → title reclass/merge
    → final ordering all inside ONE per-doc vectorized pandas pass
    (:func:`..articles.spans_frame_pd`), so the article stage adds no JVM
    sort, explode or second Arrow round-trip.  Its span sequences are
    pinned to :func:`..oracle.extract` by tests/test_e2e_extraction.py."""
    return _sorted_frame(boxes, num_partitions, payload, fill_columns).mapInPandas(
        lambda batches: doc_complete_stream(batches, _fold_spans), schema=SPAN_SCHEMA
    )


def _fold_spans(pdf: pd.DataFrame) -> pd.DataFrame:
    """The fused fold over one doc-complete batch of the sorted stream:
    box merge with T1 post-correct, then T2–T5 (:data:`SPAN_SCHEMA` rows)."""
    return spans_frame_pd(_merge_frame(pdf, post_correct=True))
