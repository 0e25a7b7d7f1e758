"""End-to-end extraction plan: docs → ordered boxes → extracted spans.

One logical plan, lazily composed; Catalyst sees the whole chain, so
column pruning / filter pushdown / exchange reuse apply across stages.
The only exchanges in the physical plan are (1) the explicit repartition
on doc_id feeding the layout windows (width = the skew knob) and (2) the
final re-nest groupBy — everything in between reuses partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.articles import nest_spans
from ..operators.geometry import docs_payload, docs_to_geo_boxes
from ..operators.layout import layout_extract_spans


def extract(
    docs: DataFrame,
    num_partitions: int | None = None,
    fill_columns: bool = True,
) -> DataFrame:
    """docs(doc_id, spans) → flat extracted spans (doc_id, kind, text,
    media_ref, order).

    The geometry branch is round-robin repartitioned first: a docs table
    of many small files would otherwise be packed into a handful of scan
    splits, serializing the per-doc geometry stage.  Text/media travel on
    the separate native payload branch (one row per doc, joined back by
    doc_id after the layout windows) — they never enter the geometry UDF
    and are never sorted by the window chain.  The article stage (OCR
    post-correct, paragraph split, title merge, final ordering) runs
    fused inside the box-merge UDF's per-doc pandas pass
    (:func:`..operators.layout.layout_extract_spans`); its spec is
    :func:`..oracle.extract`.

    ``fill_columns`` defaults to True — the REFERENCE pipeline default
    (``function_modules/pipeline.py:92``).  Span output is identical
    either way (gap boxes carry empty text, which the paragraph split
    drops — asserted by the extract_spans_filled oracle); only box
    GEOMETRY consumers see the synthesized gap boxes.  Pass False to
    replay the per-periodical usage in ``result_section.py:89-92``."""
    boxes = docs_to_geo_boxes(docs, num_partitions=num_partitions)
    return layout_extract_spans(
        boxes,
        num_partitions=num_partitions,
        payload=docs_payload(docs),
        fill_columns=fill_columns,
    )


def extract_from_boxes(
    boxes: DataFrame,
    num_partitions: int | None = None,
    fill_columns: bool = True,
) -> DataFrame:
    """Extraction over a boxes frame that already carries geometry
    (production shape: layout-model output lands next to the spans;
    also the deterministic documents-table adapter).  Skips only the
    geometry-attach stage — layout analysis, reading order, OCR
    post-correction, and span construction are the same operators."""
    return layout_extract_spans(
        boxes, num_partitions=num_partitions, fill_columns=fill_columns
    )


def extract_nested(
    docs: DataFrame,
    num_partitions: int | None = None,
    fill_columns: bool = True,
) -> DataFrame:
    """docs → extracted(doc_id, spans<kind,text,media_ref,order>)."""
    return nest_spans(
        extract(docs, num_partitions=num_partitions, fill_columns=fill_columns)
    )


