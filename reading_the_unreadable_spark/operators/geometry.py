"""Stage 1 — span→box frame: explode docs.spans + attach derived geometry.

Implemented as a single ``mapInPandas`` (Arrow-batched iterator UDF): each
doc row already holds all of its spans, so the explode+geometry attach is
embarrassingly parallel and needs **zero shuffle**.  Geometry is re-derived
deterministically from ``doc_id`` (see :mod:`..synth`) — in a production
deployment these columns would arrive from the upstream layout model
(reference behavior: ``function_modules/pipeline_stages.py:127-137``).

Two shapes:

- :func:`docs_to_boxes` — full rows (text + media_ref through Arrow),
  for consumers that want a self-contained boxes frame.
- :func:`docs_to_geo_boxes` + :func:`docs_payload` — the production
  split: the Arrow stage sees ONLY (doc_id, offset, kind) and emits
  ~100-byte geometry rows, while text/media travel as a native per-doc
  offset→payload map that the layout stage joins back exactly once,
  after all its window sorts.  Text bytes never enter Python and are
  never sorted by the window chain.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..synth import page_arrays

BOX_SCHEMA = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "x1 double, y1 double, x2 double, y2 double, confidence double"
)

GEO_BOX_SCHEMA = (
    "doc_id string, offset int, kind string, "
    "x1 double, y1 double, x2 double, y2 double, confidence double"
)


def _attach_geo(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Explode each batch's docs to one row per span and look up its
    geometry (:data:`GEO_BOX_SCHEMA`).  Column accumulators run across
    ALL docs in a batch: one DataFrame build per Arrow batch, not per doc
    (the per-doc constructor cost dominated)."""
    for pdf in batches:
        doc_ids: list[str] = []
        offsets: list[np.ndarray] = []
        kinds: list[str] = []
        geo_cols: dict[str, list[np.ndarray]] = {
            c: [] for c in ("x1", "y1", "x2", "y2", "confidence")
        }
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            geo = page_arrays(doc_id)
            span_offsets = np.fromiter(
                (s["offset"] for s in spans), dtype=np.int32, count=len(spans)
            )
            idx = np.searchsorted(geo["offset"], span_offsets)
            doc_ids.extend([doc_id] * len(spans))
            offsets.append(span_offsets)
            kinds.extend(s["kind"] for s in spans)
            for c in geo_cols:
                geo_cols[c].append(geo[c][idx])
        if doc_ids:
            out = {
                "doc_id": doc_ids,
                "offset": np.concatenate(offsets),
                "kind": kinds,
            }
            for c, chunks in geo_cols.items():
                out[c] = np.concatenate(chunks)
            yield pd.DataFrame(out)


def _attach_boxes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """:func:`_attach_geo` plus each span's text and media_ref
    (:data:`BOX_SCHEMA`); rows come out in span order per doc."""
    for pdf in batches:
        for out in _attach_geo([pdf]):
            spans = [s for doc_spans in pdf["spans"] for s in doc_spans]
            out.insert(3, "text", [s["text"] if s["text"] is not None else "" for s in spans])
            out.insert(4, "media_ref", [s["media_ref"] for s in spans])
            yield out


def docs_to_boxes(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → one row per span with bbox geometry, text
    and media_ref."""
    return docs.mapInPandas(_attach_boxes, schema=BOX_SCHEMA)


def docs_to_geo_boxes(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """docs(doc_id, spans) → narrow geometry rows; the nested projection
    below prunes span text/media BEFORE the Arrow boundary, so the Python
    stage transfers and touches only ints + kind strings.

    ``num_partitions`` round-robin rebalances the SLIM projection (a
    docs table of few files would serialize the Python stage) — the
    rebalance shuffles only (doc_id, offsets, kinds), never text."""
    slim = docs.selectExpr(
        "doc_id",
        "transform(spans, s -> struct(s.`offset` AS `offset`, s.kind AS kind)) AS spans",
    )
    if num_partitions:
        slim = slim.repartition(num_partitions)
    return slim.mapInPandas(_attach_geo, schema=GEO_BOX_SCHEMA)


def docs_payload(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → (doc_id, _payload map<offset, (text,
    media_ref)>) — a pure native projection (zero Python, zero shuffle);
    the layout stage joins it back by doc_id after its window sorts."""
    return docs.selectExpr(
        "doc_id",
        "map_from_entries(transform(spans, s -> struct(s.`offset` AS `offset`, "
        "struct(s.text AS text, s.media_ref AS media_ref) AS payload))) AS _payload",
    )
