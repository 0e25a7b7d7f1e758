"""In-process timing of the per-doc fold, phase by phase.

Builds one seed's ``batch_extract`` corpus exactly as the benchmark does
(``perfbench/inputs.doc_rows``), collects the layout stage's sorted box
stream (``layout._sorted_frame``, the fold's input) once through Spark,
then stops Spark and times the fold's three phases in this process, with
no JVM, Arrow or scheduler cost in the figure:

- ``merge``: the L9 box merge (``layout._merge_frame``),
- ``post_correct``: the T1 text rules (``articles._post_correct_pd``),
- ``split``: paragraph split, title reclass and merge, final order
  (``articles.spans_frame_pd``).

The stream is cut into batches of the session's
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows and re-chunked at
doc boundaries by ``execution.doc_complete_stream``, as in the worker.
The spans of the timed phases are checked against the production
per-batch callable (``layout._fold_spans``) before anything is printed.
Prints one JSON line: the median over ``REPEATS`` runs of each phase in
ms per doc, plus the row counts each phase produced.

Usage: python scripts/fold_probe.py [--seed 1]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

from inputs import doc_rows, seed_tag  # noqa: E402
from workloads import BATCH_DOCS, NUM_PARTITIONS  # noqa: E402

REPEATS = 5


def sorted_frame(seed: int):
    """The fold's input for the seed's corpus, collected once, and the
    session's Arrow batch size in rows."""
    from reading_the_unreadable_spark.operators.geometry import (
        docs_payload,
        docs_to_geo_boxes,
    )
    from reading_the_unreadable_spark.operators.layout import _sorted_frame
    from reading_the_unreadable_spark.session import get_spark
    from reading_the_unreadable_spark.sources.docs import docs_from_rows

    spark = get_spark("fold_probe", cpus=4, shuffle_partitions=NUM_PARTITIONS)
    try:
        docs = docs_from_rows(spark, doc_rows(seed_tag(seed), 0, BATCH_DOCS))
        frame = _sorted_frame(
            docs_to_geo_boxes(docs, num_partitions=NUM_PARTITIONS),
            NUM_PARTITIONS,
            payload=docs_payload(docs),
            fill_columns=True,
        ).toPandas()
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    finally:
        spark.stop()
    return frame, batch_rows


def batches(frame, batch_rows: int):
    """The stream as the worker receives it: fixed-size Arrow batches."""
    return (
        frame.iloc[i : i + batch_rows].reset_index(drop=True)
        for i in range(0, len(frame), batch_rows)
    )


def fold_once(frame, batch_rows: int):
    """Seconds spent in each phase, rows out of each, and the spans, over
    one pass."""
    from reading_the_unreadable_spark.execution import doc_complete_stream
    from reading_the_unreadable_spark.operators.articles import (
        _post_correct_pd,
        spans_frame_pd,
    )
    from reading_the_unreadable_spark.operators.layout import _merge_frame

    secs = {"merge": 0.0, "post_correct": 0.0, "split": 0.0}
    rows = {"merged_boxes": 0, "spans": 0}

    def fold(pdf):
        t0 = time.perf_counter()
        merged = _merge_frame(pdf)
        t1 = time.perf_counter()
        merged["text"] = _post_correct_pd(merged["kind"], merged["text"])
        t2 = time.perf_counter()
        spans = spans_frame_pd(merged)
        t3 = time.perf_counter()
        secs["merge"] += t1 - t0
        secs["post_correct"] += t2 - t1
        secs["split"] += t3 - t2
        rows["merged_boxes"] += len(merged)
        rows["spans"] += len(spans)
        return spans

    spans = pd.concat(
        list(doc_complete_stream(batches(frame, batch_rows), fold)), ignore_index=True
    )
    return secs, rows, spans


def main(argv=None) -> int:
    from reading_the_unreadable_spark.execution import doc_complete_stream
    from reading_the_unreadable_spark.operators.layout import _fold_spans

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    frame, batch_rows = sorted_frame(args.seed)
    runs = [fold_once(frame, batch_rows) for _ in range(REPEATS)]
    # the phases timed here must be the production fold, or the figure
    # measures something else
    production = pd.concat(
        list(doc_complete_stream(batches(frame, batch_rows), _fold_spans)),
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(runs[0][2], production)

    out = {"seed": args.seed, "docs": BATCH_DOCS, "boxes_in": len(frame), **runs[0][1]}
    for phase in ("merge", "post_correct", "split"):
        out[f"{phase}_ms_per_doc"] = round(
            statistics.median(r[0][phase] for r in runs) * 1000.0 / BATCH_DOCS, 4
        )
    out["fold_ms_per_doc"] = round(
        statistics.median(sum(r[0].values()) for r in runs) * 1000.0 / BATCH_DOCS, 4
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
