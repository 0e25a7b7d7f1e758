"""Stage 3 — OCR post-correction, paragraph split, title merge, article /
span-sequence construction.

The reference implements this stage as pandas loops + ProcessPool
batches (``function_modules/analysis_functions.py:229-476``).  Here T1–T5
(post-correct, paragraph split, title reclass, title merge, final order)
run over one doc-complete Arrow batch inside the layout stage's box-merge
UDF, so the text crosses the Arrow boundary once.  Each string is
visited once, by plain ``str`` code (:mod:`..functions.text`): T1 is one
list pass over the boxes (:func:`_post_correct_pd`), T2–T5 one loop over
the paragraphs that emits the spans in order (:func:`spans_frame_pd`).
:func:`..oracle.text_stage` is their spec.  Re-nesting and article
grouping (:func:`nest_spans`, :func:`build_articles`) are native
aggregations over the flat spans.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import is_title, normalize_text, strip_fences


def _post_correct_pd(kind: pd.Series, text: pd.Series) -> pd.Series:
    """T1: fence-strip tables, normalize everything else (figures pass
    through untouched — their text is empty; a null text reads as "")."""
    return pd.Series(
        [
            t if k == "figure" else strip_fences(t or "") if k == "table"
            else normalize_text(t or "")
            for k, t in zip(kind.tolist(), text.tolist())
        ],
        index=text.index,
        dtype=object,
    )


def spans_frame_pd(pdf: pd.DataFrame) -> pd.DataFrame:
    """T2–T5 (paragraph split, title reclass, title merge, final 1-based
    order) over ONE batch of merged, post-corrected, reading_order-sorted
    boxes (doc-complete).

    One pass over the boxes emits the spans in order: a text or title box
    yields its stripped non-empty paragraphs, any other box itself.  A
    title paragraph that follows a title span of the same doc joins that
    span's run, and each run is joined with "\\n" once, at the end.

    Semantics are pinned to :func:`..oracle.text_stage`
    (tests/test_e2e_extraction.py asserts per-document span-sequence
    equality); the production plan runs this inside the layout merge UDF
    so the article stage costs zero extra JVM sorts, explodes, or Arrow
    trips."""
    docs: list = []
    kinds: list = []
    texts: list = []
    media: list = []
    runs: list[tuple[int, list[str]]] = []  # (span index, title paragraphs)
    for d, k, t, m in zip(
        pdf["doc_id"].tolist(),
        pdf["kind"].tolist(),
        pdf["text"].tolist(),
        pdf["media_ref"].tolist(),
    ):
        if k != "text" and k != "title":
            docs.append(d)
            kinds.append(k)
            texts.append(t)
            media.append(m)
            continue
        for p in t.split("\n\n") if t else ():
            p = p.strip()
            if not p:
                continue
            if k == "title" or is_title(p):
                if kinds and kinds[-1] == "title" and docs[-1] == d:
                    runs[-1][1].append(p)
                    continue
                runs.append((len(texts), [p]))
                k_out = "title"
            else:
                k_out = "text"
            docs.append(d)
            kinds.append(k_out)
            texts.append(p)
            media.append(m)
    for i, paras in runs:
        if len(paras) > 1:
            texts[i] = "\n".join(paras)
    df = pd.DataFrame(
        {"doc_id": docs, "kind": kinds, "text": texts, "media_ref": media}, dtype=object
    )
    df["order"] = (df.groupby("doc_id", sort=False).cumcount() + 1).astype("int32")
    return df


def nest_spans(flat: DataFrame) -> DataFrame:
    """Re-nest to extracted(doc_id, spans array<struct<kind,text,
    media_ref,order>>) ordered by span order."""
    return flat.groupBy("doc_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(`order`, kind, text, media_ref))), "
            "s -> struct(s.kind AS kind, s.text AS text, s.media_ref AS media_ref, "
            "s.`order` AS `order`)) AS spans"
        )
    )


def build_articles(flat: DataFrame) -> DataFrame:
    """Secondary output: title + following spans grouped into articles
    (reference contract: ``analysis_functions.py:369-476``)."""
    w = Window.partitionBy("doc_id").orderBy("order")
    df = flat.withColumn(
        "article_id",
        F.sum(F.when(F.col("kind") == "title", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    body = F.when(F.col("kind").isin("text", "table"), F.struct("order", "text"))
    return (
        df.groupBy("doc_id", "article_id")
        .agg(
            F.max(F.when(F.col("kind") == "title", F.col("text"))).alias("title"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(body)), lambda s: s["text"]
                ),
                "\n\n",
            ).alias("content"),
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("media_ref").isNotNull(),
                            F.struct("order", "media_ref"),
                        )
                    )
                ),
                lambda s: s["media_ref"],
            ).alias("media_refs"),
            F.count("*").cast("int").alias("n_spans"),
        )
    )
