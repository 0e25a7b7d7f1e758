"""Stage 3 — OCR post-correction, paragraph split, title merge, article /
span-sequence construction.

The reference implements this stage as pandas loops + ProcessPool
batches (``function_modules/analysis_functions.py:229-476``).  Here T1–T5
(post-correct, paragraph split, title reclass, title merge, final order)
are vectorized pandas over one doc-complete Arrow batch
(:func:`_post_correct_pd` + :func:`spans_frame_pd`), run inside the
layout stage's box-merge UDF, so the text crosses the Arrow boundary
once.  :func:`..oracle.text_stage` is their spec.  Re-nesting and
article grouping (:func:`nest_spans`, :func:`build_articles`) are native
aggregations over the flat spans.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import is_title_pd, normalize_text_pd, strip_fences_pd


def _post_correct_pd(kind: pd.Series, text: pd.Series) -> pd.Series:
    """T1: fence-strip tables, normalize everything else (figures pass
    through untouched — their text is empty); vectorized over one Arrow
    batch."""
    out = text.copy()
    is_table = kind == "table"
    is_norm = ~is_table & (kind != "figure")
    if is_table.any():
        out[is_table] = strip_fences_pd(text[is_table])
    if is_norm.any():
        out[is_norm] = normalize_text_pd(text[is_norm])
    return out


def spans_frame_pd(pdf: pd.DataFrame) -> pd.DataFrame:
    """T2–T5 (paragraph split, title reclass, title merge, final 1-based
    order) over ONE batch of merged, post-corrected, reading_order-sorted
    boxes (doc-complete).

    Semantics are pinned to :func:`..oracle.text_stage`
    (tests/test_e2e_extraction.py asserts per-document span-sequence
    equality); the production plan runs this inside the layout merge UDF
    so the article stage costs zero extra JVM sorts, explodes, or Arrow
    trips."""
    import numpy as np

    df = pdf[["doc_id", "kind", "text", "media_ref", "reading_order"]].reset_index(
        drop=True
    )
    sp = df["kind"].isin(("text", "title"))
    plist = pd.Series(
        np.where(sp, df["text"].str.split("\n\n"), df["text"].map(lambda t: [t])),
        index=df.index,
    )
    df = df.assign(_parts=plist, _sp=sp).explode("_parts")
    df["sub_order"] = df.groupby(level=0).cumcount()
    stripped = df["_parts"].str.strip()
    df["text"] = stripped.where(df["_sp"], df["_parts"])
    df = df[~df["_sp"] | (df["text"].str.len() > 0)]
    reclass = (df["kind"] == "text") & is_title_pd(df["text"])
    if reclass.any():
        df = df.copy()
        df.loc[reclass, "kind"] = "title"
    df = df.reset_index(drop=True)
    new_run = df["doc_id"].ne(df["doc_id"].shift()) | df["kind"].ne(df["kind"].shift())
    run = new_run.cumsum()
    is_title_row = (df["kind"] == "title").to_numpy()
    if is_title_row.any():
        joined = df.loc[is_title_row].groupby(run[is_title_row])["text"].agg("\n".join)
        first_of_run = (~run.duplicated()).to_numpy()
        df = df.copy()
        head = is_title_row & first_of_run
        df.loc[head, "text"] = run[head].map(joined).to_numpy()
        df = df[~is_title_row | first_of_run].reset_index(drop=True)
    df["order"] = (df.groupby("doc_id", sort=False).cumcount() + 1).astype("int32")
    return df[["doc_id", "kind", "text", "media_ref", "order"]]


def nest_spans(flat: DataFrame) -> DataFrame:
    """Re-nest to extracted(doc_id, spans array<struct<kind,text,
    media_ref,order>>) ordered by span order."""
    sortable = F.sort_array(
        F.collect_list(F.struct("order", "kind", "text", "media_ref"))
    )
    spans = F.transform(
        sortable,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["order"].alias("order"),
        ),
    )
    return flat.groupBy("doc_id").agg(spans.alias("spans"))


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
