"""Segment reassembly ("knitting") — the LM-response recombination path.

Behavioral contract from the reference (reimplemented from scratch):
``custom_id`` decomposition (``send_to_lm_functions.py:1357-1389``, here
vectorized regexp_extract), per-box token sums + segment counts + ordered
longest-common-substring knitting of overlapping segment texts
(``send_to_lm_functions.py:122-183, 280-336``).

Plan shape: one shuffle (groupBy box key) with native partial aggregation
for the sums; the knit fold itself is a scalar pandas UDF over the
sort_array'd collected segments (Arrow-batched; the fold is inherently
sequential per box, and boxes have ≤20 segments).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import knit_string_list

CUSTOM_ID_RE = r"^(.*)_page_(\d+)_([^_]+)_B(\d+)C(\d+)R(\d+)_segment_(\d+)$"


@F.pandas_udf(T.StringType())
def _knit_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda seq: knit_string_list(list(seq)))


def decompose_custom_id(df: DataFrame) -> DataFrame:
    """custom_id → (issue_id, page_number, class, block, column,
    reading_order, segment) — all native regexp_extract."""
    cid = F.col("custom_id")
    return (
        df.withColumn("issue_id", F.regexp_extract(cid, CUSTOM_ID_RE, 1))
        .withColumn("page_number", F.regexp_extract(cid, CUSTOM_ID_RE, 2).cast("int"))
        .withColumn("class", F.regexp_extract(cid, CUSTOM_ID_RE, 3))
        .withColumn("block", F.regexp_extract(cid, CUSTOM_ID_RE, 4).cast("int"))
        .withColumn("column", F.regexp_extract(cid, CUSTOM_ID_RE, 5).cast("int"))
        .withColumn("reading_order", F.regexp_extract(cid, CUSTOM_ID_RE, 6).cast("int"))
        .withColumn("segment", F.regexp_extract(cid, CUSTOM_ID_RE, 7).cast("int"))
        .withColumn(
            "page_id",
            F.concat(F.col("issue_id"), F.lit("_page_"), F.col("page_number")),
        )
        .withColumn(
            "box_page_id",
            F.format_string("B%dC%dR%d", "block", "column", "reading_order"),
        )
    )


def combine_segments(segments: DataFrame) -> DataFrame:
    """ocr_segments(custom_id, content, *_tokens) → one row per box with
    knitted content, token sums, and segment count."""
    df = decompose_custom_id(segments)
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("segment", "content"))),
        lambda s: s["content"],
    )
    return df.groupBy(
        "page_id", "issue_id", "page_number", "class", "block", "column",
        "reading_order", "box_page_id",
    ).agg(
        F.sum("prompt_tokens").alias("prompt_tokens"),
        F.sum("completion_tokens").alias("completion_tokens"),
        F.sum("total_tokens").alias("total_tokens"),
        F.count("*").alias("segment_count"),
        _knit_udf(ordered).alias("content"),
    )


def reclassify_long_titles(boxes: DataFrame) -> DataFrame:
    """Post-OCR title→text reclassification: a 'title' whose completion
    used more than 50 tokens is body text (reference
    contract: ``pipeline_stages.py:394-398``)."""
    return boxes.withColumn(
        "class",
        F.when(
            (F.col("class") == "title") & (F.col("completion_tokens") > 50),
            "text",
        ).otherwise(F.col("class")),
    )
