"""Unfused reference forms of fused production operators.  Tests
check each production operator against its spec here row for row.

- ``lsh_band_signatures(minhash_signatures(sh))`` is the composed form
  of ``dedup.band_signatures``.
- ``range_point_join`` + groupBy is the pair-materialising form of
  ``temporal.range_point_prefix_agg``.
- ``text_tiling_hof`` is the declarative higher-order-function form of
  ``textstats.text_tiling`` (a fused ``mapInPandas`` in production).
- ``articles`` is the pandas form of ``articles.build_articles`` over
  span rows (doc_id, kind, text, media_ref, order).
- ``cer`` is the whole-document form of ``metrics.cer_spans``: with
  one span per document on both sides the two agree.
- ``cer_summary`` is the median/mean CER roll-up of a CER frame."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.dedup import BAND_ROWS, N_HASHES


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, seed, minhash): min over shingles of md5(seed|shingle)."""
    return (
        sh.select(
            "doc_id",
            "shingle",
            F.explode(F.sequence(F.lit(0), F.lit(N_HASHES - 1))).alias("seed"),
        )
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("shingle")))
            ).alias("mh")
        )
    )


def lsh_band_signatures(sig: DataFrame) -> DataFrame:
    """Fold minhash rows into per-band signatures (doc_id, band, band_sig)."""
    banded = sig.withColumn("band", F.expr(f"seed div {BAND_ROWS}"))
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
    )
    return banded.groupBy("doc_id", "band").agg(
        F.md5(F.array_join(ordered, ",")).alias("band_sig")
    )


def range_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """All (interval row, point row) pairs with ``start <= ts < end``,
    no equi-key.  Both sides bucketed to ``bucket_seconds``-wide epochs
    so the candidate join is a bounded bucket equi-join (a point
    occupies exactly one bucket, so every pair comes out once).
    Returns intervals' columns + points' columns; callers aggregate on
    top.  Column names must not collide."""
    b = F.lit(int(bucket_seconds)).cast("long")
    iv = intervals.withColumn(
        "__rng_bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)) / b).cast("long"),
                # end is exclusive; a point in the end-instant bucket can
                # still precede it, so include that bucket
                (F.unix_timestamp(F.col(end_col)) / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "__rng_bucket", (F.unix_timestamp(F.col(ts_col)) / b).cast("long")
    )
    joined = iv.join(pt, "__rng_bucket").filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return joined.drop("__rng_bucket")


def cer(predictions: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Character error rate per document: levenshtein(gt, pred)/len(gt)
    over normalized lowercase text; native expressions only."""
    norm = lambda c: F.lower(F.regexp_replace(c, r"\s+", " "))  # noqa: E731
    joined = predictions.alias("p").join(ground_truth.alias("g"), "doc_id", "inner")
    gt = norm(F.col("g.text"))
    pred = norm(F.col("p.text"))
    return joined.select(
        "doc_id",
        F.round(F.levenshtein(gt, pred).cast("double") / F.length(gt), 6).alias("cer"),
        F.length(gt).cast("long").alias("gt_len"),
    )


def cer_summary(cer_df: DataFrame) -> DataFrame:
    return cer_df.agg(
        F.round(F.expr("percentile(cer, 0.5)"), 6).alias("median_cer"),
        F.round(F.avg("cer"), 6).alias("mean_cer"),
        F.count("*").alias("n_docs"),
    )


def text_tiling_hof(documents: DataFrame, block_tokens: int) -> DataFrame:
    """``textstats.text_tiling`` as nested JVM higher-order functions
    over the token array: per gap, the two blocks' term counts, dot
    product and squared norms in exact int64, the boundary rule
    ``4·dot² < Σl²·Σr²`` and ``floor(dot²·1e9 / (Σl²·Σr²))`` ppb."""
    w = block_tokens
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    n_blocks = F.ceil(n_tokens / F.lit(w)).cast("int")

    def _cnt(arr, t):
        return F.size(F.filter(arr, lambda e: e == t)).cast("long")

    def _gap(g):
        left = F.slice(tokens, (g - 1) * w + 1, w)
        right = F.slice(tokens, g * w + 1, w)
        dot = F.aggregate(
            F.array_distinct(left),
            F.lit(0).cast("long"),
            lambda acc, t: acc + _cnt(left, t) * _cnt(right, t),
        )
        ss_l = F.aggregate(
            F.array_distinct(left),
            F.lit(0).cast("long"),
            lambda acc, t: acc + _cnt(left, t) * _cnt(left, t),
        )
        ss_r = F.aggregate(
            F.array_distinct(right),
            F.lit(0).cast("long"),
            lambda acc, t: acc + _cnt(right, t) * _cnt(right, t),
        )
        sim2_ppb = F.floor(
            (dot * dot * F.lit(1_000_000_000)).cast("double") / (ss_l * ss_r)
        ).cast("long")
        return F.struct(
            g.cast("int").alias("gap"),
            sim2_ppb.alias("sim2_ppb"),
            (4 * dot * dot < ss_l * ss_r).alias("boundary"),
        )

    gaps = F.when(
        n_blocks >= 2,
        F.transform(F.sequence(F.lit(1), n_blocks - 1), _gap),
    ).otherwise(
        F.array().cast(
            "array<struct<gap:int,sim2_ppb:bigint,boundary:boolean>>"
        )
    )
    bounds = F.filter(gaps, lambda s: s["boundary"])
    return documents.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        n_blocks.alias("n_blocks"),
        F.size(bounds).alias("n_boundaries"),
        (F.size(bounds) + 1).alias("n_segments"),
        F.array_join(
            F.transform(bounds, lambda s: s["gap"].cast("string")), ","
        ).alias("boundaries"),
        F.array_join(
            F.transform(gaps, lambda s: s["sim2_ppb"].cast("string")), ","
        ).alias("gap_sims_ppb"),
    )


def articles(spans: pd.DataFrame) -> pd.DataFrame:
    """Group each title and the spans that follow it into one article."""
    df = spans.sort_values(["doc_id", "order"]).copy()
    is_t = df["kind"] == "title"
    df["article_id"] = is_t.astype(int).groupby(df["doc_id"]).cumsum()
    rows = []
    for (doc_id, aid), g in df.groupby(["doc_id", "article_id"], sort=True):
        title = g.loc[g["kind"] == "title", "text"]
        content = g.loc[g["kind"].isin(["text", "table"]), "text"]
        media = [m for m in g["media_ref"] if m]
        rows.append(
            {
                "doc_id": doc_id,
                "article_id": int(aid),
                "title": title.iloc[0] if len(title) else None,
                "content": "\n\n".join(content),
                "media_refs": media,
                "n_spans": len(g),
            }
        )
    return pd.DataFrame.from_records(rows)
