"""Unfused reference forms of fused production operators.  Tests
check each production operator against its spec here row for row.

- ``lsh_band_signatures(minhash_signatures(sh))`` is the composed form
  of ``dedup.band_signatures``.
- ``range_point_join`` + groupBy is the pair-materialising form of
  ``temporal.range_point_prefix_agg``.
- ``cer_summary`` is the median/mean CER roll-up of a ``metrics.cer``
  frame."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.dedup import BAND_ROWS, N_HASHES


def minhash_signatures(sh: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, seed, minhash): min over shingles of md5(seed|shingle)."""
    return (
        sh.select(
            "doc_id",
            "shingle",
            F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed"),
        )
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("shingle")))
            ).alias("mh")
        )
    )


def lsh_band_signatures(sig: DataFrame, band_rows: int = BAND_ROWS) -> DataFrame:
    """Fold minhash rows into per-band signatures (doc_id, band, band_sig)."""
    banded = sig.withColumn("band", F.expr(f"seed div {band_rows}"))
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


def cer_summary(cer_df: DataFrame) -> DataFrame:
    return cer_df.agg(
        F.round(F.expr("percentile(cer, 0.5)"), 6).alias("median_cer"),
        F.round(F.avg("cer"), 6).alias("mean_cer"),
        F.count("*").alias("n_docs"),
    )
