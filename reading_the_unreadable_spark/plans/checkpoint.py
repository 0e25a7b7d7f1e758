"""Checkpoint / resume / lineage for the extraction pipeline.

The unit of resume is a **bucket**: ``pmod(hash(doc_id), n_buckets)`` —
stable under re-runs and independent of file layout.  A job:

1. reads the checkpoint table and LEFT ANTI-joins the docs table on
   bucket (reference behavior being generalized: the skip-if-logged
   resume of ``send_to_lm_functions.py:991-1001, 1179-1190`` — here as a
   relational anti-join instead of file-existence probes);
2. extracts only the remaining buckets;
3. appends output parquet partitioned by bucket (a killed job's partial
   bucket directory is overwritten on retry via dynamic partition
   overwrite, so outputs stay exactly-once per bucket);
4. appends one lineage row per completed bucket to the checkpoint table:
   (stage, bucket, doc_count, span_count, wall_ms, docs_per_sec, job_id,
   ts) — also for a bucket whose docs produced no output (counts 0), so
   it is never retried forever.

``max_buckets`` caps how many buckets a run processes — the fault-
injection hook the kill/resume test uses.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..execution import exists, fs_path, list_names
from ..operators.articles import nest_spans
from .pipeline import extract

CHECKPOINT_SCHEMA = (
    "stage string, bucket int, doc_count long, span_count long, "
    "wall_ms long, docs_per_sec double, job_id string, ts string"
)
# the stage every lineage row records; existing checkpoint tables hold it
STAGE = "extract"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        "bucket", F.pmod(F.hash("doc_id"), F.lit(n_buckets)).cast("int")
    )


def read_checkpoints(spark: SparkSession, ckpt_path: str) -> DataFrame:
    """Checkpoint table reader, latest-wins per (stage, bucket): two
    racing retries that both append a lineage row for the same bucket
    (append-mode parquet cannot express MERGE INTO — on Iceberg this is
    a MERGE) collapse to one row, so resume logic and metric sums stay
    exactly-once per bucket."""
    if exists(spark, ckpt_path):
        df = spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt_path)
    else:
        df = spark.createDataFrame([], CHECKPOINT_SCHEMA)
    w = Window.partitionBy("stage", "bucket").orderBy(
        F.desc("ts"), F.desc("job_id")
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def compact_checkpoints(spark: SparkSession, ckpt_path: str) -> int:
    """Bound the checkpoint table's file count across thousands of
    resumes — the compaction half of the MERGE-INTO semantics the
    append-only parquet table stands in for (on Iceberg the append
    below is a ``MERGE INTO`` and table maintenance is
    ``rewrite_data_files``).

    Crash-safe without a directory swap: (1) append ONE new part file
    holding the deduped (latest-wins) table, (2) delete the old part
    files.  A crash between the steps leaves duplicates that the
    latest-wins reader collapses — re-running compaction finishes the
    cleanup.  Readers are never broken: the directory always contains
    at least one complete copy of every surviving row.

    Runs only above 8 part files; returns the number of files removed
    (0 = under threshold)."""
    old_files = list_names(spark, ckpt_path, "part-")
    if len(old_files) <= 8:
        return 0
    compacted = read_checkpoints(spark, ckpt_path)
    # tiny metadata table (≤ stages × n_buckets rows): one file
    compacted.coalesce(1).write.mode("append").parquet(ckpt_path)
    for name in old_files:
        fs, p, _ = fs_path(spark, f"{ckpt_path}/{name}")
        fs.delete(p, False)
    return len(old_files)


def run_extract_with_checkpoints(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    num_partitions: int | None = None,
    max_buckets: int | None = None,
) -> dict:
    """One resumable job invocation.  Returns a summary dict;
    ``buckets_remaining`` counts the buckets still to do after this run
    (non-zero only when ``max_buckets`` cut it short)."""
    ckpt_path = f"{out_dir}/checkpoints"
    out_path = f"{out_dir}/extracted_nested"
    job_id = uuid.uuid4().hex[:12]

    bucketed = with_bucket(docs, n_buckets)
    done = read_checkpoints(spark, ckpt_path).filter(F.col("stage") == STAGE)
    todo_docs = bucketed.join(done.select("bucket"), "bucket", "left_anti")

    # the bucket set THIS run processes — lineage rows are derived from it
    # below, never from a read-back of the whole output directory (a
    # previously killed attempt may have committed buckets this run does
    # not touch; checkpointing those would permanently skip reprocessing
    # them with partial counts).  Driver-side but bounded by n_buckets.
    todo_buckets = sorted(
        r["bucket"] for r in todo_docs.select("bucket").distinct().collect()
    )
    n_todo = len(todo_buckets)
    if max_buckets is not None:
        # fault-injection hook: pretend the job dies after N buckets
        todo_buckets = todo_buckets[:max_buckets]
        todo_docs = todo_docs.filter(F.col("bucket").isin(todo_buckets))
    summary = {
        "job_id": job_id,
        "buckets_processed": len(todo_buckets),
        "buckets_remaining": n_todo - len(todo_buckets),
        "wall_ms": 0,
        "output": out_path,
        "checkpoints": ckpt_path,
    }
    if not todo_buckets:
        return summary

    t0 = time.monotonic()
    flat = extract(todo_docs.drop("bucket"), num_partitions=num_partitions)
    nested = with_bucket(nest_spans(flat), n_buckets)
    # dynamic partition overwrite: retried buckets replace any partial
    # output from a killed attempt instead of duplicating it.  Set per
    # write, not on the session conf, which every later write would see.
    nested.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(out_path)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # per-bucket counts of what this run wrote (driver-side, ≤ n_buckets
    # rows).  A bucket whose docs all produced no spans has no output
    # rows, and a run whose docs all did wrote no files at all — so the
    # read is skipped when no bucket directory exists (there is no
    # schema to infer), and missing buckets count 0 below.
    counts = {}
    if list_names(spark, out_path, "bucket="):
        counts = {
            r["bucket"]: (r["doc_count"], r["span_count"])
            for r in spark.read.parquet(out_path)
            .filter(F.col("bucket").isin(todo_buckets))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("doc_count"),
                F.sum(F.size("spans")).alias("span_count"),
            )
            .collect()
        }
    # one lineage row per processed bucket, empty ones included: a
    # bucket without a row would stay "todo" forever
    ts = time.strftime("%Y-%m-%dT%H:%M:%S")
    secs = max(wall_ms, 1) / 1000.0
    rows = []
    for b in todo_buckets:
        doc_count, span_count = counts.get(b, (0, 0))
        rows.append((STAGE, b, doc_count, span_count, wall_ms,
                     round(doc_count / secs, 3), job_id, ts))
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ckpt_path)
    compact_checkpoints(spark, ckpt_path)
    summary["wall_ms"] = wall_ms
    return summary
