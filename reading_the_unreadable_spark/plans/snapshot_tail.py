"""Snapshot-tail processing: consume an Iceberg-style snapshot table
incrementally, exactly-once, resumable at every step.

This is the project's one incremental path: each ``tail_once`` call
processes the snapshots appended since the last completed call — the
Iceberg pattern of driving a job off ``start-snapshot-id`` = the stored
high-water mark.

Exactly-once across kills is a two-phase protocol over tiny state
files (same Hadoop-FS, write-once, attempt-safe discipline as the
snapshot manifests themselves):

1. **intent**: before any work, ``intent-<after>-<until>.json`` pins
   the diff window.  A killed run leaves the intent; the next call
   resumes THE SAME window even if the table has since grown (a moving
   ``until`` would silently skip new rows landing in already-completed
   buckets).
2. **extract**: the window's diff runs through the bucket-resumable
   checkpointed extract (``plans/checkpoint.py``) in a window-keyed
   work dir — a kill mid-extract resumes at bucket granularity.
3. **advance**: only when every bucket of the window is checkpointed
   is ``hwm-<until>.json`` written and the intent removed.  A crash
   between the two writes is harmless: the next call sees the intent,
   finds zero todo buckets, and re-runs the (idempotent) advance.

Scale shape: state files are O(#tail calls) driver-side metadata; the
data path is the ordinary snapshot-diff parquet scan → extract chain —
nothing here touches per-row work.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..execution import exists, fs_path, list_names, read_file, write_file
from ..sources.snapshots import current_snapshot_id, incremental_read
from .checkpoint import run_extract_with_checkpoints


def _hwm(spark: SparkSession, state_dir: str) -> int | None:
    marks = [int(n[4:-5]) for n in list_names(spark, state_dir, "hwm-")]
    return max(marks) if marks else None


def _pending_intent(
    spark: SparkSession, state_dir: str
) -> tuple[int, int] | None:
    """The open diff window, if a prior call was killed mid-flight.
    At most one intent is ever open (a new one is only written when
    none is pending); with several left by repeated kills, the oldest
    incomplete window governs — windows are disjoint and sequential."""
    pend = []
    for name in list_names(spark, state_dir, "intent-"):
        body = json.loads(read_file(spark, f"{state_dir}/{name}").decode())
        pend.append((body["after"], body["until"], name))
    if not pend:
        return None
    after, until, _ = min(pend)
    return after, until


def _diff_dir(work_dir: str, after: int, until: int) -> str:
    return f"{work_dir}/diff_{after}_{until}"


def tail_once(
    spark: SparkSession,
    table_root: str,
    work_dir: str,
    n_buckets: int = 32,
    num_partitions: int | None = None,
    max_buckets: int | None = None,
) -> dict:
    """Process all snapshots appended since the last COMPLETED call.
    Safe to call from cron/a poll loop; every call is resumable.
    ``max_buckets`` caps bucket count (fault-injection hook — an
    incomplete window leaves its intent pending and does NOT advance
    the high-water mark).  Returns a summary dict."""
    state_dir = f"{work_dir}/state"
    pending = _pending_intent(spark, state_dir)
    if pending is not None:
        after, until = pending
    else:
        after = _hwm(spark, state_dir) or 0
        until = current_snapshot_id(spark, table_root)
        if until is None or until <= after:
            return {"after": after, "until": after, "buckets_processed": 0,
                    "advanced": False}
        write_file(
            spark,
            f"{state_dir}/intent-{after}-{until}.json",
            json.dumps({"after": after, "until": until}).encode(),
        )
    diff = incremental_read(
        spark, table_root, after=after or None, until=until
    )
    res = run_extract_with_checkpoints(
        spark,
        diff,
        _diff_dir(work_dir, after, until),
        n_buckets=n_buckets,
        num_partitions=num_partitions,
        max_buckets=max_buckets,
    )
    # advance only when the window is fully checkpointed: every bucket
    # of the diff has a lineage row once the run leaves none to do
    advanced = res["buckets_remaining"] == 0
    if advanced:
        # idempotent advance: a crash between the hwm write and the
        # intent delete leaves the hwm file behind — write_file demands
        # a fresh path (rename-onto-existing fails on HDFS), so skip the
        # rewrite and just finish the cleanup
        hwm_path = f"{state_dir}/hwm-{until}.json"
        if not exists(spark, hwm_path):
            write_file(spark, hwm_path, json.dumps({"until": until}).encode())
        fs, p, _ = fs_path(spark, f"{state_dir}/intent-{after}-{until}.json")
        if fs.exists(p):
            fs.delete(p, False)
    return {
        "after": after,
        "until": until,
        "buckets_processed": res["buckets_processed"],
        "advanced": advanced,
        "output": res["output"],
    }


def read_tail_output(spark: SparkSession, work_dir: str) -> DataFrame:
    """Union of every diff window's committed output — the consumer
    view of the tailed table.  Exactly-once per document: windows are
    disjoint snapshot ranges and buckets commit atomically, so a
    pending window contributes only its completed buckets.  A window
    whose docs all produced no spans wrote no files and is skipped."""
    dirs = [
        f"{work_dir}/{name}/extracted_nested"
        for name in list_names(spark, work_dir, "diff_")
    ]
    dirs = [d for d in dirs if list_names(spark, d, "bucket=")]
    if not dirs:
        raise ValueError(f"no tail output under {work_dir}")
    # one scan per window root: the outputs are bucket-partitioned, and
    # partition discovery rejects multiple unrelated roots in one read
    out = None
    for d in sorted(dirs):
        part = spark.read.parquet(d)
        out = part if out is None else out.unionByName(part)
    return out
