"""Kill/resume semantics: a job killed after K buckets resumes without
reprocessing, outputs stay exactly-once per document, lineage rows carry
per-bucket metrics."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from reading_the_unreadable_spark import synth
from reading_the_unreadable_spark.plans.checkpoint import (
    read_checkpoints,
    run_extract_with_checkpoints,
)
from reading_the_unreadable_spark.sources.docs import docs_from_rows

N_DOCS = 60
N_BUCKETS = 8
OUT = "/tmp/test_ckpt_out"


@pytest.fixture()
def docs(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    return docs_from_rows(spark, synth.make_corpus(N_DOCS, seed_tag="ckpt"))


def test_kill_resume(spark, docs):
    # run 1: "dies" after 3 buckets
    r1 = run_extract_with_checkpoints(
        spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8, max_buckets=3
    )
    assert r1["buckets_processed"] == 3
    ck1 = read_checkpoints(spark, f"{OUT}/checkpoints")
    assert ck1.count() == 3
    out1 = spark.read.parquet(f"{OUT}/extracted_nested")
    docs_done_1 = out1.count()
    assert 0 < docs_done_1 < N_DOCS

    # run 2: resumes, processes ONLY the remaining buckets
    r2 = run_extract_with_checkpoints(
        spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8
    )
    assert r2["buckets_processed"] == N_BUCKETS - 3
    ck2 = read_checkpoints(spark, f"{OUT}/checkpoints")
    assert ck2.count() == N_BUCKETS
    # no bucket processed twice
    assert ck2.groupBy("bucket").count().filter("count > 1").count() == 0
    # job ids differ between the two runs
    assert ck2.select("job_id").distinct().count() == 2

    out2 = spark.read.parquet(f"{OUT}/extracted_nested")
    assert out2.count() == N_DOCS
    # exactly-once per doc
    assert out2.groupBy("doc_id").count().filter("count > 1").count() == 0

    # run 3: nothing left — a pure no-op
    r3 = run_extract_with_checkpoints(
        spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8
    )
    assert r3["buckets_processed"] == 0
    assert read_checkpoints(spark, f"{OUT}/checkpoints").count() == N_BUCKETS


def test_orphan_committed_bucket_not_checkpointed(spark, docs):
    """A bucket left committed in the output by a killed attempt but NOT
    checkpointed must not be claimed by a later capped run that didn't
    process it — it has to stay todo until a run actually extracts it."""
    # run 1 processes the first 2 todo buckets
    run_extract_with_checkpoints(
        spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8, max_buckets=2
    )
    ck1 = read_checkpoints(spark, f"{OUT}/checkpoints")
    done1 = sorted(r["bucket"] for r in ck1.collect())
    assert len(done1) == 2
    # simulate a killed attempt that COMMITTED partial output for a bucket
    # it never checkpointed: copy a committed bucket directory to an
    # unprocessed bucket id (content is bogus — exactly what a partial
    # FileOutputCommitter-v2 commit looks like to a later run).
    orphan = N_BUCKETS - 1
    src = f"{OUT}/extracted_nested/bucket={done1[0]}"
    dst = f"{OUT}/extracted_nested/bucket={orphan}"
    shutil.copytree(src, dst)
    # a capped run that processes a DIFFERENT bucket must not claim the
    # orphan's committed-but-unlogged output as done.
    run_extract_with_checkpoints(
        spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8, max_buckets=1
    )
    ck3 = read_checkpoints(spark, f"{OUT}/checkpoints")
    claimed = {r["bucket"] for r in ck3.collect()}
    assert orphan not in claimed, (
        "capped run falsely checkpointed a bucket it never processed"
    )
    # a full resume then genuinely reprocesses the orphan exactly once
    run_extract_with_checkpoints(spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8)
    ck4 = read_checkpoints(spark, f"{OUT}/checkpoints")
    assert {r["bucket"] for r in ck4.collect()} == set(range(N_BUCKETS))
    out = spark.read.parquet(f"{OUT}/extracted_nested")
    assert out.count() == N_DOCS
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_run_leaves_session_overwrite_mode_alone(spark, docs, tmp_path):
    """The bucket write's dynamic partition overwrite is set on that
    write only: after a run the session conf still reads static, and a
    later unrelated partitioned overwrite replaces the whole directory."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        run_extract_with_checkpoints(
            spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8
        )
        assert spark.conf.get(key) == "STATIC"
        other = str(tmp_path / "other")
        spark.range(2).select("id", (F.col("id") + 1).alias("k")).write.mode(
            "overwrite"
        ).partitionBy("k").parquet(other)
        spark.range(1).select("id", F.lit(1).alias("k")).write.mode(
            "overwrite"
        ).partitionBy("k").parquet(other)
        assert [r["k"] for r in spark.read.parquet(other).collect()] == [1]
    finally:
        spark.conf.set(key, before)


def test_duplicate_lineage_appends_deduped(spark, docs):
    """Two racing retries appending lineage rows for the same bucket must
    collapse to one row on read (latest-wins), keeping resume skips and
    metric sums exactly-once per bucket."""
    run_extract_with_checkpoints(spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8)
    ckpt_path = f"{OUT}/checkpoints"
    raw = spark.read.parquet(ckpt_path)
    # simulate the race: re-append a copy of every lineage row with a
    # different job_id and later ts
    dup = raw.withColumn("job_id", F.lit("race-retry")).withColumn(
        "ts", F.lit("2099-01-01T00:00:00")
    ).withColumn("doc_count", F.col("doc_count") * 1000)
    dup.write.mode("append").parquet(ckpt_path)
    ck = read_checkpoints(spark, ckpt_path)
    assert ck.count() == N_BUCKETS  # one row per bucket, not two
    assert ck.groupBy("stage", "bucket").count().filter("count > 1").count() == 0
    # latest-wins: the retry's rows are the survivors
    assert ck.filter(F.col("job_id") == "race-retry").count() == N_BUCKETS
    # resume treats every bucket as done
    r = run_extract_with_checkpoints(spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8)
    assert r["buckets_processed"] == 0


def test_lineage_metrics(spark, docs):
    run_extract_with_checkpoints(spark, docs, OUT, n_buckets=N_BUCKETS, num_partitions=8)
    ck = read_checkpoints(spark, f"{OUT}/checkpoints")
    row = ck.orderBy("bucket").first()
    assert row["doc_count"] > 0
    assert row["span_count"] > 0
    assert row["wall_ms"] > 0
    assert row["docs_per_sec"] > 0
    assert row["stage"] == "extract"
    total_docs = ck.agg(F.sum("doc_count")).first()[0]
    assert total_docs == N_DOCS


def test_snapshot_incremental_checkpointed_flow(spark, tmp_path):
    """North-rule composition: Iceberg-style snapshots × bucket-grain
    resume.  Each snapshot diff is processed as its own resumable job
    (out dir keyed by the snapshot high-water mark); a kill mid-diff
    resumes to exactly-once; the union of per-diff outputs equals the
    full corpus."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.plans.checkpoint import (
        run_extract_with_checkpoints,
    )
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        incremental_read,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    corpus = synth.make_corpus(35)
    assert append_snapshot(docs_from_rows(spark, corpus[:20]), root) == 1
    out1 = str(tmp_path / "out_snap1")
    s1 = run_extract_with_checkpoints(
        spark, read_snapshot(spark, root, 1), out1, n_buckets=8, num_partitions=4
    )
    assert 1 <= s1["buckets_processed"] <= 8  # empty buckets are skipped

    assert append_snapshot(docs_from_rows(spark, corpus[20:]), root) == 2
    diff = incremental_read(spark, root, after=1)
    out2 = str(tmp_path / "out_snap2")
    # fault injection: die after 3 buckets, then plain re-invocation
    k = run_extract_with_checkpoints(
        spark, diff, out2, n_buckets=8, num_partitions=4, max_buckets=3
    )
    assert k["buckets_processed"] == 3
    r = run_extract_with_checkpoints(
        spark, diff, out2, n_buckets=8, num_partitions=4
    )
    assert r["buckets_processed"] >= 1  # resumed exactly the remainder

    got = spark.read.parquet(f"{out1}/extracted_nested").unionByName(
        spark.read.parquet(f"{out2}/extracted_nested")
    )
    ids = [r["doc_id"] for r in got.select("doc_id").collect()]
    assert len(ids) == 35 and len(set(ids)) == 35  # exactly-once overall


def test_checkpoint_compaction_bounds_files(spark, docs, tmp_path):
    """MERGE-stand-in maintenance: many resumes must not grow the
    checkpoint table unboundedly — compaction keeps the file count
    bounded while resume semantics stay exactly-once."""
    import os

    from reading_the_unreadable_spark.plans.checkpoint import (
        compact_checkpoints,
    )

    out = str(tmp_path / "job")
    # 8 buckets, one per run -> 8 sequential resumes, then 4 no-op reruns
    for _ in range(N_BUCKETS):
        run_extract_with_checkpoints(
            spark, docs, out, n_buckets=N_BUCKETS, num_partitions=8,
            max_buckets=1,
        )
    for _ in range(4):
        run_extract_with_checkpoints(
            spark, docs, out, n_buckets=N_BUCKETS, num_partitions=8
        )
    ckpt = f"{out}/checkpoints"
    n_files = sum(1 for f in os.listdir(ckpt) if f.startswith("part-"))
    assert n_files <= 8, f"checkpoint table grew to {n_files} files"
    # resume semantics unchanged: all buckets done, nothing to do
    done = read_checkpoints(spark, ckpt)
    assert done.count() == N_BUCKETS
    r = run_extract_with_checkpoints(
        spark, docs, out, n_buckets=N_BUCKETS, num_partitions=8
    )
    assert r["buckets_processed"] == 0
    # output exactly-once per document
    got = spark.read.parquet(f"{out}/extracted_nested")
    assert got.count() == N_DOCS
    assert got.select("doc_id").distinct().count() == N_DOCS
    # at the threshold compaction leaves the table alone
    assert compact_checkpoints(spark, ckpt) == 0
    # one lineage file above it (re-appended rows: the reader keeps the
    # latest per bucket) squeezes the table to one file
    rows = read_checkpoints(spark, ckpt).collect()
    for i in range(9 - n_files):
        spark.createDataFrame(rows[i : i + 1], done.schema).coalesce(1).write.mode(
            "append"
        ).parquet(ckpt)
    assert compact_checkpoints(spark, ckpt) == 9
    n_files = sum(1 for f in os.listdir(ckpt) if f.startswith("part-"))
    assert n_files == 1
    assert read_checkpoints(spark, ckpt).count() == N_BUCKETS


def test_snapshot_tail_exactly_once(spark, tmp_path):
    """tail_once: consumes appended snapshots incrementally with a
    pinned diff window — kills mid-window resume THE SAME window (no
    rows skipped even when the table grows meanwhile), the high-water
    mark advances only on completion, and the consumer view is
    exactly-once per document."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.plans.snapshot_tail import (
        read_tail_output,
        tail_once,
    )
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import append_snapshot

    root = str(tmp_path / "tbl")
    work = str(tmp_path / "tail")
    corpus = synth.make_corpus(40, seed_tag="tail")

    # two snapshots, then one tail call drains both
    append_snapshot(docs_from_rows(spark, corpus[:12]), root)
    append_snapshot(docs_from_rows(spark, corpus[12:20]), root)
    r1 = tail_once(spark, root, work, n_buckets=8, num_partitions=4)
    assert r1["advanced"] and (r1["after"], r1["until"]) == (0, 2)
    assert read_tail_output(spark, work).count() == 20

    # idle call: no-op
    r2 = tail_once(spark, root, work, n_buckets=8, num_partitions=4)
    assert r2["buckets_processed"] == 0 and not r2["advanced"]

    # snapshot 3 appended; tail is killed after 1 bucket (intent stays)
    append_snapshot(docs_from_rows(spark, corpus[20:30]), root)
    rk = tail_once(
        spark, root, work, n_buckets=8, num_partitions=4, max_buckets=1
    )
    assert not rk["advanced"] and (rk["after"], rk["until"]) == (2, 3)

    # snapshot 4 lands while window (2,3] is still pending — the next
    # call must finish THE PINNED window first, not a moving one
    append_snapshot(docs_from_rows(spark, corpus[30:]), root)
    rr = tail_once(spark, root, work, n_buckets=8, num_partitions=4)
    assert rr["advanced"] and (rr["after"], rr["until"]) == (2, 3)
    # then the next call picks up snapshot 4
    rf = tail_once(spark, root, work, n_buckets=8, num_partitions=4)
    assert rf["advanced"] and (rf["after"], rf["until"]) == (3, 4)

    got = read_tail_output(spark, work)
    assert got.count() == 40
    assert got.select("doc_id").distinct().count() == 40


def test_snapshot_tail_empty_spans_docs_do_not_stall(spark, tmp_path):
    """A doc with empty ``spans`` yields no output row.  Its bucket must
    still get a lineage row (doc_count 0), so the window completes and
    the high-water mark advances; a window in which EVERY doc has empty
    spans must complete too, without reading an output dir that has no
    files.  Later snapshots' docs then reach the output exactly once."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.plans.checkpoint import with_bucket
    from reading_the_unreadable_spark.plans.snapshot_tail import (
        _diff_dir,
        read_tail_output,
        tail_once,
    )
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import append_snapshot

    root = str(tmp_path / "tbl")
    work = str(tmp_path / "tail")
    n_buckets = 64
    corpus = synth.make_corpus(12, seed_tag="tail-empty")
    empty = [{"doc_id": f"EMPTY-{i}", "spans": []} for i in range(3)]

    # window 1: 3 docs + 1 empty doc, the empty one alone in its bucket
    first = docs_from_rows(spark, corpus[:3] + empty[:1])
    buckets = dict(with_bucket(first, n_buckets).select("doc_id", "bucket").collect())
    assert buckets["EMPTY-0"] not in {buckets[d["doc_id"]] for d in corpus[:3]}
    append_snapshot(first, root)
    r1 = tail_once(spark, root, work, n_buckets=n_buckets, num_partitions=4)
    assert r1["advanced"] and (r1["after"], r1["until"]) == (0, 1)
    assert r1["buckets_processed"] == 4
    ck = read_checkpoints(spark, f"{_diff_dir(work, 0, 1)}/checkpoints")
    counts = dict(ck.select("bucket", "doc_count").collect())
    assert counts[buckets["EMPTY-0"]] == 0 and sum(counts.values()) == 3

    # window 2: the next snapshot's 6 docs
    append_snapshot(docs_from_rows(spark, corpus[3:9]), root)
    r2 = tail_once(spark, root, work, n_buckets=n_buckets, num_partitions=4)
    assert r2["advanced"] and (r2["after"], r2["until"]) == (1, 2)

    # window 3: every doc has empty spans
    append_snapshot(docs_from_rows(spark, empty[1:]), root)
    r3 = tail_once(spark, root, work, n_buckets=n_buckets, num_partitions=4)
    assert r3["advanced"] and (r3["after"], r3["until"]) == (2, 3)

    # window 4: docs after the all-empty window
    append_snapshot(docs_from_rows(spark, corpus[9:]), root)
    r4 = tail_once(spark, root, work, n_buckets=n_buckets, num_partitions=4)
    assert r4["advanced"] and (r4["after"], r4["until"]) == (3, 4)

    got = read_tail_output(spark, work)
    per_doc = dict(got.groupBy("doc_id").count().collect())
    assert per_doc == {d["doc_id"]: 1 for d in corpus}
