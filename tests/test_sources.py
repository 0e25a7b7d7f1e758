"""Source layer: the snapshot table (append, time travel, incremental
reads, merge/delete, compaction, tags, rollback), ORC pushdown and
docs-table validation."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from reading_the_unreadable_spark import synth
from reading_the_unreadable_spark.execution import write_file
from reading_the_unreadable_spark.sources.docs import docs_from_rows


def test_snapshot_append_timetravel_incremental(spark, tmp_path):
    """Snapshot layer (Iceberg-semantics fallback): appends create
    monotonic snapshots, time travel reads AS OF any snapshot,
    incremental_read returns exactly the diff between two snapshots,
    and extraction over a diff equals extraction over those docs."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        incremental_read,
        read_snapshot,
    )

    root = str(tmp_path / "docs_tbl")
    corpus = synth.make_corpus(30)
    batches = [corpus[:10], corpus[10:18], corpus[18:]]
    sids = [append_snapshot(docs_from_rows(spark, b), root) for b in batches]
    assert sids == [1, 2, 3]
    assert current_snapshot_id(spark, root) == 3

    assert read_snapshot(spark, root).count() == 30  # latest
    assert read_snapshot(spark, root, snapshot_id=1).count() == 10  # time travel
    assert read_snapshot(spark, root, snapshot_id=2).count() == 18

    diff = incremental_read(spark, root, after=1, until=3)
    got_ids = {r["doc_id"] for r in diff.select("doc_id").collect()}
    want_ids = {d["doc_id"] for d in corpus[10:]}
    assert got_ids == want_ids

    # empty cases
    assert incremental_read(spark, root, after=3).count() == 0
    assert read_snapshot(spark, str(tmp_path / "missing")).count() == 0

    # the diff feeds the normal extraction chain unchanged
    from reading_the_unreadable_spark.plans.pipeline import extract_nested

    out = extract_nested(incremental_read(spark, root, after=2), num_partitions=4)
    assert out.count() == len(corpus[18:])


def test_read_snapshot_unknown_id_raises(spark, tmp_path):
    import pytest as _pytest

    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    append_snapshot(docs_from_rows(spark, synth.make_corpus(5)), root)
    with _pytest.raises(ValueError, match="unknown snapshot id"):
        read_snapshot(spark, root, snapshot_id=7)


def test_snapshot_killed_append_does_not_wedge(spark, tmp_path):
    """A killed append (orphan data dir, no manifest) must neither block
    the next append nor become visible to readers."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    append_snapshot(docs_from_rows(spark, synth.make_corpus(5)), root)
    # simulate a crash AFTER data write, BEFORE manifest publish:
    # an unreferenced attempt dir for what would be snapshot 2
    docs_from_rows(spark, synth.make_corpus(3)).write.parquet(
        f"{root}/data/snap-2-deadbeef"
    )
    # table still reads as snapshot 1 only
    assert read_snapshot(spark, root).count() == 5
    # and a new append succeeds and supersedes the orphan
    sid = append_snapshot(docs_from_rows(spark, synth.make_corpus(7)), root)
    assert sid == 2
    assert read_snapshot(spark, root).count() == 12


def test_snapshot_schema_evolution(spark, tmp_path):
    """Iceberg add-column semantics: an append with an extra column
    coexists with older snapshots — latest read carries the new column
    (NULL for pre-evolution rows), time travel to an old snapshot reads
    the old schema's data."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    append_snapshot(docs_from_rows(spark, synth.make_corpus(4)), root)
    evolved = docs_from_rows(spark, synth.make_corpus(3, seed_tag="v2")).withColumn(
        "source_rank", F.lit(7)
    )
    append_snapshot(evolved, root)

    latest = read_snapshot(spark, root)
    assert "source_rank" in latest.columns
    assert latest.count() == 7
    assert latest.filter(F.col("source_rank").isNull()).count() == 4
    assert latest.filter(F.col("source_rank") == 7).count() == 3
    # time travel to the pre-evolution snapshot: old schema only
    old = read_snapshot(spark, root, snapshot_id=1)
    assert "source_rank" not in old.columns
    assert old.count() == 4


def test_snapshot_concurrent_commit_single_winner(spark, tmp_path):
    """The commit race guard must hold on file:// where POSIX rename
    silently overwrites: two manifests published for the same sid →
    exactly one wins (deterministically, the smallest attempt), and
    readers never see the loser's rows."""
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    S.append_snapshot(docs_from_rows(spark, synth.make_corpus(4)), root)

    def publish(df, attempt):
        # what append_snapshot writes for sid 2, with a chosen attempt:
        # committers A and B both planned on parent 1 and both publish
        data_dir = f"{root}/data/snap-2-{attempt}"
        df.write.parquet(data_dir)
        files = sorted(
            str(f) for f in Path(data_dir).glob("*.parquet")
        )
        write_file(
            spark,
            f"{root}/manifests/snap-2-{attempt}.json",
            json.dumps(
                {
                    "snapshot_id": 2,
                    "parent_id": 1,
                    "files": files,
                    "operation": "append",
                    "schema": df.schema.jsonValue(),
                }
            ).encode(),
        )

    df_a = docs_from_rows(spark, synth.make_corpus(3, seed_tag="A"))
    df_b = docs_from_rows(spark, synth.make_corpus(2, seed_tag="B"))
    publish(df_b, "ffffffff")  # B lands first, A's attempt sorts first
    publish(df_a, "00000000")
    wins = dict(S._winning_manifests(spark, root))
    assert wins[2] == "snap-2-00000000.json"  # deterministic winner
    # readers see the winner's rows only
    read_rows = {r["doc_id"] for r in S.read_snapshot(spark, root).collect()}
    assert read_rows
    a_ids = {r["doc_id"] for r in df_a.select("doc_id").collect()}
    b_ids = {r["doc_id"] for r in df_b.select("doc_id").collect()}
    assert a_ids <= read_rows and not (b_ids & read_rows)
    assert {
        r["doc_id"] for r in S.incremental_read(spark, root, after=1).collect()
    } == a_ids

def test_snapshot_merge_into_copy_on_write(spark, tmp_path):
    """merge_into = Iceberg MERGE INTO … UPDATE SET * / INSERT * under
    copy-on-write: matched rows replaced, unmatched target rows kept,
    unmatched source rows inserted — and ONLY files containing a
    matched key are rewritten (file-granular COW), so time travel to
    the pre-merge snapshot still reads the original rows."""
    import json as _json
    import os

    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    corpus = synth.make_corpus(12)
    # two appends → two data dirs; source keys come ONLY from batch 2,
    # so batch 1's files must be carried forward untouched
    S.append_snapshot(docs_from_rows(spark, corpus[:6]), root)
    S.append_snapshot(docs_from_rows(spark, corpus[6:]), root)

    upd = [dict(d, spans=[dict(s, text="MERGED") for s in d["spans"]]) for d in corpus[8:10]]
    ins = synth.make_corpus(3, seed_tag="new")
    sid = S.merge_into(docs_from_rows(spark, upd + ins), root, key_cols=["doc_id"])
    assert sid == 3

    latest = {
        r["doc_id"]: [s["text"] for s in r["spans"]]
        for r in S.read_snapshot(spark, root).collect()
    }
    assert len(latest) == 15  # 12 originals (2 updated in place) + 3 inserted
    for d in upd:
        assert latest[d["doc_id"]] == ["MERGED"] * len(d["spans"])
    for d in corpus[:8] + corpus[10:]:
        assert latest[d["doc_id"]] == [s["text"] for s in d["spans"]]
    for d in ins:
        assert latest[d["doc_id"]] == [s["text"] for s in d["spans"]]

    # COW granularity: the merge manifest rewrote only snap-2 files
    man_dir = f"{root}/manifests"
    merge_man = [n for n in os.listdir(man_dir) if n.startswith("snap-3-")]
    assert len(merge_man) == 1
    man = _json.loads(open(f"{man_dir}/{merge_man[0]}").read())
    assert man["operation"] == "merge"
    assert man["removed_files"], "expected rewritten files"
    assert all("/snap-2-" in f for f in man["removed_files"])

    # time travel: pre-merge snapshot is untouched
    pre = {
        r["doc_id"]: [s["text"] for s in r["spans"]]
        for r in S.read_snapshot(spark, root, snapshot_id=2).collect()
    }
    assert len(pre) == 12
    for d in upd:
        assert pre[d["doc_id"]] != ["MERGED"] * len(d["spans"])

    # an append-only incremental scan cannot represent the merge's row
    # changes: it refuses, like Iceberg's incremental scan
    with pytest.raises(ValueError, match="merge"):
        S.incremental_read(spark, root, after=2).collect()


def test_snapshot_delete_where(spark, tmp_path):
    """delete_where = Iceberg DELETE FROM under copy-on-write: TRUE rows
    removed, FALSE/NULL kept, no-match commits nothing, and files with
    no matching row are never rewritten."""
    from pyspark.sql import functions as FF

    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.sources.docs import docs_from_rows
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    corpus = synth.make_corpus(10)
    S.append_snapshot(docs_from_rows(spark, corpus[:5]), root)
    S.append_snapshot(docs_from_rows(spark, corpus[5:]), root)

    victims = {corpus[1]["doc_id"], corpus[2]["doc_id"]}  # batch-1 only
    sid = S.delete_where(
        spark, root, FF.col("doc_id").isin(*victims)
    )
    assert sid == 3
    left = {r["doc_id"] for r in S.read_snapshot(spark, root).collect()}
    assert left == {d["doc_id"] for d in corpus} - victims
    # time travel pre-delete still sees the victims
    assert {
        r["doc_id"] for r in S.read_snapshot(spark, root, snapshot_id=2).collect()
    } == {d["doc_id"] for d in corpus}
    # no-match → no new snapshot (Iceberg skips empty commits)
    assert S.delete_where(spark, root, "doc_id = 'nope'") is None
    assert S.current_snapshot_id(spark, root) == 3
    # an append-only incremental scan cannot represent the delete
    with pytest.raises(ValueError, match="delete"):
        S.incremental_read(spark, root, after=2)


def test_snapshot_stats_pruning(spark, tmp_path):
    """append_snapshot(stat_cols=...) records per-file min/max bounds;
    read_snapshot(prune=...) drops files whose bounds cannot overlap
    the range BEFORE the scan (Iceberg file skipping) — verified via
    inputFiles() — and returns exactly the in-range rows."""
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    # three appends with disjoint doc_id ranges, several files each
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
    ).repartition(3)
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        S.append_snapshot(mk(lo, hi), root, stat_cols=["doc_id"])
    full = S.read_snapshot(spark, root)
    assert len(full.inputFiles()) == 9

    pruned = S.read_snapshot(spark, root, prune={"doc_id": (120, 180)})
    # only snapshot 2's files can contain [120, 180]
    assert 0 < len(pruned.inputFiles()) <= 3
    got = sorted(r["doc_id"] for r in pruned.collect())
    assert got == list(range(120, 181))

    # open-ended range + a col with no stats falls back to row filtering
    hi_only = S.read_snapshot(spark, root, prune={"doc_id": (None, 50), "v": (10, 20)})
    assert sorted(r["doc_id"] for r in hi_only.collect()) == [5, 6, 7, 8, 9, 10]
    # nothing overlaps → zero files planned, empty result, schema kept
    none = S.read_snapshot(spark, root, prune={"doc_id": (1000, 2000)})
    assert none.count() == 0 and none.columns == ["doc_id", "v"]


def test_snapshot_rewrite_data_files(spark, tmp_path):
    """rewrite_data_files bin-packs small live files into fewer files
    as one 'replace' snapshot: read identical before/after, file count
    drops, pre-compaction time travel still works, and fresh stats on
    the compacted files keep pruning effective."""
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    ).repartition(4)
    S.append_snapshot(mk(0, 150), root, stat_cols=["doc_id"])
    S.append_snapshot(mk(150, 300), root, stat_cols=["doc_id"])
    before = {r["doc_id"] for r in S.read_snapshot(spark, root).collect()}
    n_before = len(S.read_snapshot(spark, root).inputFiles())
    assert n_before == 8

    res = S.rewrite_data_files(spark, root, stat_cols=["doc_id"])
    assert res is not None and res["compacted"] == 8 and res["new_files"] == 1
    after_df = S.read_snapshot(spark, root)
    assert {r["doc_id"] for r in after_df.collect()} == before
    assert len(after_df.inputFiles()) == 1
    # time travel to pre-compaction still plans the original files
    assert len(S.read_snapshot(spark, root, snapshot_id=2).inputFiles()) == 8
    # fresh bounds on the compacted file: a miss range plans zero files
    assert (
        len(S.read_snapshot(spark, root, prune={"doc_id": (900, 999)}).inputFiles())
        == 0
    )
    # idempotent: a single compacted file has nothing left to pack
    assert S.rewrite_data_files(spark, root, stat_cols=["doc_id"]) is None


def test_incremental_read_skips_compaction(spark, tmp_path):
    """A maintenance compaction between two tail cycles is invisible to
    the incremental feed: 'replace' snapshots rewrite rows the consumer
    already saw, so they contribute nothing — no duplicate storm, and
    appends on either side of the compaction are each delivered exactly
    once (Iceberg's incremental APPEND scan semantics)."""
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    ).repartition(3)
    S.append_snapshot(mk(0, 60), root)      # snap 1 — consumed
    S.append_snapshot(mk(60, 120), root)    # snap 2 — pending
    assert S.rewrite_data_files(spark, root)["snapshot_id"] == 3  # replace
    S.append_snapshot(mk(120, 150), root)   # snap 4 — pending

    inc = S.incremental_read(spark, root, after=1)
    got = [r["doc_id"] for r in inc.collect()]
    assert sorted(got) == list(range(60, 150))  # exactly once, no dupes
    # and the compacted rewrite of already-consumed snap-1 rows is
    # genuinely absent, not deduped away
    assert len(got) == len(set(got))

    # a tail that starts AFTER the compaction snapshot sees only the
    # later append (the replace added no new rows past its own sid)
    assert sorted(
        r["doc_id"] for r in S.incremental_read(spark, root, after=3).collect()
    ) == list(range(120, 150))


def test_incremental_read_reads_only_window_manifests(spark, tmp_path, monkeypatch):
    """Driver cost follows the bound, not the table's age: reads pick
    manifests by the snapshot id in their file names.  incremental_read
    reads only the manifests in (after, until], a time-travel read of
    snapshot S (by id or by tag) only manifests 1..S, and create_tag
    none."""
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    reads = []
    real = S.read_file

    def counting(spark_, path):
        if "/manifests/" in path:
            reads.append(path)
        return real(spark_, path)

    monkeypatch.setattr(S, "read_file", counting)
    for i in range(6):
        S.append_snapshot(spark.range(i * 10, (i + 1) * 10).toDF("doc_id"), root)
        if i == 0:
            reads.clear()
            assert S.create_tag(spark, root, "first") == 1
            assert reads == []
    reads.clear()
    got = sorted(r["doc_id"] for r in S.incremental_read(spark, root, after=5).collect())
    assert got == list(range(50, 60))
    assert len(reads) == 1 and "/manifests/snap-6-" in reads[0]

    reads.clear()
    got = S.incremental_read(spark, root, after=2, until=4)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(20, 40))
    assert len(reads) == 2

    reads.clear()
    got = S.read_snapshot(spark, root, snapshot_id=1)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(10))
    assert len(reads) == 1 and "/manifests/snap-1-" in reads[0]

    reads.clear()
    got = S.read_snapshot(spark, root, tag="first")
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(10))
    assert len(reads) == 1 and "/manifests/snap-1-" in reads[0]


def test_snapshot_zorder_rewrite(spark, tmp_path):
    """rewrite_data_files(zorder_by=[x, y]) re-clusters ALL live files
    along a Morton curve: a 2-D box prune that touched every file on
    the round-robin layout plans ~1 file afterwards, rows are
    byte-identical, and non-numeric / missing zorder columns raise."""
    import os

    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    # 64x64 grid; round-robin repartition scatters every file across
    # the full range of BOTH dims, so per-file bounds prune nothing
    grid = spark.range(4096).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    S.append_snapshot(grid.repartition(16), root, stat_cols=["x", "y"])
    box = {"x": (0, 7), "y": (0, 7)}
    assert len(S.read_snapshot(spark, root, prune=box).inputFiles()) == 16

    # pick target bytes so the rewrite emits ~16 clustered files
    total = sum(
        e.stat().st_size
        for e in Path(root, "data").rglob("*.parquet")
    )
    res = S.rewrite_data_files(
        spark, root, target_file_bytes=-(-total // 16), zorder_by=["x", "y"]
    )
    assert res is not None and res["compacted"] == 16

    after = S.read_snapshot(spark, root)
    assert {r["doc_id"] for r in after.collect()} == set(range(4096))
    n_files = len(after.inputFiles())
    assert n_files >= 8  # clustering kept the file count, not one blob

    # the aligned 8x8 box is 1/64 of the curve: at most a file or two
    pruned = S.read_snapshot(spark, root, prune=box)
    assert len(pruned.inputFiles()) <= 2
    assert sorted((r["x"], r["y"]) for r in pruned.collect()) == [
        (x, y) for x in range(8) for y in range(8)
    ]
    # a miss range plans zero files
    assert (
        len(S.read_snapshot(spark, root, prune={"x": (100, 200)}).inputFiles())
        == 0
    )

    # loud failures: missing column, non-numeric column
    with pytest.raises(ValueError, match="absent from live"):
        S.rewrite_data_files(spark, root, zorder_by=["nope"])
    root2 = str(tmp_path / "tbl2")
    S.append_snapshot(
        grid.withColumn("s", F.concat(F.lit("d"), F.col("doc_id"))).repartition(4),
        root2,
    )
    with pytest.raises(ValueError, match="numeric"):
        S.rewrite_data_files(spark, root2, zorder_by=["s"])


def test_snapshot_rollback(spark, tmp_path):
    """rollback_to_snapshot restores an earlier state metadata-only:
    reads equal the target snapshot byte-for-byte, intermediate
    snapshots stay time-travelable, carried-forward bounds keep
    pruning, and the incremental feed refuses to cross a rollback."""
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    ).repartition(3)
    S.append_snapshot(mk(0, 100), root, stat_cols=["doc_id"])     # snap 1
    S.append_snapshot(mk(100, 200), root, stat_cols=["doc_id"])   # snap 2
    S.delete_where(spark, root, "doc_id % 5 = 0")                 # snap 3
    S.append_snapshot(mk(200, 260), root, stat_cols=["doc_id"])   # snap 4

    want = {r["doc_id"] for r in S.read_snapshot(spark, root, snapshot_id=2).collect()}
    sid = S.rollback_to_snapshot(spark, root, 2)                  # snap 5
    assert sid == 5
    got = {r["doc_id"] for r in S.read_snapshot(spark, root).collect()}
    assert got == want == set(range(200))
    # the rolled-back snapshots remain time-travel targets
    assert (
        len({r["doc_id"] for r in S.read_snapshot(spark, root, snapshot_id=4).collect()})
        == 200 - 40 + 60
    )
    # carried-forward bounds: a miss range plans zero files
    assert (
        len(S.read_snapshot(spark, root, prune={"doc_id": (900, 999)}).inputFiles())
        == 0
    )
    # rolling back to the state you are already at is a no-op
    assert S.rollback_to_snapshot(spark, root, 2) == 5
    # unknown target raises
    with pytest.raises(ValueError, match="unknown snapshot id"):
        S.rollback_to_snapshot(spark, root, 99)
    # an append-only feed cannot represent the rollback's row changes
    with pytest.raises(ValueError, match="rollback"):
        S.incremental_read(spark, root, after=4)
    # ...but appends after it flow normally
    S.append_snapshot(mk(300, 320), root)                         # snap 6
    assert sorted(
        r["doc_id"] for r in S.incremental_read(spark, root, after=5).collect()
    ) == list(range(300, 320))
    got2 = {r["doc_id"] for r in S.read_snapshot(spark, root).collect()}
    assert got2 == want | set(range(300, 320))


def test_snapshot_tags(spark, tmp_path):
    """Iceberg refs: tags pin snapshots by name and read back as
    VERSION AS OF; tags are immutable per name."""
    from reading_the_unreadable_spark.sources import snapshots as S

    root = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id as doc_id", "id % 7 as v"
    ).repartition(2)
    with pytest.raises(ValueError, match="no snapshot"):
        S.create_tag(spark, root, "nope")
    for i in range(5):
        S.append_snapshot(mk(i * 50, (i + 1) * 50), root)  # snaps 1-5
        if i == 1:
            assert S.create_tag(spark, root, "audit-q1") == 2

    assert S.create_tag(spark, root, "latest") == 5  # the current snapshot
    assert S.list_tags(spark, root) == {"audit-q1": 2, "latest": 5}
    assert S.create_tag(spark, root, "latest") == 5  # idempotent
    with pytest.raises(ValueError, match="immutable"):
        S.create_tag(spark, root, "audit-q1")

    assert S.read_snapshot(spark, root, tag="audit-q1").count() == 100
    with pytest.raises(ValueError, match="unknown tag"):
        S.read_snapshot(spark, root, tag="ghost")
    with pytest.raises(ValueError, match="not both"):
        S.read_snapshot(spark, root, snapshot_id=2, tag="latest")

    # later appends do not move a tag
    S.append_snapshot(mk(250, 300), root)  # snap 6
    assert S.read_snapshot(spark, root, tag="audit-q1").count() == 100
    assert S.read_snapshot(spark, root, tag="latest").count() == 250
    assert S.read_snapshot(spark, root).count() == 300


def test_orc_pushdown_and_partition_pruning(spark, tmp_path):
    """The ORC reader must receive pushed predicates and prune lang
    partitions — same scan discipline as the parquet path."""
    import pyspark.sql.functions as F

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_orc")
    src.write.mode("overwrite").partitionBy("lang").orc(path)
    back = spark.read.orc(path)
    plan = (
        back.filter((F.col("lang") == "en") & (F.col("n_chars") > 500))
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,500)]" in plan, plan[:1500]
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:120], plan[:1500]
    # round trip is lossless
    assert back.count() == src.count()


def test_validate_table_rules(spark):
    from reading_the_unreadable_spark.sources.docs import validate_table

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "xx", 900), (2, None, None)],
        "id long, lang string, n long",
    )
    rules = [
        {"name": "id_unique", "col": "id", "check": "unique"},
        {"name": "lang_nn", "col": "lang", "check": "not_null"},
        {"name": "lang_set", "col": "lang", "check": "in_set", "values": ["en", "de"]},
        {"name": "n_range", "col": "n", "check": "range", "lo": 1, "hi": 500},
        {"name": "lang_re", "col": "lang", "check": "regex", "pattern": "^[a-z]{2}$"},
    ]
    got = {r["rule"]: r for r in validate_table(df, rules).collect()}
    assert got["_rows"]["violations"] == 3 and got["_rows"]["ok"] == 1
    assert got["id_unique"]["violations"] == 1 and got["id_unique"]["ok"] == 0
    assert got["lang_nn"]["violations"] == 1
    # null AND unknown both violate membership
    assert got["lang_set"]["violations"] == 2
    # null and out-of-range
    assert got["n_range"]["violations"] == 2
    assert got["lang_re"]["violations"] == 1  # only null ('xx' matches)
    import pytest

    with pytest.raises(ValueError):
        validate_table(df, [{"name": "b", "col": "id", "check": "nope"}])


def test_validate_table_empty_table_fails_guard(spark):
    from reading_the_unreadable_spark.sources.docs import validate_table

    df = spark.createDataFrame([], "id long")
    got = {r["rule"]: r for r in validate_table(
        df, [{"name": "id_nn", "col": "id", "check": "not_null"}]).collect()}
    assert got["_rows"]["ok"] == 0, "empty table must not pass vacuously"
    assert got["id_nn"]["violations"] == 0
