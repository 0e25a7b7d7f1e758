"""Snapshot layer for the docs table: append / time-travel / incremental
reads — the parquet-fallback analog of Iceberg's snapshot model.

The production table is Iceberg (north rule: "interleaved text + media
spans … scaled to Iceberg snapshots"), whose runtime jar is absent from
this sandbox.  This module reproduces the SNAPSHOT SEMANTICS the
pipeline relies on over plain parquet, with the same one-line-swap
discipline as :mod:`docs`:

- ``append_snapshot(df, root)``  → Iceberg ``df.writeTo(t).append()``
  (each call = one new snapshot whose manifest lists the files added)
- ``read_snapshot(spark, root, sid)`` → ``VERSION AS OF`` time travel
- ``incremental_read(spark, root, after, until)`` → Iceberg incremental
  scan (``start-snapshot-id`` / ``end-snapshot-id``) — the feed an
  incremental extraction job consumes to process only NEW documents;
  it reads only the manifests inside its window
- ``merge_into(source, root, key_cols)`` → Iceberg ``MERGE INTO t USING
  s ON keys WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT
  *`` under copy-on-write: only data files that actually CONTAIN a
  matched key are rewritten; every other file is carried over untouched
  by manifest reference (file-granular rewrite, Iceberg's COW unit)
- ``delete_where(spark, root, condition)`` → Iceberg ``DELETE FROM``
  under copy-on-write, same file-granular rewrite
- ``rollback_to_snapshot(spark, root, sid)`` → Iceberg
  ``rollback_to_snapshot``: one metadata-only snapshot restores an
  earlier state (bad append/merge undone without touching data files;
  intermediate snapshots stay time-travelable)
- ``create_tag / list_tags`` + ``read_snapshot(tag=...)`` → Iceberg
  refs: named immutable snapshot pins, readable as
  ``VERSION AS OF 'name'``
- ``append_snapshot(df, root, stat_cols=[...])`` records per-file
  min/max column bounds in the manifest (Iceberg's column bounds);
  ``read_snapshot(..., prune={col: (lo, hi)})`` then skips data files
  whose bounds cannot overlap the range BEFORE the scan is planned —
  Iceberg's metadata file-skipping
- ``rewrite_data_files(spark, root)`` → Iceberg ``rewrite_data_files``
  small-file compaction: live sub-threshold files are bin-packed into
  target-size files and committed as one ``replace`` snapshot
- ``rewrite_data_files(spark, root, zorder_by=[...])`` → Iceberg's
  ``rewrite_data_files(strategy => 'sort', sort_order => 'zorder(...)')``:
  ALL live files are re-clustered along a Morton (bit-interleaved)
  curve over the given columns, so the per-file column bounds become
  tight in EVERY zorder dimension at once and multi-dimensional
  ``prune`` reads skip most of the table — the standard layout fix
  when range reads filter on two+ columns
- schema evolution: each manifest records the schema of the files it
  added; reads union snapshots with ``unionByName(allowMissingColumns)``
  so an append with an added column coexists with older snapshots

Layout under ``root``::

    data/snap-<id>-<attempt>/*.parquet        immutable data files
    manifests/snap-<id>-<attempt>.json        {"snapshot_id", "parent_id",
                                               "files", "removed_files",
                                               "operation", "schema"}
    refs/tag-<name>.json                      {"name", "snapshot_id"}

Manifests record explicit data-FILE lists (Iceberg's manifest unit).
``replace`` and ``rollback`` manifests list ``"entries"`` — ``[file,
schema_json]`` pairs — instead of ``"files"``, because the files they
add can come from several schema groups.  Table state at snapshot S is
the ordered fold over manifests 1..S: drop each manifest's
``removed_files`` from the accumulated set, then add its files —
exactly Iceberg's snapshot-inheritance model, so a merge/delete is one
tiny manifest plus the rewritten files, never a table copy.

Manifest reads are bounded by the snapshot id in each manifest's file
name: ``read_snapshot(snapshot_id=S)`` and ``read_snapshot(tag=...)``
read only manifests 1..S, ``incremental_read`` only those inside its
window, and ``create_tag`` / ``current_snapshot_id`` none (the listing
suffices).  Calls that need the CURRENT state — ``read_snapshot()``
without an id, ``merge_into``, ``delete_where``, ``rewrite_data_files``
and ``rollback_to_snapshot`` — still fold every manifest: this layout
has no manifest list (Iceberg's per-snapshot list of live files), so
their driver cost grows with the number of snapshots.

ALL filesystem access — data AND manifests — goes through the Hadoop
FileSystem API resolved from the path, so on a cluster whose default FS
is HDFS/S3 the metadata lands next to the data, never on one driver
machine's local disk (the write/cleanup-filesystem split rule; the
primitives are ``execution.fs_path`` and its siblings, and stage scratch
follows the same rule, see ``execution.scratch_root``).

Commit protocol (Iceberg's, minus the catalog CAS a single writer does
not need): data files are written under an ATTEMPT-UNIQUE directory
first, then the manifest is published under an ATTEMPT-UNIQUE name —
no rename ever targets an existing path, so the protocol does not
depend on rename-fails-if-destination-exists (HDFS honors that;
POSIX/``file://`` silently overwrites).  Two concurrent appends of the
same snapshot id both publish; the winner is the lexicographically
smallest attempt (deterministic on every filesystem), the loser detects
the loss post-publish, deletes its own manifest, and raises — its data
dir becomes an unreferenced orphan that no read ever plans.  A killed
append leaves the same kind of orphan: harmless, invisible to readers,
re-append-able.  Data files are never deleted here: time travel to any
snapshot keeps working.  Scale shape: manifests are tiny metadata
files (one per snapshot, read on the driver); data reads are ordinary
multi-path parquet scans, so column pruning / predicate pushdown /
split planning are untouched."""

from __future__ import annotations

import json
import uuid
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StructType

from ..execution import fs_path, list_names, read_file, write_file
from .docs import DOCS_SCHEMA


def _norm_uri(path: str) -> str:
    """Canonical (authority, path) form so file paths compare equal
    across the spellings different APIs emit for the same file
    (``file:/x`` from Hadoop ``Path.toString`` vs ``file:///x`` from
    ``_metadata.file_path`` vs a bare ``/x``)."""
    u = urlparse(path)
    return f"{u.netloc}{u.path}"


def _split_name(name: str) -> tuple[int, str]:
    """``snap-<sid>-<attempt>.json`` → (sid, attempt)."""
    body = name[5:-5]
    sid, _, attempt = body.partition("-")
    return int(sid), attempt


def _winning_manifests(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """One (sid, file name) per snapshot id, sid-ascending.  When a
    commit race left several manifests for one sid, the winner is the
    smallest attempt string — deterministic on every filesystem, no
    reliance on rename semantics.  The listing includes race losers
    that have not withdrawn their manifest yet."""
    best: dict[int, tuple[str, str]] = {}
    for name in list_names(spark, f"{root}/manifests", "snap-", ".json"):
        sid, attempt = _split_name(name)
        if sid not in best or attempt < best[sid][0]:
            best[sid] = (attempt, name)
    return [(sid, best[sid][1]) for sid in sorted(best)]


# --------------------------------------------------------------- manifests
def _manifest(spark: SparkSession, root: str, name: str) -> dict:
    return json.loads(read_file(spark, f"{root}/manifests/{name}").decode())


def _snapshots(
    spark: SparkSession,
    root: str,
    after: int | None = None,
    until: int | None = None,
) -> list[dict]:
    """Manifests of the snapshots in ``(after, until]`` (default: all),
    sid-ascending.  The window is picked by the snapshot id in each
    manifest's file name, so only the manifests inside it are read."""
    return [
        _manifest(spark, root, name)
        for sid, name in _winning_manifests(spark, root)
        if (after is None or sid > after) and (until is None or sid <= until)
    ]


def current_snapshot_id(spark: SparkSession, root: str) -> int | None:
    wins = _winning_manifests(spark, root)
    return wins[-1][0] if wins else None


def _write_data_dir(df: DataFrame, root: str, sid: int, attempt: str) -> list[str]:
    """Write ``df`` under the attempt-unique data dir and return the
    parquet file list for the manifest (one driver-side listing)."""
    data_dir = f"{root}/data/snap-{sid}-{attempt}"
    df.write.mode("errorifexists").parquet(data_dir)
    spark = df.sparkSession
    fs, p, _ = fs_path(spark, data_dir)
    files = []
    for st in sorted(fs.listStatus(p), key=lambda s: s.getPath().getName()):
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            files.append(st.getPath().toString())
    return files


def _commit(spark: SparkSession, root: str, sid: int, attempt: str, manifest: dict) -> int:
    """Publish ``manifest`` under its attempt-unique name and verify the
    commit won.  If another committer claimed this sid with a smaller
    attempt, we lost — withdraw our manifest (the data dir becomes an
    unreferenced orphan that no read plans) and surface the conflict."""
    name = f"snap-{sid}-{attempt}.json"
    write_file(spark, f"{root}/manifests/{name}", json.dumps(manifest).encode())
    winner = dict(_winning_manifests(spark, root)).get(sid)
    if winner != name:
        fs, p, _ = fs_path(spark, f"{root}/manifests/{name}")
        fs.delete(p, False)
        raise RuntimeError(
            f"snapshot {sid} was committed concurrently; retry the operation"
        )
    return sid


def _jsonable(v) -> bool:
    return v is None or isinstance(v, (bool, int, float, str))


def _collect_stats(
    spark: SparkSession, files: list[str], schema: StructType,
    stat_cols: list[str],
) -> dict:
    """Per-file ``{"n": rows, "cols": {col: [min, max]}}`` for the
    just-written ``files``, keyed by normalized URI — the manifest
    analog of Iceberg's per-data-file column bounds.  Iceberg lifts
    these from parquet footers at commit time; footers aren't reachable
    through a pure-Hadoop-API path without reading whole files, so this
    runs ONE column-pruned distributed aggregate over the new files
    (scans only the stat columns, grouped by ``input_file_name`` —
    cluster-parallel, proportional to the files just written, never the
    table).  Only JSON-scalar bounds (int/float/str/bool) are recorded;
    other types are skipped and those files simply never prune."""
    names = {f.name for f in schema.fields}
    cols = [c for c in stat_cols if c in names]
    if not cols or not files:
        return {}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    rows = (
        spark.read.schema(schema)
        .parquet(*files)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(*aggs)
        .collect()
    )
    out = {}
    for r in rows:
        colstats = {}
        for c in cols:
            mn, mx = r[f"__mn_{c}"], r[f"__mx_{c}"]
            if _jsonable(mn) and _jsonable(mx):
                colstats[c] = [mn, mx]
        out[_norm_uri(r["__f"])] = {"n": r["__n"], "cols": colstats}
    return out


def append_snapshot(
    df: DataFrame, root: str, stat_cols: list[str] | None = None
) -> int:
    """Append ``df`` as a new snapshot; returns the new snapshot id.
    Iceberg equivalent: ``df.writeTo(table).append()``.  With
    ``stat_cols``, per-file min/max bounds for those columns are
    recorded in the manifest (Iceberg's column bounds), enabling
    file-skipping via ``read_snapshot(..., prune=...)``."""
    spark = df.sparkSession
    parent = current_snapshot_id(spark, root)
    sid = (parent or 0) + 1
    attempt = uuid.uuid4().hex[:8]
    # attempt-unique data dir: a killed previous attempt can never
    # collide, and unreferenced attempts are invisible to readers
    files = _write_data_dir(df, root, sid, attempt)
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "files": files,
        "operation": "append",
        "schema": df.schema.jsonValue(),
    }
    if stat_cols:
        manifest["stats"] = _collect_stats(spark, files, df.schema, stat_cols)
    return _commit(spark, root, sid, attempt, manifest)


def _added_entries(snap: dict) -> list[tuple[str, str]]:
    """The ``(file, schema_json)`` entries this manifest ADDED.
    ``replace`` and ``rollback`` manifests carry per-file schemas under
    ``"entries"`` because their files can come from several schema
    groups; every other manifest tags each of its ``"files"`` with its
    single recorded schema."""
    if "entries" in snap:
        return [(f, key) for f, key in snap["entries"]]
    key = StructType.fromJson(snap["schema"]).json()
    return [(f, key) for f in snap["files"]]


def _state_files(snaps: list[dict]) -> list[tuple[str, str]]:
    """Ordered fold of manifests → the live ``(file, schema_json)``
    list: each manifest first drops its ``removed_files`` from the
    accumulated state, then appends its own files tagged with its
    recorded schema.  This is Iceberg's snapshot inheritance — a
    merge/delete manifest removes exactly the files it rewrote."""
    entries: list[tuple[str, str]] = []
    for snap in snaps:
        removed = {_norm_uri(f) for f in snap.get("removed_files", [])}
        if removed:
            entries = [e for e in entries if _norm_uri(e[0]) not in removed]
        entries.extend(_added_entries(snap))
    return entries


def _state_stats(snaps: list[dict]) -> dict:
    """Fold of per-file column-bounds stats (normalized URI → stats)
    across manifests, removed files dropped.  Files written without
    stats (appends without ``stat_cols``, merge/delete rewrites) are
    simply absent — they can never be pruned, which is the
    conservative direction."""
    stats: dict = {}
    for snap in snaps:
        for f in snap.get("removed_files", []):
            stats.pop(_norm_uri(f), None)
        stats.update(snap.get("stats", {}))
    return stats


def _stats_may_match(stat: dict, prune: dict) -> bool:
    """Can a file with ``stat`` bounds contain a row inside every
    pruned column's [lo, hi] range?  Unknown columns / non-scalar or
    NULL bounds keep the file (never prune on missing evidence)."""
    for c, (lo, hi) in prune.items():
        bounds = stat.get("cols", {}).get(c)
        if not bounds:
            continue
        mn, mx = bounds
        if mn is None or mx is None:
            continue
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    return True


def _read_entries(
    spark: SparkSession, entries: list[tuple[str, str]]
) -> DataFrame:
    """Read ``(file, schema_json)`` entries, honoring each file's
    recorded schema.  Files are grouped by schema (one parquet scan per
    distinct schema — normally 1, 2 during an evolution window) and
    joined with ``unionByName(allowMissingColumns=True)``: columns added
    by a later append read as NULL for older snapshots, Iceberg's
    add-column semantics.  Column pruning and predicate pushdown apply
    per scan as usual."""
    by_schema: dict[str, list[str]] = {}
    for f, key in entries:
        by_schema.setdefault(key, []).append(f)
    out = None
    for key, files in by_schema.items():
        part = spark.read.schema(StructType.fromJson(json.loads(key))).parquet(
            *files
        )
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    return out


def _read_snaps(spark: SparkSession, snaps: list[dict]) -> DataFrame:
    entries = _state_files(snaps)
    if not entries:
        return spark.createDataFrame([], schema=DOCS_SCHEMA)
    return _read_entries(spark, entries)


def read_snapshot(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    prune: dict | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Table contents AS OF ``snapshot_id`` (default: latest).  Iceberg
    equivalent: ``VERSION AS OF``.  An unknown snapshot id raises (the
    Iceberg behavior) rather than silently reading the latest state.

    ``prune`` is a range read with manifest-level file skipping
    (Iceberg's min/max pruning): ``{col: (lo, hi)}`` (either bound may
    be ``None``) returns exactly the rows inside every range — NULLs
    excluded, standard range-predicate semantics — while data files
    whose recorded column bounds cannot overlap a range are dropped
    from the scan plan entirely, BEFORE Spark ever lists or opens them.
    At 100 TB this is the difference between planning thousands of
    files and planning the handful a selective range touches; files
    without recorded bounds are conservatively kept and filtered
    row-wise.

    ``tag`` reads AS OF a named tag (Iceberg ``VERSION AS OF 'name'``);
    mutually exclusive with ``snapshot_id``."""
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass either snapshot_id or tag, not both")
        tags = list_tags(spark, root)
        if tag not in tags:
            raise ValueError(f"unknown tag {tag!r} (known: {sorted(tags)})")
        snapshot_id = tags[tag]
    snaps = _snapshots(spark, root, until=snapshot_id)
    if snapshot_id is not None and (
        not snaps or snaps[-1]["snapshot_id"] != snapshot_id
    ):
        known = [sid for sid, _ in _winning_manifests(spark, root)]
        raise ValueError(
            f"unknown snapshot id {snapshot_id} (known: {known})"
        )
    if not prune:
        return _read_snaps(spark, snaps)
    entries = _state_files(snaps)
    stats = _state_stats(snaps)
    kept = [
        e for e in entries
        if _stats_may_match(stats.get(_norm_uri(e[0]), {}), prune)
    ]
    if not kept:
        schema = (
            StructType.fromJson(snaps[-1]["schema"]) if snaps else DOCS_SCHEMA
        )
        df = spark.createDataFrame([], schema=schema)
    else:
        df = _read_entries(spark, kept)
    for c, (lo, hi) in prune.items():
        if lo is not None:
            df = df.filter(F.col(c) >= lo)
        if hi is not None:
            df = df.filter(F.col(c) <= hi)
    return df


def incremental_read(
    spark: SparkSession,
    root: str,
    after: int | None,
    until: int | None = None,
) -> DataFrame:
    """Rows appended AFTER snapshot ``after`` up to ``until`` (default:
    latest) — the incremental-processing feed.  Iceberg equivalent: an
    incremental APPEND scan with ``start-snapshot-id``/``end-snapshot-
    id``, with Iceberg's per-operation semantics:

    - ``append`` snapshots contribute the files they added;
    - ``replace`` (compaction) snapshots contribute NOTHING — they
      rewrite rows the consumer has already seen, so including them
      would re-deliver the whole compacted set;
    - ``merge`` / ``delete`` / ``rollback`` snapshots CHANGE rows,
      which an append-only feed cannot represent — they raise
      ``ValueError`` (Iceberg's incremental scan refuses non-append
      snapshots).

    Only the manifests inside ``(after, until]`` are read — the window
    is picked by the snapshot id in each manifest's file name — so a
    tail cycle's driver cost follows the window, not the table's age.

    Pairs with the checkpointed extract job: process the diff, record
    ``until`` as the new high-water mark — and a maintenance compaction
    running between two tail cycles is invisible to the tail instead of
    a duplicate storm."""
    use = []
    for s in _snapshots(spark, root, after, until):
        op = s["operation"]
        if op == "replace":
            continue
        if op in ("merge", "delete", "rollback"):
            raise ValueError(
                f"snapshot {s['snapshot_id']} is a {op}: an incremental "
                "append scan cannot represent row changes"
            )
        use.append(s)
    return _read_snaps(spark, use)


def _hit_files(
    tagged: DataFrame, entries: list[tuple[str, str]], hits: DataFrame
) -> list[tuple[str, str]]:
    """The subset of ``entries`` whose file contributed at least one row
    to ``hits`` (a frame derived from ``tagged`` that kept ``_src_file``).
    One distinct + collect, bounded by the table's FILE count — the same
    driver-side metadata scale as Iceberg's manifest evaluation."""
    norm_hit = {
        _norm_uri(r["_src_file"])
        for r in hits.select("_src_file").distinct().collect()
    }
    return [(f, key) for f, key in entries if _norm_uri(f) in norm_hit]


def merge_into(source: DataFrame, root: str, key_cols: list[str]) -> int:
    """Iceberg ``MERGE INTO target USING source ON target.k = source.k
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
    under copy-on-write: target rows whose key appears in ``source`` are
    replaced by the source row, all other source rows are inserted,
    everything else is untouched.

    Scale shape (Iceberg's COW unit): a left-semi join on the keys finds
    the data FILES that contain a matched key; only those files are
    rewritten (read → anti-join out the matched rows → union the full
    source → new files).  Every untouched file is carried forward by
    manifest reference — one tiny JSON, zero data movement.  The commit
    is one new snapshot whose manifest lists the rewritten files as
    ``removed_files``, so time travel to the pre-merge state still sees
    the original rows.  Keys join with SQL equality (NULL never
    matches), Iceberg's ON-clause semantics."""
    spark = source.sparkSession
    missing = [c for c in key_cols if c not in source.columns]
    if missing:
        raise ValueError(f"key columns missing from source: {missing}")
    snaps = _snapshots(spark, root)
    parent = snaps[-1]["snapshot_id"] if snaps else None
    sid = (parent or 0) + 1
    attempt = uuid.uuid4().hex[:8]
    entries = _state_files(snaps)
    removed: list[str] = []
    new_df = source
    if entries:
        # _src_file is stamped in the scan stage (before any exchange),
        # so row→file attribution survives the semi join
        tagged = _read_entries(spark, entries).withColumn(
            "_src_file", F.input_file_name()
        )
        keys = source.select(*key_cols).dropDuplicates(key_cols)
        affected = _hit_files(
            tagged, entries, tagged.join(keys, on=key_cols, how="left_semi")
        )
        if affected:
            removed = [f for f, _key in affected]
            survivors = _read_entries(spark, affected).join(
                keys, on=key_cols, how="left_anti"
            )
            new_df = survivors.unionByName(source, allowMissingColumns=True)
    files = _write_data_dir(new_df, root, sid, attempt)
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "files": files,
        "removed_files": removed,
        "operation": "merge",
        "schema": new_df.schema.jsonValue(),
    }
    return _commit(spark, root, sid, attempt, manifest)


def delete_where(
    spark: SparkSession, root: str, condition: Column | str
) -> int | None:
    """Iceberg ``DELETE FROM t WHERE condition`` under copy-on-write:
    rows for which ``condition`` is TRUE are removed (FALSE and NULL
    rows are kept — SQL DELETE semantics).  Only data files that contain
    at least one matching row are rewritten; all others are carried
    forward by manifest reference.  Returns the new snapshot id, or
    ``None`` when nothing matched (no empty snapshot is committed,
    Iceberg's behavior)."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    snaps = _snapshots(spark, root)
    entries = _state_files(snaps)
    if not entries:
        return None
    tagged = _read_entries(spark, entries).withColumn(
        "_src_file", F.input_file_name()
    )
    affected = _hit_files(tagged, entries, tagged.filter(cond))
    if not affected:
        return None
    parent = snaps[-1]["snapshot_id"]
    sid = parent + 1
    attempt = uuid.uuid4().hex[:8]
    kept = _read_entries(spark, [e for e in affected]).filter(
        ~F.coalesce(cond, F.lit(False))
    )
    files = _write_data_dir(kept, root, sid, attempt)
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "files": files,
        "removed_files": [f for f, _key in affected],
        "operation": "delete",
        "schema": kept.schema.jsonValue(),
    }
    return _commit(spark, root, sid, attempt, manifest)


def _zorder_column(cols: list[str], bounds: dict, bits: int) -> Column:
    """Morton code over ``cols``: each value is normalized to a
    ``bits``-bit rank against its global [min, max] and the ranks'
    bits are interleaved into one long.  Range-partitioning by this
    key places rows that are close in EVERY dimension into the same
    file, which is what makes multi-dimensional min/max pruning
    effective (a single-column sort gives tight bounds on one column
    and useless bounds on the rest).

    Pure JVM bitwise expressions — ``bits * len(cols)`` shift/AND/OR
    terms inside whole-stage codegen, no UDF.  NULL ranks as the top
    value (clusters at the curve's end, the NULLS LAST convention)."""
    n = len(cols)
    top = (1 << bits) - 1
    planes: list[Column] = []
    for ci, c in enumerate(cols):
        mn, mx = bounds[c]
        span = float(mx - mn) if mx > mn else 1.0
        rank = F.floor(
            (F.col(c).cast("double") - F.lit(float(mn)))
            / F.lit(span)
            * F.lit(float(top))
        ).cast("long")
        rank = F.least(
            F.lit(top).cast("long"),
            F.greatest(F.lit(0).cast("long"), rank),
        )
        rank = F.coalesce(rank, F.lit(top).cast("long"))
        for b in range(bits):
            planes.append(
                F.shiftleft(
                    F.shiftright(rank, b).bitwiseAND(F.lit(1)), b * n + ci
                )
            )
    z = planes[0]
    for p in planes[1:]:
        z = z.bitwiseOR(p)
    return z


def rewrite_data_files(
    spark: SparkSession,
    root: str,
    small_file_bytes: int = 32 << 20,
    target_file_bytes: int = 128 << 20,
    stat_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict | None:
    """Bin-pack small data files into fewer, larger ones — Iceberg's
    ``rewrite_data_files`` compaction.  Streaming appends and
    file-granular merges inevitably accrete small files; at 100 TB the
    resulting task-per-tiny-file scan plan is the classic small-files
    death, so compaction is table maintenance, not an optimization.

    Live files under ``small_file_bytes`` (sizes from one driver-side
    ``getFileStatus`` sweep — metadata-only, bounded by file count) are
    read back per schema group, repartitioned to roughly
    ``target_file_bytes`` outputs, and committed as ONE ``replace``
    snapshot: new files in, compacted files in ``removed_files``.  Row
    content is byte-identical before and after; time travel to
    pre-compaction snapshots still plans the original files, which stay
    on disk.  With ``stat_cols`` the rewritten files get fresh
    column bounds so pruning keeps working across compaction.  Returns
    ``None`` when fewer than two live files qualify (no gain — Iceberg
    likewise skips no-op rewrites).

    With ``zorder_by`` the rewrite is a CLUSTERING rewrite (Iceberg's
    ``strategy => 'sort', sort_order => 'zorder(a, b)'``): ALL live
    files — not just small ones — are range-partitioned along a Morton
    curve over the given numeric columns and rewritten, and fresh
    bounds for those columns are always recorded.  After the rewrite a
    ``prune`` on any subset of the zorder columns skips every file
    whose cluster is outside the range; on a randomly-loaded 100 TB
    table that turns a 2-D range read from a full scan into a handful
    of files.  Zorder columns must exist in every live schema group
    (rewriting is state-wide) — a missing column raises rather than
    silently producing an unclustered group."""
    snaps = _snapshots(spark, root)
    entries = _state_files(snaps)
    sized: list[tuple[str, str, int]] = []
    for f, key in entries:
        fs, p, _ = fs_path(spark, f)
        sized.append((f, key, int(fs.getFileStatus(p).getLen())))
    if zorder_by:
        candidates = sized
        stat_cols = sorted(set(stat_cols or []) | set(zorder_by))
    else:
        candidates = [e for e in sized if e[2] < small_file_bytes]
    if len(candidates) < 2:
        return None
    parent = snaps[-1]["snapshot_id"]
    sid = parent + 1
    attempt = uuid.uuid4().hex[:8]
    by_schema: dict[str, list[tuple[str, int]]] = {}
    for f, key, sz in candidates:
        by_schema.setdefault(key, []).append((f, sz))
    new_entries: list[tuple[str, str]] = []
    stats: dict = {}
    for gi, (key, group) in enumerate(sorted(by_schema.items())):
        schema = StructType.fromJson(json.loads(key))
        total = sum(sz for _f, sz in group)
        n_out = max(1, -(-total // target_file_bytes))
        df = spark.read.schema(schema).parquet(*[f for f, _sz in group])
        if zorder_by:
            missing = [c for c in zorder_by if c not in schema.names]
            if missing:
                raise ValueError(
                    f"zorder_by columns {missing} absent from live "
                    f"schema group {gi}"
                )
            bad = [
                c
                for c in zorder_by
                if not isinstance(schema[c].dataType, NumericType)
            ]
            if bad:
                raise ValueError(
                    f"zorder_by needs numeric columns; got "
                    f"{[(c, schema[c].dataType.simpleString()) for c in bad]}"
                )
            row = df.agg(
                *[
                    fn(c).alias(f"{tag}_{c}")
                    for c in zorder_by
                    for tag, fn in (("mn", F.min), ("mx", F.max))
                ]
            ).first()
            bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in zorder_by}
            if any(v is None for b in bounds.values() for v in b):
                # all-NULL column: no spatial information to cluster on
                raise ValueError(
                    f"zorder_by column with no non-NULL values in "
                    f"group {gi}: {bounds}"
                )
            bits = min(16, 60 // len(zorder_by))
            df = (
                df.withColumn(
                    "__z", _zorder_column(zorder_by, bounds, bits)
                )
                .repartitionByRange(n_out, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            df = df.repartition(n_out)
        # per-group suffix keeps one schema per physical dir
        files = _write_data_dir(df, root, sid, f"{attempt}-g{gi}")
        new_entries.extend((f, key) for f in files)
        if stat_cols:
            stats.update(_collect_stats(spark, files, schema, stat_cols))
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "entries": new_entries,
        "removed_files": [f for f, _key, _sz in candidates],
        "operation": "replace",
        "schema": snaps[-1]["schema"],
    }
    if stats:
        manifest["stats"] = stats
    _commit(spark, root, sid, attempt, manifest)
    return {
        "snapshot_id": sid,
        "compacted": len(candidates),
        "new_files": len(new_entries),
    }


def create_tag(spark: SparkSession, root: str, name: str) -> int:
    """Iceberg ``create_tag``: a named, immutable reference to the
    current snapshot — the audit/report pin Iceberg refs exist for,
    readable via ``read_snapshot(tag=...)``.  Re-tagging the same name
    to the same snapshot is idempotent; to a different one it raises
    (tags are immutable)."""
    if not name or any(c in name for c in "/\\\x00"):
        raise ValueError(f"invalid tag name {name!r}")
    known = [sid for sid, _ in _winning_manifests(spark, root)]
    if not known:
        raise ValueError(f"no snapshot to tag in {root}")
    snapshot_id = known[-1]
    existing = list_tags(spark, root)
    if name in existing:
        if existing[name] == snapshot_id:
            return snapshot_id
        raise ValueError(
            f"tag {name!r} already points at {existing[name]} "
            f"(tags are immutable)"
        )
    write_file(
        spark,
        f"{root}/refs/tag-{name}.json",
        json.dumps({"name": name, "snapshot_id": snapshot_id}).encode(),
    )
    return snapshot_id


def list_tags(spark: SparkSession, root: str) -> dict[str, int]:
    """{tag name: snapshot id} for every tag under ``root/refs``."""
    out: dict[str, int] = {}
    for fname in list_names(spark, f"{root}/refs", "tag-", ".json"):
        ref = json.loads(read_file(spark, f"{root}/refs/{fname}").decode())
        out[ref["name"]] = int(ref["snapshot_id"])
    return out


def rollback_to_snapshot(spark: SparkSession, root: str, snapshot_id: int) -> int:
    """Iceberg ``rollback_to_snapshot``: make the CURRENT table state
    equal snapshot ``snapshot_id``'s state by committing one NEW
    snapshot — metadata-only, no data file is read, copied, or
    deleted, so a bad append/merge/delete on a 100 TB table is undone
    in O(manifest).  History is preserved exactly as Iceberg does it:
    the rolled-back snapshots remain time-travel targets, and the
    rollback itself is one more auditable snapshot in the chain.

    The rollback manifest re-adds the files later snapshots removed —
    carrying their recorded schema and column bounds forward so
    pruning keeps working — and removes the files they added (those
    stay on disk for time travel).  Returns the new snapshot id, or
    the current one unchanged when the state already matches (no-op,
    like a no-gain ``rewrite_data_files``)."""
    snaps = _snapshots(spark, root)
    known = {s["snapshot_id"] for s in snaps}
    if snapshot_id not in known:
        raise ValueError(
            f"unknown snapshot id {snapshot_id} (known: {sorted(known)})"
        )
    target = [s for s in snaps if s["snapshot_id"] <= snapshot_id]
    want = _state_files(target)
    cur = _state_files(snaps)
    cur_set = {_norm_uri(f) for f, _k in cur}
    want_set = {_norm_uri(f) for f, _k in want}
    entries = [e for e in want if _norm_uri(e[0]) not in cur_set]
    removed = [f for f, _k in cur if _norm_uri(f) not in want_set]
    if not entries and not removed:
        return snaps[-1]["snapshot_id"]
    t_stats = _state_stats(target)
    stats: dict = {}
    for f, _k in entries:
        u = _norm_uri(f)
        if u in t_stats:
            stats[u] = t_stats[u]
    parent = snaps[-1]["snapshot_id"]
    sid = parent + 1
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "entries": entries,
        "removed_files": removed,
        "operation": "rollback",
        "schema": target[-1]["schema"],
    }
    if stats:
        manifest["stats"] = stats
    _commit(spark, root, sid, uuid.uuid4().hex[:8], manifest)
    return sid
