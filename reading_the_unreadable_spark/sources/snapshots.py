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
  incremental extraction job consumes to process only NEW documents
- ``expire_snapshots(spark, root, keep_n)`` → Iceberg
  ``expireSnapshots().retainLast(n)`` + orphan-file removal: old
  time-travel points disappear, their data files are retained for the
  surviving snapshots, and unreferenced attempt dirs are reclaimed
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
  intermediate snapshots stay time-travelable until expired)
- ``create_tag / delete_tag / list_tags`` + ``read_snapshot(tag=...)``
  → Iceberg refs: named immutable snapshot pins that
  ``expire_snapshots`` RETAINS regardless of ``keep_n`` (the
  audit/report pin), readable as ``VERSION AS OF 'name'``
- ``stage_append / read_staged / publish_staged / abort_staged`` →
  Iceberg write-audit-publish (``spark.wap.id``): data files written
  for real but invisible to every read until an audit passes and the
  publish commits them metadata-only; aborted stages become orphans
  that expire reclaims
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

Manifests record explicit data-FILE lists (Iceberg's manifest unit);
legacy manifests that recorded data DIRS under ``"paths"`` are expanded
at read-plan time.  Table state at snapshot S is the ordered fold over
manifests 1..S: drop each manifest's ``removed_files`` from the
accumulated set, then add its ``files`` — exactly Iceberg's
snapshot-inheritance model, so a merge/delete is one tiny manifest plus
the rewritten files, never a table copy.

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
dir becomes an unreferenced orphan that ``expire_snapshots`` reclaims.
A killed append leaves the same kind of orphan: harmless, invisible to
readers, re-append-able.  Scale shape: manifests are tiny metadata
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


def _manifest_names(spark: SparkSession, root: str) -> list[str]:
    """All manifest file names, including race losers not yet cleaned."""
    return list_names(spark, f"{root}/manifests", "snap-", ".json")


def _split_name(name: str) -> tuple[int, str]:
    """``snap-<sid>-<attempt>.json`` → (sid, attempt).  Accepts the
    legacy attempt-less form ``snap-<sid>.json`` as attempt ``""``
    (sorts first, so a legacy manifest always wins its sid)."""
    body = name[5:-5]
    sid, _, attempt = body.partition("-")
    return int(sid), attempt


def _winning_manifests(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """One (sid, file name) per snapshot id, sid-ascending.  When a
    commit race left several manifests for one sid, the winner is the
    smallest attempt string — deterministic on every filesystem, no
    reliance on rename semantics."""
    best: dict[int, tuple[str, str]] = {}
    for name in _manifest_names(spark, root):
        sid, attempt = _split_name(name)
        if sid not in best or attempt < best[sid][0]:
            best[sid] = (attempt, name)
    return [(sid, best[sid][1]) for sid in sorted(best)]


# --------------------------------------------------------------- manifests
def _snapshots(spark: SparkSession, root: str) -> list[dict]:
    return [
        json.loads(read_file(spark, f"{root}/manifests/{name}").decode())
        for _, name in _winning_manifests(spark, root)
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
    expire-reclaimable orphan) and surface the conflict."""
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


# ---------------------------------------------- hidden partitioning
# Iceberg partition TRANSFORMS: the table declares a spec like
# [bucket(16, doc_id), identity(source)]; writers route rows into
# partition directories by the TRANSFORMED value, the manifest records
# each data file's partition tuple, and readers prune files from the
# range predicate alone — without ever knowing the physical layout
# (Iceberg's "hidden partitioning": queries mention doc_id, never the
# bucket).  Spec entries are ``(col, "identity")``, ``(col, "bucket",
# N)`` or ``(col, "truncate", W)``; sources are restricted to
# integer/string columns so the transformed value round-trips exactly
# through a Hive-style directory name.

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _norm_spec(partition_by) -> list[tuple[str, str, int | None]]:
    spec = []
    for entry in partition_by:
        if len(entry) == 2:
            col, tr, param = entry[0], entry[1], None
        else:
            col, tr, param = entry
        if tr not in ("identity", "bucket", "truncate"):
            raise ValueError(f"unknown partition transform {tr!r}")
        if tr in ("bucket", "truncate") and not (
            isinstance(param, int) and param > 0
        ):
            raise ValueError(f"{tr} transform needs a positive int param")
        spec.append((col, tr, param))
    return spec


def _spec_source_kind(schema: StructType, col: str) -> str:
    """'int' or 'str' — the only source kinds a transform accepts."""
    kind = {f.name: f.dataType.typeName() for f in schema.fields}.get(col)
    if kind in ("byte", "short", "integer", "long"):
        return "int"
    if kind == "string":
        return "str"
    raise ValueError(
        f"partition source column {col!r} must be integer or string "
        f"(got {kind})"
    )


def _transform_col(kind: str, col: str, tr: str, param: int | None) -> Column:
    """The transform as a Spark expression (write path)."""
    c = F.col(col)
    if tr == "identity":
        return c
    if tr == "bucket":
        # md5-based bucket: bit-identical to the Python replica below on
        # every engine (Spark's murmur hash() is not portably
        # replicable driver-side without the JVM)
        return F.pmod(
            F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(param),
        )
    if kind == "int":  # truncate, integer source: floor to width multiple
        return (F.floor(c / param) * param).cast("long")
    return F.substring(c, 1, param)  # truncate, string source


def _transform_py(kind: str, v, tr: str, param: int | None):
    """Driver-side replica of :func:`_transform_col` for prune bounds."""
    import hashlib

    if v is None:
        return None
    if tr == "identity":
        return v
    if tr == "bucket":
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % param
    if kind == "int":
        return (int(v) // param) * param
    return str(v)[:param]


def _parse_part_value(raw: str, kind: str, tr: str):
    if raw == _HIVE_NULL:
        return None
    from urllib.parse import unquote

    raw = unquote(raw)
    if tr == "bucket" or kind == "int":
        return int(raw)
    return raw


def _partition_may_match(
    spec: list, values: list, prune: dict
) -> bool:
    """Can a file whose partition tuple is ``values`` contain a row
    inside every pruned range?  NULL partition values and unknown
    columns keep the file (never prune on missing evidence)."""
    for (col, tr, param, kind), v in zip(spec, values):
        if col not in prune or v is None:
            continue
        lo, hi = prune[col]
        try:
            if tr == "identity":
                if (lo is not None and v < lo) or (hi is not None and v > hi):
                    return False
            elif tr == "bucket":
                # a bucket constrains only point lookups
                if (
                    lo is not None
                    and lo == hi
                    and _transform_py(kind, lo, tr, param) != v
                ):
                    return False
            elif kind == "int":  # truncate: file covers [v, v + W)
                if (hi is not None and v > hi) or (
                    lo is not None and v + param - 1 < lo
                ):
                    return False
            else:  # truncate on strings: every row shares prefix v
                if (hi is not None and v > str(hi)) or (
                    lo is not None and v < str(lo)[:param]
                ):
                    return False
        except TypeError:
            continue  # incomparable bound: keep the file
    return True


def _write_data_dir_partitioned(
    df: DataFrame, root: str, sid: int, attempt: str, spec: list
) -> tuple[list[str], dict]:
    """Write ``df`` routed into Hive-style transform directories and
    return ``(files, {norm_uri: partition_tuple})``.  The synthetic
    ``_pt{i}`` columns exist only as directory names — data files keep
    exactly the user schema."""
    kinds = [_spec_source_kind(df.schema, col) for col, _tr, _p in spec]
    pcols = [f"_pt{i}" for i in range(len(spec))]
    out = df
    for (col, tr, param), kind, pc in zip(spec, kinds, pcols):
        out = out.withColumn(pc, _transform_col(kind, col, tr, param))
    data_dir = f"{root}/data/snap-{sid}-{attempt}"
    out.write.mode("errorifexists").partitionBy(*pcols).parquet(data_dir)
    spark = df.sparkSession
    fs, p, _ = fs_path(spark, data_dir)
    files: list[str] = []
    partitions: dict = {}

    def walk(path, values):
        for st in sorted(fs.listStatus(path), key=lambda s: s.getPath().getName()):
            name = st.getPath().getName()
            if st.isDirectory() and "=" in name:
                i = len(values)
                v = _parse_part_value(
                    name.split("=", 1)[1], kinds[i], spec[i][1]
                )
                walk(st.getPath(), values + [v])
            elif name.endswith(".parquet") and not name.startswith(("_", ".")):
                f = st.getPath().toString()
                files.append(f)
                partitions[_norm_uri(f)] = values
    walk(p, [])
    return files, partitions


def _state_partitions(snaps: list[dict]) -> dict:
    """Fold of per-file partition info across manifests:
    ``{norm_uri: (spec_with_kinds, values)}``.  Files written without a
    spec (unpartitioned appends, merge/delete rewrites) are absent and
    never partition-prune — the conservative direction.  Spec evolution
    is free: pruning is evaluated per file against the spec its
    manifest recorded."""
    parts: dict = {}
    for snap in snaps:
        for f in snap.get("removed_files", []):
            parts.pop(_norm_uri(f), None)
        spec = snap.get("partition_spec")
        if spec:
            schema = _schema_of(snap)
            spec_k = [
                (col, tr, param, _spec_source_kind(schema, col))
                for col, tr, param in spec
            ]
            for f, values in snap.get("partitions", {}).items():
                parts[f] = (spec_k, values)
        # fold manifests carry pre-resolved info under "partitions_k"
        for f, (spec_k, values) in snap.get("partitions_k", {}).items():
            parts[f] = ([tuple(e) for e in spec_k], values)
    return parts


def append_snapshot(
    df: DataFrame,
    root: str,
    stat_cols: list[str] | None = None,
    partition_by: list[tuple] | None = None,
) -> int:
    """Append ``df`` as a new snapshot; returns the new snapshot id.
    Iceberg equivalent: ``df.writeTo(table).append()``.  With
    ``stat_cols``, per-file min/max bounds for those columns are
    recorded in the manifest (Iceberg's column bounds), enabling
    file-skipping via ``read_snapshot(..., prune=...)``.  With
    ``partition_by`` (e.g. ``[("doc_id", "bucket", 16), ("source",
    "identity")]``), rows are routed into hidden-partition directories
    and each file's partition tuple is recorded — ``prune`` then skips
    whole partitions from the predicate alone, Iceberg's hidden
    partitioning."""
    spark = df.sparkSession
    parent = current_snapshot_id(spark, root)
    sid = (parent or 0) + 1
    attempt = uuid.uuid4().hex[:8]
    # attempt-unique data dir: a killed previous attempt can never
    # collide, and unreferenced attempts are invisible to readers
    partitions = None
    if partition_by:
        spec = _norm_spec(partition_by)
        files, partitions = _write_data_dir_partitioned(
            df, root, sid, attempt, spec
        )
    else:
        files = _write_data_dir(df, root, sid, attempt)
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "files": files,
        "operation": "append",
        "schema": df.schema.jsonValue(),
    }
    if partitions is not None:
        manifest["partition_spec"] = [list(e) for e in spec]
        manifest["partitions"] = partitions
    if stat_cols:
        manifest["stats"] = _collect_stats(spark, files, df.schema, stat_cols)
    return _commit(spark, root, sid, attempt, manifest)


def _schema_of(snap: dict) -> StructType:
    if "schema" in snap:
        return StructType.fromJson(snap["schema"])
    return DOCS_SCHEMA  # legacy manifest predating schema recording


def _files_of(spark: SparkSession, snap: dict) -> list[str]:
    """Data files this manifest ADDED.  New manifests record the file
    list explicitly (``"files"``); legacy dir-granular manifests
    (``"paths"``) are expanded with one driver-side listing per dir —
    a metadata-only operation, same cost class as Iceberg's manifest
    read."""
    if "files" in snap:
        return list(snap["files"])
    files: list[str] = []
    for d in snap.get("paths", []):
        fs, p, _ = fs_path(spark, d)
        for st in sorted(fs.listStatus(p), key=lambda s: s.getPath().getName()):
            name = st.getPath().getName()
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                files.append(st.getPath().toString())
    return files


def _added_entries(spark: SparkSession, snap: dict) -> list[tuple[str, str]]:
    """The ``(file, schema_json)`` entries this manifest ADDED.  A fold
    manifest (written by :func:`expire_snapshots`) carries precomputed
    per-file schemas under ``"entries"`` because it can span an
    evolution window; ordinary manifests tag every added file with
    their single recorded schema."""
    if "entries" in snap:
        return [(f, key) for f, key in snap["entries"]]
    key = _schema_of(snap).json()
    return [(f, key) for f in _files_of(spark, snap)]


def _state_files(
    spark: SparkSession, snaps: list[dict]
) -> list[tuple[str, str]]:
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
        entries.extend(_added_entries(spark, snap))
    return entries


def _state_stats(snaps: list[dict]) -> dict:
    """Fold of per-file column-bounds stats (normalized URI → stats)
    across manifests, removed files dropped.  Files written without
    stats (legacy appends, merge/delete rewrites) are simply absent —
    they can never be pruned, which is the conservative direction."""
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
    entries = _state_files(spark, snaps)
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
    Iceberg behavior) rather than silently reading the latest state —
    including ids removed by :func:`expire_snapshots`.

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
    snaps = _snapshots(spark, root)
    if snapshot_id is not None:
        known = {s["snapshot_id"] for s in snaps}
        if snapshot_id not in known:
            raise ValueError(
                f"unknown snapshot id {snapshot_id} (known: {sorted(known)})"
            )
        snaps = [s for s in snaps if s["snapshot_id"] <= snapshot_id]
    if not prune:
        return _read_snaps(spark, snaps)
    entries = _state_files(spark, snaps)
    stats = _state_stats(snaps)
    parts = _state_partitions(snaps)
    kept = []
    for e in entries:
        key = _norm_uri(e[0])
        if not _stats_may_match(stats.get(key, {}), prune):
            continue
        part = parts.get(key)
        if part is not None and not _partition_may_match(*part, prune):
            continue
        kept.append(e)
    if not kept:
        schema = (
            _schema_of(snaps[-1]) if snaps else DOCS_SCHEMA
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
    on_row_changes: str = "error",
) -> DataFrame:
    """Rows appended AFTER snapshot ``after`` up to ``until`` (default:
    latest) — the incremental-processing feed.  Iceberg equivalent: an
    incremental APPEND scan with ``start-snapshot-id``/``end-snapshot-
    id``, with Iceberg's per-operation semantics:

    - ``append`` snapshots contribute the files they added;
    - ``replace`` (compaction) and ``fold`` (expire) snapshots
      contribute NOTHING — they rewrite rows the consumer has already
      seen, so including them would re-deliver the whole compacted set;
    - ``merge`` / ``delete`` / ``rollback`` snapshots CHANGE rows,
      which an append-only feed cannot represent — they raise
      ``ValueError`` (Iceberg's incremental scan refuses non-append
      snapshots) unless ``on_row_changes="include"``, which folds
      their (re)written files in (the updated rows plus re-delivered
      survivors from partially rewritten files: at-least-once
      semantics the caller must dedup).

    Pairs with the checkpointed extract job: process the diff, record
    ``until`` as the new high-water mark — and a maintenance compaction
    running between two tail cycles is now invisible to the tail
    instead of a duplicate storm."""
    if on_row_changes not in ("error", "include"):
        raise ValueError(f"on_row_changes must be error|include, got {on_row_changes!r}")
    window = [
        s
        for s in _snapshots(spark, root)
        if (after is None or s["snapshot_id"] > after)
        and (until is None or s["snapshot_id"] <= until)
    ]
    use = []
    for s in window:
        op = s.get("operation", "append")
        if op in ("replace", "fold"):
            continue
        if op in ("merge", "delete", "rollback") and on_row_changes == "error":
            raise ValueError(
                f"snapshot {s['snapshot_id']} is a {op}: an incremental "
                "append scan cannot represent row changes (pass "
                "on_row_changes='include' for at-least-once redelivery)"
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
    entries = _state_files(spark, snaps)
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
    entries = _state_files(spark, snaps)
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
    pre-compaction snapshots still plans the original files (they are
    only reclaimed once :func:`expire_snapshots` drops those
    snapshots).  With ``stat_cols`` the rewritten files get fresh
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
    entries = _state_files(spark, snaps)
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
    # group by (schema, partition tuple): compacting WITHIN a hidden
    # partition keeps every surviving file single-partition, so
    # partition pruning works identically after compaction (Iceberg's
    # rewrite_data_files likewise rewrites per partition)
    parts = _state_partitions(snaps)
    by_group: dict[tuple[str, str], list[tuple[str, int]]] = {}
    for f, key, sz in candidates:
        part = parts.get(_norm_uri(f))
        pkey = json.dumps(part, default=list) if part is not None else ""
        by_group.setdefault((key, pkey), []).append((f, sz))
    new_entries: list[tuple[str, str]] = []
    stats: dict = {}
    partitions_k: dict = {}
    for gi, ((key, pkey), group) in enumerate(sorted(by_group.items())):
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
        # per-group suffix keeps one schema per physical dir; the dir
        # still matches the snap-* orphan-reclamation contract
        files = _write_data_dir(df, root, sid, f"{attempt}-g{gi}")
        new_entries.extend((f, key) for f in files)
        if pkey:
            spec_k, values = json.loads(pkey)
            for f in files:
                partitions_k[_norm_uri(f)] = [spec_k, values]
        if stat_cols:
            stats.update(_collect_stats(spark, files, schema, stat_cols))
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "entries": new_entries,
        "removed_files": [f for f, _key, _sz in candidates],
        "operation": "replace",
        "schema": snaps[-1].get("schema", DOCS_SCHEMA.jsonValue()),
    }
    if partitions_k:
        manifest["partitions_k"] = partitions_k
    if stats:
        manifest["stats"] = stats
    _commit(spark, root, sid, attempt, manifest)
    return {
        "snapshot_id": sid,
        "compacted": len(candidates),
        "new_files": len(new_entries),
    }


def stage_append(
    df: DataFrame, root: str, stat_cols: list[str] | None = None
) -> str:
    """Iceberg write-audit-publish, the WRITE step: the data files are
    written for real, but the manifest lands under ``root/staged/``
    where no table read ever looks — the rows are INVISIBLE until
    published.  Returns the staging name for :func:`read_staged`
    (audit), :func:`publish_staged` (commit), or :func:`abort_staged`.
    A killed staging attempt leaves an unreferenced data dir that
    ``expire_snapshots`` reclaims past the grace age; once the staging
    manifest exists it protects the dir like a published one."""
    spark = df.sparkSession
    attempt = uuid.uuid4().hex[:8]
    files = _write_data_dir(df, root, 0, f"staged-{attempt}")
    manifest: dict = {
        "staged": True,
        "files": files,
        "operation": "append",
        "schema": df.schema.jsonValue(),
    }
    if stat_cols:
        manifest["stats"] = _collect_stats(spark, files, df.schema, stat_cols)
    name = f"staged-{attempt}.json"
    write_file(spark, f"{root}/staged/{name}", json.dumps(manifest).encode())
    return name


def read_staged(spark: SparkSession, root: str, name: str) -> DataFrame:
    """The AUDIT step: read exactly the staged rows (and nothing
    else) so validation queries can gate the publish."""
    path = f"{root}/staged/{name}"
    fs, p, _ = fs_path(spark, path)
    if not fs.exists(p):
        raise ValueError(f"unknown staging {name!r}")
    snap = json.loads(read_file(spark, path).decode())
    return _read_entries(spark, _added_entries(spark, snap))


def publish_staged(spark: SparkSession, root: str, name: str) -> int:
    """The PUBLISH step: commit the staged files as a normal append
    snapshot — metadata-only, no data copied, atomic via the same
    rename protocol every commit uses.  Idempotent across a crash
    between commit and staging-file cleanup: if the staged files are
    already live, the leftover staging manifest is just removed."""
    path = f"{root}/staged/{name}"
    fs, p, _ = fs_path(spark, path)
    if not fs.exists(p):
        raise ValueError(f"unknown staging {name!r}")
    snap = json.loads(read_file(spark, path).decode())
    live = {
        _norm_uri(f) for f, _k in _state_files(spark, _snapshots(spark, root))
    }
    if snap["files"] and all(_norm_uri(f) in live for f in snap["files"]):
        fs.delete(p, False)  # crashed after commit last time; finish up
        return current_snapshot_id(spark, root)
    parent = current_snapshot_id(spark, root)
    sid = (parent or 0) + 1
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "files": snap["files"],
        "operation": "append",
        "schema": snap["schema"],
    }
    if "stats" in snap:
        manifest["stats"] = snap["stats"]
    out = _commit(spark, root, sid, uuid.uuid4().hex[:8], manifest)
    fs.delete(p, False)
    return out


def abort_staged(spark: SparkSession, root: str, name: str) -> None:
    """Drop a staging manifest (audit failed); its data dir becomes an
    orphan that ``expire_snapshots`` reclaims past the grace age."""
    fs, p, _ = fs_path(spark, f"{root}/staged/{name}")
    if not fs.exists(p):
        raise ValueError(f"unknown staging {name!r}")
    fs.delete(p, False)


def create_tag(
    spark: SparkSession, root: str, name: str, snapshot_id: int | None = None
) -> int:
    """Iceberg ``create_tag``: a named, immutable reference to a
    snapshot (default: the current one).  Tagged snapshots are
    RETAINED by :func:`expire_snapshots` regardless of ``keep_n`` —
    the audit/report pin Iceberg refs exist for.  Re-tagging the same
    name to the same snapshot is idempotent; to a different one it
    raises (tags are immutable; delete first)."""
    if not name or any(c in name for c in "/\\\x00"):
        raise ValueError(f"invalid tag name {name!r}")
    snaps = _snapshots(spark, root)
    known = {s["snapshot_id"] for s in snaps}
    if snapshot_id is None:
        snapshot_id = snaps[-1]["snapshot_id"] if snaps else None
    if snapshot_id not in known:
        raise ValueError(
            f"unknown snapshot id {snapshot_id} (known: {sorted(known)})"
        )
    existing = list_tags(spark, root)
    if name in existing:
        if existing[name] == snapshot_id:
            return snapshot_id
        raise ValueError(
            f"tag {name!r} already points at {existing[name]} "
            f"(tags are immutable; delete_tag first)"
        )
    write_file(
        spark,
        f"{root}/refs/tag-{name}.json",
        json.dumps({"name": name, "snapshot_id": snapshot_id}).encode(),
    )
    return snapshot_id


def delete_tag(spark: SparkSession, root: str, name: str) -> None:
    """Drop a tag (its snapshot becomes expirable again)."""
    fs, p, _ = fs_path(spark, f"{root}/refs/tag-{name}.json")
    if not fs.exists(p):
        raise ValueError(f"unknown tag {name!r}")
    fs.delete(p, False)


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
    the rolled-back snapshots remain time-travel targets until
    ``expire_snapshots`` drops them, and the rollback itself is one
    more auditable snapshot in the chain.

    The rollback manifest re-adds the files later snapshots removed —
    carrying their recorded schema, column bounds, and partition info
    forward so pruning keeps working — and removes the files they
    added (those stay on disk for time travel; expire reclaims them
    once their snapshots age out).  Returns the new snapshot id, or
    the current one unchanged when the state already matches (no-op,
    like a no-gain ``rewrite_data_files``)."""
    snaps = _snapshots(spark, root)
    known = {s["snapshot_id"] for s in snaps}
    if snapshot_id not in known:
        raise ValueError(
            f"unknown snapshot id {snapshot_id} (known: {sorted(known)})"
        )
    target = [s for s in snaps if s["snapshot_id"] <= snapshot_id]
    want = _state_files(spark, target)
    cur = _state_files(spark, snaps)
    cur_set = {_norm_uri(f) for f, _k in cur}
    want_set = {_norm_uri(f) for f, _k in want}
    entries = [e for e in want if _norm_uri(e[0]) not in cur_set]
    removed = [f for f, _k in cur if _norm_uri(f) not in want_set]
    if not entries and not removed:
        return snaps[-1]["snapshot_id"]
    t_stats = _state_stats(target)
    t_parts = _state_partitions(target)
    stats: dict = {}
    partitions_k: dict = {}
    for f, _k in entries:
        u = _norm_uri(f)
        if u in t_stats:
            stats[u] = t_stats[u]
        if u in t_parts:
            partitions_k[u] = list(t_parts[u])
    parent = snaps[-1]["snapshot_id"]
    sid = parent + 1
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "entries": entries,
        "removed_files": removed,
        "operation": "rollback",
        "schema": target[-1].get("schema", DOCS_SCHEMA.jsonValue()),
    }
    if stats:
        manifest["stats"] = stats
    if partitions_k:
        manifest["partitions_k"] = partitions_k
    _commit(spark, root, sid, uuid.uuid4().hex[:8], manifest)
    return sid


def expire_snapshots(
    spark: SparkSession, root: str, keep_n: int, orphan_grace_s: int = 86400
) -> dict:
    """Expire all but the newest ``keep_n`` snapshots and reclaim
    unreferenced data dirs.  Iceberg equivalent:
    ``expireSnapshots().retainLast(keep_n)`` followed by
    ``remove_orphan_files``.

    Semantics (Iceberg's): expired snapshot IDS stop being time-travel
    targets, but data files still visible from surviving snapshots are
    RETAINED — the expired manifests' paths are folded into the oldest
    surviving manifest, so ``read_snapshot(latest)`` is byte-identical
    before and after.  Only then are data dirs referenced by NO
    surviving manifest AND older than ``orphan_grace_s`` deleted
    (orphan attempt dirs from killed or race-losing appends; the grace
    age keeps a concurrent append's just-written-but-not-yet-published
    data dir safe — Iceberg's remove_orphan_files uses the same
    age-threshold guard).

    Crash-safe ordering: (1) publish the folded manifest under a new
    attempt name that deterministically wins its sid, (2) delete
    superseded + expired manifests, (3) delete unreferenced data dirs.
    A crash between any two steps leaves every read correct; re-running
    expire completes the cleanup.  Concurrent readers that already
    planned a scan hold the file list they resolved — deletion only
    touches dirs no surviving manifest references, so a reader of any
    SURVIVING snapshot is never broken.

    Returns ``{"expired": [...], "removed_dirs": [...]}``."""
    if keep_n < 1:
        raise ValueError("keep_n must be >= 1")
    wins = _winning_manifests(spark, root)
    # Iceberg ref semantics: TAGGED snapshots are retained regardless
    # of keep_n, and (since the fold collapses a contiguous prefix)
    # so is everything after the oldest protected snapshot
    protected = set(list_tags(spark, root).values())
    cut = max(len(wins) - keep_n, 0)
    while cut > 0 and protected and wins[cut - 1][0] >= min(protected):
        cut -= 1
    if cut > 0:
        expired, survivors = wins[:cut], wins[cut:]
        expired_ids = [sid for sid, _ in expired]
        # fold the fully-resolved state AT the oldest survivor (expired
        # manifests + base, removed_files applied) into one manifest; it
        # carries per-file schemas because the folded span may cross a
        # schema-evolution window
        base_sid, base_name = survivors[0]
        folded = [
            json.loads(read_file(spark, f"{root}/manifests/{name}").decode())
            for _sid, name in expired
        ]
        base = json.loads(
            read_file(spark, f"{root}/manifests/{base_name}").decode()
        )
        fold_entries = _state_files(spark, folded + [base])
        fold_norm = {_norm_uri(f) for f, _key in fold_entries}
        base = {
            "snapshot_id": base_sid,
            "parent_id": None,
            "entries": fold_entries,
            "stats": {
                k: v
                for k, v in _state_stats(folded + [base]).items()
                if k in fold_norm
            },
            # pre-resolved (spec+kind, values) so partition pruning
            # survives the fold exactly like column stats do
            "partitions_k": {
                k: [list(map(list, spec_k)), values]
                for k, (spec_k, values) in _state_partitions(
                    folded + [base]
                ).items()
                if k in fold_norm
            },
            "operation": "fold",
            "schema": base.get("schema", _schema_of(base).jsonValue()),
        }
        # "0-<hex>" sorts before any plain-hex attempt ('-' < '0'..'f'),
        # so the folded manifest deterministically wins its sid; among
        # repeated folds the smallest wins and stale ones get deleted
        new_name = f"snap-{base_sid}-0-{uuid.uuid4().hex[:8]}.json"
        write_file(
            spark, f"{root}/manifests/{new_name}", json.dumps(base).encode()
        )
        # delete expired + superseded manifests (every manifest for an
        # expired sid, and every manifest for base_sid except the winner)
        keep_names = {
            name for sid, name in _winning_manifests(spark, root)
            if sid >= base_sid
        }
        for name in _manifest_names(spark, root):
            if name not in keep_names:
                fs, p, _ = fs_path(spark, f"{root}/manifests/{name}")
                fs.delete(p, False)
    else:
        expired_ids = []
    # reclaim data dirs referenced by no surviving manifest — but only
    # past the grace age: an IN-FLIGHT append writes its data dir
    # BEFORE publishing its manifest, so a fresh unreferenced dir may
    # be a commit about to happen, not an orphan (Iceberg's
    # remove_orphan_files guards the same race with an age threshold)
    import time as _time

    # every file ADDED by any surviving manifest keeps its dir alive —
    # removed_files are ignored here on purpose: a file a later merge
    # rewrote is still needed for time travel to intermediate snapshots
    referenced = {
        f.rstrip("/").rsplit("/", 2)[-2]
        for snap in _snapshots(spark, root)
        for f, _key in _added_entries(spark, snap)
    }
    # ...and so does every file referenced by a write-audit-publish
    # STAGING manifest: staged-but-unpublished data is pending, not
    # orphaned (abort_staged removes the manifest, THEN it's an orphan)
    sfs, sp, _ = fs_path(spark, f"{root}/staged")
    if sfs.exists(sp):
        for st in sfs.listStatus(sp):
            sname = st.getPath().getName()
            if sname.endswith(".json"):
                snap = json.loads(
                    read_file(spark, f"{root}/staged/{sname}").decode()
                )
                referenced |= {
                    f.rstrip("/").rsplit("/", 2)[-2]
                    for f in snap.get("files", [])
                }
    cutoff_ms = (_time.time() - orphan_grace_s) * 1000.0
    removed = []
    fs, data_p, jvm = fs_path(spark, f"{root}/data")
    if fs.exists(data_p):
        for st in fs.listStatus(data_p):
            name = st.getPath().getName()
            if (
                name.startswith("snap-")
                and name not in referenced
                and st.getModificationTime() <= cutoff_ms
            ):
                fs.delete(st.getPath(), True)
                removed.append(name)
    return {"expired": expired_ids, "removed_dirs": sorted(removed)}
