"""Execution policy shared by every operator: where a repartition's width
is set, where a plan is cut into stages, how a higher-order function
binds an expression once, how a Python stage decodes binary payloads
and quarantines the ones that fail, how it re-chunks a doc-clustered
stream, the Hadoop-FS primitives that state and scratch files go
through, and the Python worker's per-task import cost.

This module imports nothing from the package, so any module can import
it at top level.
"""

from __future__ import annotations

import atexit
import functools
import os
import sys
import tempfile
import uuid
import zipimport
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# ------------------------------------------------------- Python workers
def skip_unchanged_archive_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive file changed since this importer last read it.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of EVERY task (``worker_util.setup_spark_files``).  Up to CPython 3.11
    that re-reads the central directory of every archive on ``sys.path``,
    once per cached ``zipimporter``: a worker of the standard Spark
    distribution holds about 16 of them (pyspark.zip once per imported
    subpackage, the py4j zip, the spark-core jar), and the call costs
    ~170 ms of CPU per task before the task touches data.  CPython 3.12
    made the re-read lazy (gh-103200), so there this installs nothing.

    The stamp (inode, size, mtime_ns) is taken BEFORE the read and kept
    per importer instance: importers of the same archive share the
    module-level directory cache but each holds its own ``_files``, so
    after a rewrite every one of them must re-read, not only the first.
    An importer that has no stamp yet reads once.  Idempotent; the
    package ``__init__`` calls it, so every worker that unpickles an
    operator UDF runs it."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "__wrapped__", None) is not None:
        return

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
            return
        reread(self)
        self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# ------------------------------------------------------------ partitioning
def spread(documents: DataFrame) -> DataFrame:
    """Round-robin rebalance of the input — ONLY when the scan is
    under-split.

    Compute-heavy per-row work (md5 folds, shingling, set intersections)
    runs inside the scan tasks, and a small single-file table would put
    everything in one task.  A well-split production table already has
    ≥ cores splits, and round-robin shuffling the full text corpus it
    doesn't need is exactly the 100 TB anti-pattern — so this is a no-op
    unless the scan has fewer partitions than the target parallelism."""
    n = documents.sparkSession.sparkContext.defaultParallelism
    # file-count heuristic, NOT ``.rdd.getNumPartitions()``: touching
    # ``.rdd`` forces an RDD conversion of the logical plan at
    # plan-build time.  ``inputFiles()`` is metadata-only; a scan with
    # ≥ n files yields ≥ n splits under the DEFAULT file-source packing
    # (openCostInBytes padding sizes bins to bytesPerCore — measured:
    # 32 tiny files at defaultParallelism 8 plan exactly 8 scan
    # partitions; big files split further, never coarser).  Deployments
    # that zero out spark.sql.files.openCostInBytes void the heuristic:
    # a scan of many tiny files may then plan fewer than n splits and is
    # still left as it is.  Non-file plans (in-memory test frames)
    # report zero files and get balanced.
    if len(documents.inputFiles()) >= n:
        return documents
    return documents.repartition(n)


def pin_fanout(df: DataFrame, *cols) -> DataFrame:
    """Hash-repartition ``df`` on ``cols`` to a FIXED width of twice the
    cluster's parallelism (at least 8).

    For exchanges that are byte-small but feed CPU-huge work (pair
    joins, n-gram expansion): the column-only form is AQE-coalescible
    (REPARTITION_BY_COL), and AQE's byte heuristic collapses such an
    exchange to a handful of tasks.  REPARTITION_BY_NUM pins the
    fan-out, and the width follows the cluster, so the fix scales."""
    n = max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    return df.repartition(n, *cols)


# ---------------------------------------------------------- HOF lambdas
def bind_once(expr: Column, fn) -> Column:
    """``fn(expr)``, with ``expr`` evaluated once per row.

    Spark does not share a subexpression across a higher-order
    function's lambda boundary, so an ``expr`` used inside the lambdas
    ``fn`` builds would be re-evaluated on every call.  Wrapping it in a
    one-element array transform makes the lambda variable the
    materialised value."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


# ------------------------------------------------------- Python stages
# What a payload decoder may raise on bad input.  Anything else is a
# decoder bug and fails the task.
QUARANTINE_ERRORS = (ValueError, NotImplementedError)


def quarantine_reason(err: Exception) -> str:
    """The reason a quarantine row carries: ``Type: message``, cut at
    200 characters."""
    return f"{type(err).__name__}: {err}"[:200]


def decode_payloads(
    frame: DataFrame,
    schema: str,
    keys: tuple[str, ...],
    decode: Callable[[bytes], Iterable[tuple]],
    quarantine: tuple = (),
    payload: str = "payload",
) -> DataFrame:
    """Decode the binary ``payload`` column of ``frame`` into rows of
    ``schema`` in one ``mapInPandas`` stage, one Python call per Arrow
    batch.  Every input row gets a defined outcome, so no payload can
    fail the task.

    The first ``len(keys)`` output columns copy the input columns
    ``keys``, and the last output column is the reason.  ``decode(b)``
    yields the values of every other column of one output row, reason
    included (None for a decoded row).  A null payload, one that decodes
    to no rows, or one whose decode raises a :data:`QUARANTINE_ERRORS`
    error, gets exactly one quarantine row: the key, then
    ``quarantine`` (all NULL when empty), then the reason (``null
    payload``, ``no rows`` or :func:`quarantine_reason`).

    Columns are built as object Series, so Arrow converts each value as
    the schema types it: 64-bit integers stay exact where a column
    with NULLs would otherwise pass through float64.  A batch that
    yields no rows yields no frame."""
    names = [f.split(" ")[0] for f in schema.split(", ")]
    fill = quarantine or (None,) * (len(names) - len(keys) - 1)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out: list[tuple] = []
            for *key, p in zip(*(pdf[k] for k in keys), pdf[payload]):
                if p is None:
                    rows = [(*fill, "null payload")]
                else:
                    try:
                        rows = list(decode(bytes(p))) or [(*fill, "no rows")]
                    except QUARANTINE_ERRORS as e:
                        rows = [(*fill, quarantine_reason(e))]
                out += [(*key, *row) for row in rows]
            if out:
                cols = zip(names, zip(*out, strict=True), strict=True)
                yield pd.DataFrame({n: pd.Series(c, dtype=object) for n, c in cols})

    return frame.mapInPandas(fn, schema=schema)


def doc_complete_stream(batches, frame_fn):
    """mapInPandas wrapper: one Python call per Arrow batch (not per doc).
    Batches may split a document, so a tail buffer holds the last doc_id's
    rows until the next batch proves it complete — the classic
    partition-iterator re-chunking pattern."""
    import pandas as pd

    buf: pd.DataFrame | None = None
    for pdf in batches:
        if buf is not None and len(buf):
            pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
        if not len(pdf):
            continue
        last = pdf["doc_id"].iloc[-1]
        first_of_last = int((pdf["doc_id"].to_numpy() == last).argmax())
        if first_of_last == 0:
            buf = pdf
            continue
        yield frame_fn(pdf.iloc[:first_of_last])
        buf = pdf.iloc[first_of_last:].reset_index(drop=True)
    if buf is not None and len(buf):
        yield frame_fn(buf)


# ------------------------------------------------------- Hadoop FS helpers
# Every state/metadata probe goes through the Hadoop FS API — the SAME
# filesystem Spark reads and writes.  A driver-local ``Path.exists()``
# is wrong on any cluster whose default FS is not the driver's disk.
def fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = fs_path(spark, path)
    return bool(fs.exists(p))


def list_names(
    spark: SparkSession, path: str, prefix: str = "", suffix: str = ""
) -> list[str]:
    """Names of the entries directly under ``path`` that start with
    ``prefix`` and end with ``suffix``; [] when ``path`` is absent."""
    fs, p, _ = fs_path(spark, path)
    if not fs.exists(p):
        return []
    names = (st.getPath().getName() for st in fs.listStatus(p))
    return [n for n in names if n.startswith(prefix) and n.endswith(suffix)]


def read_file(spark: SparkSession, path: str) -> bytes:
    fs, p, jvm = fs_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def write_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``path`` create-then-rename so readers never observe a
    partial file.  ``path`` must be attempt-unique (never pre-existing):
    the commit protocol's uniqueness rule is what makes this safe on
    filesystems whose rename silently overwrites (POSIX ``file://``)."""
    fs, p, jvm = fs_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise RuntimeError(f"rename to {path} failed")


# --------------------------------------------------------- stage boundary
def scratch_root(spark: SparkSession) -> str:
    """Scratch root ON THE SPARK DEFAULT FILESYSTEM.  A driver-local
    ``tempfile.gettempdir()`` path is only correct when the default FS
    is ``file:`` (local mode): on a cluster whose default FS is HDFS/S3
    a schemeless write resolves against THAT FS while driver-local
    cleanup would target a different disk — write and rmtree must agree.
    Deployments whose default-FS ``/tmp`` is absent or unwritable (e.g.
    prefix-scoped object-store permissions) point scratch elsewhere via
    ``spark.rtu.scratchDir``."""
    configured = spark.conf.get("spark.rtu.scratchDir", None)
    if configured:
        return configured.rstrip("/")
    fs_default = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    if fs_default.startswith("file:"):
        return tempfile.gettempdir()
    return "/tmp"  # a path on the shared default FS


def stage_boundary(df: DataFrame, tag: str) -> DataFrame:
    """Materialize ``df`` to scratch parquet and read it back — a stage
    boundary for plans that consume an expensive intermediate more than
    once.  The upstream jobs run at plan-build time: for the callers the
    boundary IS the point.

    Versus ``.cache()`` (what an earlier revision used): a corpus-scale
    cached intermediate pins executor storage memory and thrashes at
    100 TB, while a parquet boundary is bounded by scratch disk, is
    readable with column pruning by each consumer, and survives executor
    loss.

    Scratch placement/cleanup: paths live under an application-scoped
    directory on the SPARK DEFAULT FILESYSTEM (see :func:`scratch_root`)
    and are deleted through the Hadoop FS API at interpreter exit.  Each
    invocation gets a UNIQUE path — a deterministic per-tag path with
    overwrite (an earlier revision) silently corrupts the frame a
    PREVIOUS invocation of the same operator returned, and races
    concurrent driver threads."""
    spark = df.sparkSession
    app_dir = f"{scratch_root(spark)}/rtu_stage/{spark.sparkContext.applicationId}"
    if app_dir not in _STAGE_DIRS:
        _STAGE_DIRS.add(app_dir)
        atexit.register(_delete_tree, spark, app_dir)
    path = f"{app_dir}/{tag}_{uuid.uuid4().hex[:8]}"
    df.write.mode("errorifexists").parquet(path)
    return spark.read.parquet(path)


_STAGE_DIRS: set[str] = set()


def _delete_tree(spark: SparkSession, path: str) -> None:
    try:
        fs, p, _ = fs_path(spark, path)
        fs.delete(p, True)
    except Exception:
        pass  # the JVM may already be down at interpreter exit
