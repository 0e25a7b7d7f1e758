"""Execution-policy helpers: the conditional rebalance, the pinned
fan-out width, the stage boundary's per-call scratch paths and the
worker's archive re-read guard."""

from __future__ import annotations

import importlib
import os
import re
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from reading_the_unreadable_spark.execution import (
    pin_fanout,
    skip_unchanged_archive_rereads,
    spread,
    stage_boundary,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_skips_well_split_scan_and_balances_in_memory(spark, tmp_path):
    dp = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "scan")
    spark.range(dp * 4).repartition(dp).write.parquet(path)
    scan = spark.read.parquet(path)
    assert len(scan.inputFiles()) >= dp
    assert "RoundRobinPartitioning" not in _plan(spread(scan))

    in_memory = spark.createDataFrame([(i,) for i in range(10)], "v long")
    assert _plan(spread(in_memory)).count("RoundRobinPartitioning") == 1


def test_pin_fanout_width(spark):
    dp = spark.sparkContext.defaultParallelism
    plan = _plan(pin_fanout(spark.range(10).withColumnRenamed("id", "k"), "k"))
    widths = re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\), REPARTITION_BY_NUM", plan)
    assert widths == [str(max(2 * dp, 8))], plan


def test_stage_boundary_same_tag_independent(spark):
    first = stage_boundary(spark.range(10), "same_tag")
    second = stage_boundary(spark.range(20, 25), "same_tag")
    assert not set(first.inputFiles()) & set(second.inputFiles())
    assert sorted(r.id for r in first.collect()) == list(range(10))
    assert sorted(r.id for r in second.collect()) == list(range(20, 25))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A package ``rtu_zpkg`` inside an archive on ``sys.path``, imported
    so that two importers hold it: one on the archive root and one on
    ``<archive>/rtu_zpkg`` (the shape pyspark.zip has on a worker)."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"rtu_zpkg/__init__.py": "", "rtu_zpkg/one.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("rtu_zpkg.one")
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] in ("rtu_zpkg", "rtu_znew")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose central directory was read, in call order."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads lazily; no guard"
)
def test_unchanged_archive_is_not_reread(zip_on_path, directory_reads):
    importers = [
        imp
        for key, imp in sys.path_importer_cache.items()
        if key.startswith(zip_on_path) and isinstance(imp, zipimport.zipimporter)
    ]
    assert len(importers) == 2
    importlib.invalidate_caches()  # an importer without a stamp reads once
    directory_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 0

    # a rewrite changes the size: EVERY importer of the archive re-reads
    # (stamps kept per archive would leave the second one's _files stale,
    # and one of the two imports below would fail)
    _write_zip(
        zip_on_path,
        {
            "rtu_zpkg/__init__.py": "",
            "rtu_zpkg/one.py": "X = 1\n",
            "rtu_zpkg/two.py": "Y = 2\n",
            "rtu_znew.py": "Z = 3\n",
        },
    )
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 2
    assert importlib.import_module("rtu_zpkg.two").Y == 2
    assert importlib.import_module("rtu_znew").Z == 3

    # same size, new mtime: re-read again, then quiet again
    st = os.stat(zip_on_path)
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 2
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 2


def test_archive_guard_installs_only_below_312(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    skip_unchanged_archive_rereads()
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    skip_unchanged_archive_rereads()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not original and guarded.__wrapped__ is original
    skip_unchanged_archive_rereads()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is guarded


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads lazily; no guard"
)
def test_worker_task_rereads_no_unchanged_archive(spark, tmp_path):
    """Inside a real Python task, after the package is imported, a second
    ``importlib.invalidate_caches()`` reads no archive directory — the
    call every PySpark task makes in ``setup_spark_files``."""
    archive = str(tmp_path / "worker_mods.zip")
    _write_zip(archive, {"rtu_wpkg/__init__.py": "", "rtu_wpkg/one.py": "X = 1\n"})

    def probe(batches):
        import reading_the_unreadable_spark  # noqa: F401  (installs the guard)

        sys.path.insert(0, archive)
        real = zipimport._read_directory
        reads: list[str] = []
        try:
            importlib.import_module("rtu_wpkg.one")
            zipimport._read_directory = lambda a: reads.append(a) or real(a)
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
            second = len(reads) - first
            zips = sum(
                isinstance(imp, zipimport.zipimporter)
                for imp in sys.path_importer_cache.values()
            )
        finally:
            zipimport._read_directory = real
            sys.path.remove(archive)
            for name in [m for m in sys.modules if m.startswith("rtu_wpkg")]:
                del sys.modules[name]
            for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
                del sys.path_importer_cache[key]
        for _ in batches:
            pass
        yield pd.DataFrame({"first": [first], "second": [second], "zips": [zips]})

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "first long, second long, zips long")
        .collect()
    )
    assert row.zips >= 2, row
    assert row.second == 0, row
