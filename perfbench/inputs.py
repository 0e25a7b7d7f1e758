"""Seeded input generation for the benchmark.

Inputs are docs tables (``doc_id``, ``spans``) in the schema the program
reads with ``sources.docs.read_docs``.  Each table is a pure function of
(seed tag, first doc index, doc count) through ``datagen.doc_id_for`` and
``synth.synth_page``, so every 40th document is an XL skew page exactly as
in ``datagen.make_corpus_df``.  Tables are generated once per key into the
benchmark's scratch directory; the key also holds a fingerprint of the
generator, so a change to ``synth.py`` or the doc-id scheme never reuses a
stale table.  Generation runs in a pool of plain Python processes, not in
Spark, so it neither warms nor loads the session being measured.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

FILES_PER_TABLE = 8


def seed_tag(seed: int) -> str:
    return f"s{seed}"


def synth_fingerprint() -> str:
    """Hash of the generator's full output for two probe pages (one XL),
    geometry included, and of the doc-id scheme."""
    from reading_the_unreadable_spark.datagen import doc_id_for
    from reading_the_unreadable_spark.synth import synth_page

    h = hashlib.sha256()
    for i in (0, 39):
        doc_id = doc_id_for(i, "fingerprint")
        h.update(doc_id.encode())
        for b in synth_page(doc_id):
            h.update(
                repr(
                    (b.kind, b.text, b.media_ref, b.offset, b.x1, b.y1, b.x2, b.y2, b.confidence)
                ).encode()
            )
    return h.hexdigest()[:10]


def doc_rows(tag: str, start: int, count: int) -> list[dict]:
    """Docs-table rows for indices ``start .. start+count-1``."""
    from reading_the_unreadable_spark.datagen import doc_id_for
    from reading_the_unreadable_spark.synth import synth_page

    rows = []
    for i in range(start, start + count):
        doc_id = doc_id_for(i, tag)
        spans = [
            {"kind": b.kind, "text": b.text, "media_ref": b.media_ref, "offset": b.offset}
            for b in sorted(synth_page(doc_id), key=lambda b: b.offset)
        ]
        rows.append({"doc_id": doc_id, "spans": spans})
    return rows


def _write_part(path: str, tag: str, start: int, count: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    schema = pa.schema(
        [pa.field("doc_id", pa.string(), nullable=False), ("spans", pa.list_(span))]
    )
    pq.write_table(pa.Table.from_pylist(doc_rows(tag, start, count), schema=schema), path)


class InputStore:
    """Generated tables under ``root``, keyed by tag, range and generator
    fingerprint."""

    def __init__(self, root: Path, workers: int):
        self.root = root
        self.workers = workers
        self.fingerprint = synth_fingerprint()

    def path(self, tag: str, start: int, count: int) -> Path:
        return self.root / f"docs-{tag}-{start}-{count}-{self.fingerprint}"

    def docs(self, tables: list[tuple[str, int, int]]) -> list[str]:
        """Paths of the generated tables, each (tag, start, count).  The
        missing ones are generated by a child process (``generate``), so
        its worker pool is gone when this returns."""
        missing = [t for t in tables if not (self.path(*t) / "_SUCCESS").exists()]
        if missing:
            todo = [[str(self.path(*t)), *t] for t in missing]
            subprocess.run(
                [sys.executable, __file__, str(self.workers), json.dumps(todo)], check=True
            )
        return [str(self.path(*t)) for t in tables]


def generate(workers: int, todo: list[list]) -> None:
    """Write each (path, tag, start, count) table as FILES_PER_TABLE
    parquet files into a temporary directory, then rename it into place."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        futures = []
        for path, tag, start, count in todo:
            tmp = Path(path + ".tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            step = -(-count // FILES_PER_TABLE)
            for k, s in enumerate(range(start, start + count, step)):
                n = min(step, start + count - s)
                futures.append(pool.submit(_write_part, str(tmp / f"part-{k:05d}.parquet"), tag, s, n))
        for f in futures:
            f.result()
    for path, *_ in todo:
        tmp = Path(path + ".tmp")
        (tmp / "_SUCCESS").touch()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)


if __name__ == "__main__":
    # the program under test lives in the checkout root, one level up
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    generate(int(sys.argv[1]), json.loads(sys.argv[2]))
