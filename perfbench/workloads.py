"""The benchmark workloads and their per-layer probes.

Each workload is a closed loop: one caller in the driver process runs an
operation (a pass or a cycle), waits for its result, then runs the next.
All calls go through the program's public API; the oracle is used only to
check a fixed sample of documents.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import pandas as pd

from inputs import doc_rows
from sysstat import busy_ms, cpu_ticks, median
from tracing import Tracer

NUM_PARTITIONS = 8  # doc_id exchange width and shuffle partitions, fixed
BATCH_DOCS = 2000
TAIL_SLICE_DOCS = 200
TAIL_SLICES = 10  # prime + timed cycles; the timed loop stops early if used up
TAIL_BUCKETS = 8
ORACLE_SAMPLE = tuple(range(6)) + (39, 79)  # XL pages included


def _noop_digest(df, name: str):
    """Run ``df`` into the noop sink while an observation collects a row
    count and an order-independent digest of all columns.  The caller
    reads the observation after its timed region."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("digest"),
    ).write.format("noop").mode("overwrite").save()
    return obs


def _timed(fn) -> tuple[float, float, object]:
    """(wall s, busy core-ms of all cores, result) of ``fn()``."""
    t0, c0 = time.monotonic(), cpu_ticks()
    out = fn()
    return time.monotonic() - t0, busy_ms(c0, cpu_ticks()), out


def _doc_index():
    from pyspark.sql import functions as F

    return F.substring_index(F.col("doc_id"), "_page_", -1).cast("int")


def _extract_nested(docs):
    from reading_the_unreadable_spark.plans.pipeline import extract_nested

    return extract_nested(docs, num_partitions=NUM_PARTITIONS)


def oracle_mismatches(tag: str, indices, got_rows) -> list[str]:
    """doc_ids of the sample whose span sequence in ``got_rows`` (nested
    output rows) differs from ``oracle.extract``."""
    from reading_the_unreadable_spark import oracle

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in got_rows
    }
    rows = [r for i in indices for r in doc_rows(tag, i, 1)]
    want = oracle.extract(pd.DataFrame(rows))
    bad = []
    for r in rows:
        g = want[want["doc_id"] == r["doc_id"]]
        spans = [
            (k, t, m if isinstance(m, str) else None, int(o))
            for k, t, m, o in zip(g["kind"], g["text"], g["media_ref"], g["order"])
        ]
        if got.get(r["doc_id"]) != spans:
            bad.append(r["doc_id"])
    return bad


def timed_loop(run_one, seconds: float, min_ops: int, limit: int | None = None) -> list[dict]:
    """Run operations back to back until ``seconds`` have passed, at
    least ``min_ops`` of them and at most ``limit``."""
    ops: list[dict] = []
    t_end = time.monotonic() + seconds
    while len(ops) < min_ops or time.monotonic() < t_end:
        if limit is not None and len(ops) >= limit:
            break
        ops.append(run_one(len(ops)))
    return ops


def _span_id(sp) -> int | None:
    return sp["id"] if sp else None


# --------------------------------------------------------------- batch
class BatchWorkload:
    """``batch_extract``: repeated ``extract_nested`` passes over one
    cached docs corpus into the noop sink."""

    name = "batch_extract"

    def __init__(self, tag: str, store, work: Path):
        self.tag = tag
        (self.corpus_path,) = store.docs([(tag, 0, BATCH_DOCS)])
        self.n_docs = BATCH_DOCS
        self.docs = None

    def load(self, spark) -> None:
        from reading_the_unreadable_spark.sources.docs import read_docs

        self.docs = read_docs(spark, self.corpus_path).cache()
        self.docs.count()

    def unload(self) -> None:
        self.docs.unpersist()

    def ops_left(self) -> None:
        return None

    def run_op(self, i: int, tracer: Tracer, spark) -> dict:
        with tracer.span(f"pass.{i}") as sp:
            wall, busy, obs = _timed(lambda: _noop_digest(_extract_nested(self.docs), f"pass{i}"))
        got = obs.get
        return {"wall": wall, "busy_ms": busy, "rows": got["rows"], "digest": got["digest"],
                "span": _span_id(sp)}

    def check(self, spark, primes: list[dict], ops: list[dict]) -> list[str]:
        """Marks each pass ``ok`` when its row count and digest match the
        first prime pass; compares the oracle sample.  Returns the
        problems."""
        problems = []
        ref = primes[0]
        for op in [*primes, *ops]:
            op["ok"] = op["rows"] == self.n_docs and op["digest"] == ref["digest"]
        if not all(p["ok"] for p in primes):
            problems.append("a prime pass wrote a different row count or digest")
        if not all(op["ok"] for op in ops):
            problems.append("row count or digest differs between passes")
        sample = self.docs.filter(_doc_index().isin(list(ORACLE_SAMPLE)))
        bad = oracle_mismatches(self.tag, ORACLE_SAMPLE, _extract_nested(sample).collect())
        if bad:
            problems.append(f"oracle mismatch on {bad}")
        return problems

    def probes(self, spark, tracer: Tracer, traced_ops: list[dict]) -> dict[str, float]:
        return chain_probes(
            tracer, self.docs, self.n_docs,
            full_wall=median([o["wall"] for o in traced_ops]),
            full_busy=median([o["busy_ms"] for o in traced_ops]),
        )


def chain_probes(tracer: Tracer, docs, n_docs: int, full_wall: float, full_busy: float) -> dict:
    """Per-layer timings as differences between nested prefixes of the
    extraction chain, each run once into the noop sink over the cached
    ``docs``; exact counts; the span split in-process; the boxes path;
    and fixed/marginal cost from a quarter-size corpus against the
    full-size pass (``full_wall`` s, ``full_busy`` core-ms)."""
    from reading_the_unreadable_spark.operators.articles import nest_spans, spans_frame_pd
    from reading_the_unreadable_spark.operators.geometry import (
        docs_payload,
        docs_to_boxes,
        docs_to_geo_boxes,
    )
    from reading_the_unreadable_spark.operators.layout import layout
    from reading_the_unreadable_spark.plans.pipeline import extract, extract_from_boxes

    def layout_of(post_correct: bool):
        return layout(
            docs_to_geo_boxes(docs, num_partitions=NUM_PARTITIONS),
            num_partitions=NUM_PARTITIONS, payload=docs_payload(docs),
            post_correct=post_correct, fill_columns=True,
        )

    def probe(name, df):
        with tracer.span(f"probe.{name}"):
            wall, busy, obs = _timed(lambda: _noop_digest(df, f"probe_{name}"))
        return wall, busy, obs.get["rows"]

    attach_s, _, boxes_out = probe("geometry.attach", docs_to_geo_boxes(docs, num_partitions=NUM_PARTITIONS))
    windows_s, _, _ = probe("layout.windows", layout_of(False))
    post_s, _, merged_out = probe("layout.post_correct", layout_of(True))
    split_s, _, spans_out = probe("articles.span_split", extract(docs, num_partitions=NUM_PARTITIONS))

    # the fold's span split on a collected merged frame, no Spark noise
    with tracer.span("probe.collect_merged"):
        merged = (
            layout_of(True).select("doc_id", "kind", "text", "media_ref", "reading_order")
            .toPandas().sort_values(["doc_id", "reading_order"], kind="stable")
            .reset_index(drop=True)
        )
    split_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spans_frame_pd(merged)
        split_runs.append(time.perf_counter() - t0)

    # the boxes path: the same corpus pre-materialised by docs_to_boxes
    boxes = docs_to_boxes(docs).cache()
    boxes.count()
    boxes_s, _, _ = probe(
        "boxes.pass", nest_spans(extract_from_boxes(boxes, num_partitions=NUM_PARTITIONS))
    )
    boxes.unpersist()

    # two corpus sizes: a quarter of the corpus against the full-size pass
    n_small = n_docs // 4  # doc indices are contiguous: XL share kept
    small = docs.filter(_doc_index() % n_docs < n_small)
    small_wall, small_busy, _ = probe("extract.small", _extract_nested(small))
    slope = (full_wall - small_wall) / (n_docs - n_small)
    return {
        "geometry.attach_s": attach_s,
        "layout.windows_s": windows_s - attach_s,
        "layout.post_correct_s": post_s - windows_s,
        "articles.span_split_s": split_s - post_s,
        "articles.nest_s": full_wall - split_s,
        "articles.span_split_ms_per_doc": median(split_runs) * 1000.0 / n_docs,
        "boxes.pass_s": boxes_s,
        "extract.fixed_s": small_wall - n_small * slope,
        "extract.marginal_core_ms_per_doc": (full_busy - small_busy) / (n_docs - n_small),
        "geometry.boxes_out": boxes_out,
        "layout.merged_boxes_out": merged_out,
        "articles.spans_out": spans_out,
    }


# ---------------------------------------------------------------- tail
class TailWorkload:
    """``snapshot_tail``: a cron loop over a snapshot table; each cycle
    appends one fixed slice of new documents, then runs ``tail_once``."""

    name = "snapshot_tail"

    def __init__(self, tag: str, store, work: Path):
        self.tag = tag
        self.slices = store.docs(
            [(tag, k * TAIL_SLICE_DOCS, TAIL_SLICE_DOCS) for k in range(TAIL_SLICES)]
        )
        self.n_docs = TAIL_SLICE_DOCS
        self.next_slice = 0
        self.table = work / "tail_table"
        self.out = work / "tail_work"
        for d in (self.table, self.out):
            shutil.rmtree(d, ignore_errors=True)

    def load(self, spark) -> None:
        pass  # each cycle reads its slice from the generated table

    def unload(self) -> None:
        pass

    def _part_files(self) -> set[str]:
        found = set()
        for dirpath, _, files in os.walk(self.out):
            found.update(os.path.join(dirpath, f) for f in files if f.startswith("part-"))
        return found

    def run_op(self, i: int, tracer: Tracer, spark) -> dict:
        from reading_the_unreadable_spark.plans.snapshot_tail import tail_once
        from reading_the_unreadable_spark.sources.docs import read_docs
        from reading_the_unreadable_spark.sources.snapshots import append_snapshot

        k = self.next_slice
        self.next_slice += 1
        before = self._part_files() if tracer.enabled else set()
        with tracer.span(f"cycle.{i}") as cyc:
            with tracer.span("snapshots.append") as ap:
                sid = append_snapshot(read_docs(spark, self.slices[k]), str(self.table))
            # the freshness delay: from the append's commit to tail_once returning
            with tracer.span("tail.once") as tl:
                wall, busy, res = _timed(lambda: tail_once(
                    spark, str(self.table), str(self.out),
                    n_buckets=TAIL_BUCKETS, num_partitions=NUM_PARTITIONS,
                ))
        rec = {"wall": wall, "busy_ms": busy, "slice": k, "sid": sid, "until": res["until"],
               "advanced": res["advanced"], "span": _span_id(cyc),
               "append_span": _span_id(ap), "tail_span": _span_id(tl)}
        if tracer.enabled:
            rec["files_written"] = len(self._part_files() - before)
        return rec

    def ops_left(self) -> int:
        return len(self.slices) - self.next_slice

    def check(self, spark, primes: list[dict], ops: list[dict]) -> list[str]:
        """Marks each cycle ``ok`` when the high-water mark advanced to its
        snapshot and the tail output holds each of its docs exactly once;
        also no doc that was never appended, and the oracle sample."""
        from pyspark.sql import functions as F

        from reading_the_unreadable_spark.datagen import doc_id_for
        from reading_the_unreadable_spark.plans.snapshot_tail import read_tail_output

        out = read_tail_output(spark, str(self.out))
        counts = dict(out.groupBy("doc_id").count().collect())
        problems, prev_until, appended = [], 0, set()
        for op in sorted([*primes, *ops], key=lambda o: o["slice"]):
            start = op["slice"] * TAIL_SLICE_DOCS
            ids = {doc_id_for(i, self.tag) for i in range(start, start + TAIL_SLICE_DOCS)}
            appended |= ids
            op["ok"] = (
                op["advanced"] and op["until"] == op["sid"] > prev_until
                and all(counts.get(d) == 1 for d in ids)
            )
            prev_until = op["until"]
            if not op["ok"]:
                problems.append(f"cycle on slice {op['slice']}: not exactly-once or hwm stuck")
        if set(counts) - appended:
            problems.append(f"{len(set(counts) - appended)} docs in the output were never appended")
        ids = [doc_id_for(i, self.tag) for i in ORACLE_SAMPLE]
        bad = oracle_mismatches(
            self.tag, ORACLE_SAMPLE, out.filter(F.col("doc_id").isin(ids)).collect()
        )
        if bad:
            problems.append(f"oracle mismatch on {bad}")
        return problems

    # traced run ----------------------------------------------------------
    def wrap(self, tracer: Tracer) -> list:
        """Install spanned wrappers around the module functions a cycle
        calls; returns the undo callables."""
        from reading_the_unreadable_spark.plans import checkpoint, snapshot_tail

        return [
            tracer.wrap(snapshot_tail, "incremental_read", "snapshots.incremental_read"),
            tracer.wrap(snapshot_tail, "run_extract_with_checkpoints", "checkpoint.run"),
            tracer.wrap(checkpoint, "read_checkpoints", "checkpoint.read"),
            tracer.wrap(checkpoint, "compact_checkpoints", "checkpoint.compact"),
        ]

    def cycle_layers(self, tracer: Tracer, ops: list[dict]) -> dict[str, float]:
        def total(op, name):
            return sum(s["end"] - s["start"] for s in tracer.descendants(op["span"])
                       if s["name"] == name)

        return {
            "snapshots.append_s": median([tracer.duration(o["append_span"]) for o in ops]),
            "snapshots.incremental_read_s": median([total(o, "snapshots.incremental_read") for o in ops]),
            "checkpoint.run_s": median([total(o, "checkpoint.run") for o in ops]),
            "checkpoint.read_s": median([total(o, "checkpoint.read") for o in ops]),
            "checkpoint.compact_s": median([total(o, "checkpoint.compact") for o in ops]),
            "tail.state_s": median([tracer.self_time(o["tail_span"]) for o in ops]),
            "checkpoint.files_written_per_cycle": median([o["files_written"] for o in ops]),
        }

    def probes(self, spark, tracer: Tracer, traced_ops: list[dict]) -> dict[str, float]:
        """The extraction chain probes over the last traced cycle's slice."""
        from reading_the_unreadable_spark.sources.docs import read_docs

        docs = read_docs(spark, self.slices[traced_ops[-1]["slice"]]).cache()
        docs.count()
        with tracer.span("probe.extract.full"):
            wall, busy, _ = _timed(lambda: _noop_digest(_extract_nested(docs), "probe_full"))
        out = chain_probes(tracer, docs, self.n_docs, wall, busy)
        docs.unpersist()
        return out
