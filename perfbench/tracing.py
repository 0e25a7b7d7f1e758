"""Tracing for the benchmark's traced run.

Spans are recorded in memory around calls the benchmark makes into the
program and around module functions it wraps for the duration of a traced
run; they are written out when the run ends.  Each span's name is also set
as a Spark local property while it is open, so every Spark job carries the
innermost span that submitted it, and the event-log parser can charge the
job's stages to a layer.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"

STAGE_FIELDS = {
    "run_ms": "internal.metrics.executorRunTime",
    "cpu_ms": "internal.metrics.executorCpuTime",
    "gc_ms": "internal.metrics.jvmGCTime",
    "python_ms": "time to run Python workers",
    "shuffle_write_bytes": "internal.metrics.shuffle.write.bytesWritten",
    "shuffle_read_bytes": (
        "internal.metrics.shuffle.read.localBytesRead",
        "internal.metrics.shuffle.read.remoteBytesRead",
    ),
    "spill_bytes": "internal.metrics.diskBytesSpilled",
}

STAGE_LAYERS = (
    "sources", "geometry", "layout", "fold", "articles", "snapshots", "checkpoint", "tail",
)


class Tracer:
    """Span recorder.  ``enabled=False`` keeps the same call sites but
    records nothing and sets no Spark property."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(SPAN_PROPERTY, f"{rec['id']}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self._t0
            self._stack.pop()
            top = self.spans[self._stack[-1]] if self._stack else None
            self.sc.setLocalProperty(
                SPAN_PROPERTY, f"{top['id']}:{top['name']}" if top else None
            )

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper; returns an undo."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == sid]
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_time(self, span_id: int) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span_id]
        return self.duration(span_id) - sum(k["end"] - k["start"] for k in kids)


# ----------------------------------------------------------- event log
def read_event_log(path: Path) -> tuple[dict, dict]:
    """Parse an uncompressed JSON-lines Spark event log.

    Returns (jobs, stages): jobs map id → {span, stages}; stages map id →
    {ops, metrics}.  ``ops`` are the operator scopes of the stage's RDDs,
    ``metrics`` the stage's accumulated task metrics (STAGE_FIELDS)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "span": (ev.get("Properties") or {}).get(SPAN_PROPERTY),
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                metrics = {}
                for field, keys in STAGE_FIELDS.items():
                    keys = keys if isinstance(keys, tuple) else (keys,)
                    metrics[field] = sum(int(acc.get(k) or 0) for k in keys)
                metrics["cpu_ms"] /= 1e6  # executorCpuTime is in ns
                scopes = [
                    json.loads(r["Scope"])["name"].split(" (")[0].strip()
                    for r in info["RDD Info"]
                    if r.get("Scope")
                ]
                stages[info["Stage ID"]] = {
                    "ops": sorted(set(scopes)),
                    "windows": scopes.count("Window"),
                    "metrics": metrics,
                }
    return jobs, stages


def stage_layer(stage: dict, span_name: str | None) -> str:
    """Charge a stage to a layer by its operators; a stage with no
    extraction operator goes to the layer of the span that submitted it.

    - an Arrow/Python map with an object aggregate is the fused fold
      (merge, post-correct, span split) plus the re-nest's partial
      aggregate: ``fold``;
    - any other Arrow/Python map is geometry attach: ``geometry``;
    - a chain of several windows is the layout stage (doc_id exchange
      read, window chain, payload join): ``layout``.  The checkpoint
      reader's single latest-wins window does not count;
    - a write (``WriteFiles``) under a snapshots/checkpoint/tail span is
      that layer (snapshot append, checkpoint write);
    - an object aggregate otherwise is the final re-nest: ``articles``;
    - anything else under a snapshots/checkpoint/tail span is that layer;
    - the rest scans, projects and exchanges the input: ``sources``."""
    ops = stage["ops"]
    span_layer = (span_name or "").split(":", 1)[-1].split(".", 1)[0]
    if span_layer not in ("snapshots", "checkpoint", "tail"):
        span_layer = None
    if "MapInPandas" in ops:
        return "fold" if "ObjectHashAggregate" in ops else "geometry"
    if stage["windows"] >= 2:
        return "layout"
    if "WriteFiles" in ops and span_layer:
        return span_layer
    if "ObjectHashAggregate" in ops:
        return "articles"
    return span_layer or "sources"


def stage_table(jobs: dict, stages: dict) -> list[dict]:
    """One row per completed stage: job, submitting span, layer, ops,
    metrics."""
    rows = []
    for job_id, job in sorted(jobs.items()):
        for sid in job["stages"]:
            if sid not in stages:
                continue  # skipped: its shuffle output was reused
            st = stages[sid]
            rows.append(
                {
                    "job": job_id,
                    "stage": sid,
                    "span": job["span"],
                    "layer": stage_layer(st, job["span"]),
                    "ops": st["ops"],
                    **st["metrics"],
                }
            )
    return rows


def layer_totals(rows: list[dict], span_ids: set[int]) -> dict[str, dict[str, float]]:
    """Per-layer metric sums over the stages of jobs submitted inside any
    of ``span_ids`` (a span id matches its own jobs and its descendants'
    when the caller passes them all)."""
    out = {layer: defaultdict(float) for layer in STAGE_LAYERS}
    for r in rows:
        if r["span"] is None or int(r["span"].split(":", 1)[0]) not in span_ids:
            continue
        for field in STAGE_FIELDS:
            out[r["layer"]][field] += r[field]
    return out


def jobs_in(jobs: dict, span_ids: set[int]) -> int:
    return sum(
        1 for j in jobs.values() if j["span"] and int(j["span"].split(":", 1)[0]) in span_ids
    )
