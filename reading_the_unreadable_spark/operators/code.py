"""Code-corpus quality filters (the StarCoder/CodeParrot family).

Source-code training sets are cleaned with per-FILE line statistics
rather than prose heuristics: maximum and mean line length (minified /
data-blob files), alphabetic-character fraction (binary-ish or
numeric-table files), and auto-generated-header detection (protoc,
codegen, lockfiles) — the published StarCoder pipeline's base rules
(max_line_length ≤ 1000, avg_line_length ≤ 100, alpha_frac ≥ 0.25,
drop auto-generated).

Everything is ONE Spark projection over higher-order array functions —
split to lines, ``transform``/``aggregate`` for the stats, no explode,
no shuffle, no Python.  At 100 TB the operator is a pure map stage that
composes with any upstream scan; the decision column keeps the filter
declarative so Catalyst can push subsequent predicate use down to it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_LINE_LEN = 1000
MAX_AVG_LINE_LEN = 100.0
MIN_ALPHA_FRAC = 0.25
AUTOGEN_MARKERS = ("auto-generated", "autogenerated", "do not edit")
AUTOGEN_HEADER_LINES = 5


def _alpha_len(line: Column) -> Column:
    return F.length(F.regexp_replace(line, r"[^a-zA-Z]", ""))


def code_quality_signals(files: DataFrame) -> DataFrame:
    """(doc_id, code) → per-file line statistics + keep decision.

    Output: (doc_id, n_lines, max_line_len, avg_line_len, alpha_frac,
    is_autogen, kept).  ``avg_line_len``/``alpha_frac`` are rounded to
    6 places so the decision thresholds (and any cross-engine replica)
    are stable.  ``is_autogen`` scans only the first
    `AUTOGEN_HEADER_LINES` lines — markers deep in a file are comments
    about other tools, not provenance headers."""
    lines = F.split(F.col("code"), "\n")
    n_lines = F.size(lines)
    lens = F.transform(lines, F.length)
    total = F.aggregate(lens, F.lit(0), lambda a, x: a + x)
    alpha = F.aggregate(
        lines, F.lit(0), lambda a, line: a + _alpha_len(line)
    )
    head = F.lower(
        F.array_join(F.slice(lines, 1, AUTOGEN_HEADER_LINES), "\n")
    )
    is_autogen = F.exists(
        F.array(*[F.lit(m) for m in AUTOGEN_MARKERS]),
        lambda m: F.contains(head, m),
    )
    max_len = F.array_max(lens)
    avg_len = F.round(
        total.cast("double") / F.greatest(n_lines, F.lit(1)), 6
    )
    alpha_frac = F.round(
        alpha.cast("double") / F.greatest(total, F.lit(1)), 6
    )
    kept = (
        (max_len <= F.lit(MAX_LINE_LEN))
        & (avg_len <= F.lit(MAX_AVG_LINE_LEN))
        & (alpha_frac >= F.lit(MIN_ALPHA_FRAC))
        & ~is_autogen
    )
    return files.select(
        "doc_id",
        n_lines.alias("n_lines"),
        max_len.alias("max_line_len"),
        avg_len.alias("avg_line_len"),
        alpha_frac.alias("alpha_frac"),
        is_autogen.cast("int").alias("is_autogen"),
        kept.cast("int").alias("kept"),
    )
