"""The end-to-end web-curation chain as a reusable plan.

``curate`` is the batch chain the driver row ``curation_pipeline``
runs: URL gate → HTML main-content extraction → PII scrub → Gopher
quality gate, each stage reading only the previous stage's survivors
(the gates prune BEFORE the next stage pays its cost).  The
post-extraction tail is deliberately join-free — redact_pii and
gopher_filter are projections of the survivor frame threaded through
``passthrough`` columns (the 3-frame join shape sorted the per-doc
text three times and measured ~0.70-0.75 two-level scaling at 640k
docs; this shape measured 0.848 — BENCH/BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.html import main_text
from ..operators.quality import gopher_filter, redact_pii
from ..operators.urls import url_filter


BLOCKED_DOMAINS = ("bad.net",)


def curate(pages: DataFrame) -> DataFrame:
    """(doc_id, url, html) → (doc_id, url_kept, gopher_kept,
    final_kept, text, n_email): both gate verdicts, the final keep,
    and the redacted extracted text for kept docs.  The URL gate
    blocks ``BLOCKED_DOMAINS``."""
    uv = url_filter(
        pages.select("doc_id", "url"),
        blocked_domains=BLOCKED_DOMAINS,
    ).select("doc_id", F.col("url_keep").cast("int").alias("url_kept"))
    extracted = main_text(pages.select("doc_id", "html"))
    survivors = extracted.join(
        uv.filter(F.col("url_kept") == 1).select("doc_id"), "doc_id"
    )
    # scrub-then-gate, one chained frame (see module docstring)
    red = redact_pii(survivors)
    gq = gopher_filter(red, passthrough=("text", "n_email"))
    out = uv.join(gq, "doc_id", "left")
    g = F.coalesce(F.col("kept"), F.lit(0))
    final = (F.col("url_kept") == 1) & (g == 1)
    return out.select(
        "doc_id",
        "url_kept",
        g.alias("gopher_kept"),
        final.cast("int").alias("final_kept"),
        F.when(final, F.col("text")).otherwise(F.lit("")).alias("text"),
        F.when(final, F.col("n_email")).otherwise(F.lit(0)).alias("n_email"),
    )
