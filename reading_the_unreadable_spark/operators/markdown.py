"""Markdown → plain-prose curation (the GitHub/docs-corpus family).

The third member of the markup-cleaning trio next to
`operators/wikitext.py` (Wikipedia dumps) and `operators/latex.py`
(arXiv): every major code-adjacent corpus (The Stack's docs split,
RedPajama's GitHub slice, StarCoder's markdown subset) carries README /
documentation files whose prose must be separated from code fences,
link plumbing, and table/heading decoration before it can enter a text
mix.  Same contract as its siblings: ONE Spark projection — every rule
a JVM ``regexp_replace`` in a fixed order, whole-stage-codegen'd, zero
shuffle, no Python in the hot path.

Rule order matters and is part of the contract:

1.  fenced code blocks ``````` ... ``````` / ``~~~ ... ~~~`` — body and
    fences go (code is the other corpus, not prose; the StarCoder
    filters in `operators/code.py` own it);
2.  HTML comments ``<!-- ... -->``;
3.  reference-style link definitions ``[ref]: url ...`` (whole line);
4.  images ``![alt](url)`` / ``![alt][ref]`` → ``alt`` (the only
    human-readable part);
5.  inline links ``[label](url)`` and reference links ``[label][ref]``
    → ``label``; collapsed reference links ``[label][]`` → ``label``;
6.  autolinks ``<https://...>`` → dropped (bare plumbing, no label);
7.  inline code ``` `code` ``` → its text (inline code is usually a
    word inside a sentence, unlike fenced blocks);
8.  ATX headings ``## Title ##`` → ``Title`` (closing fence optional);
9.  setext underlines / thematic breaks — lines of ``=``, ``-``, ``*``
    or ``_`` runs → dropped (the heading/paragraph text above stays);
10. table decoration: alignment rows ``|:---|---:|`` dropped whole,
    pipe characters in cell rows → space (cell text is prose);
11. blockquote markers ``>`` (any nesting) at line start;
12. list markers ``- * +`` and ``1.`` / ``1)`` at line start;
13. emphasis: ``***``/``**``/``*`` and ``___``/``__``/``_`` pairs
    unwrap to their body (``_`` only at word edges so snake_case
    identifiers survive), ``~~strike~~`` unwraps;
14. any remaining HTML tag ``<...>`` → space;
15. the entities markdown renderers emit (``&nbsp; &amp; &lt; &gt;
    &quot;``) → their literal;
16. whitespace collapse + trim.

Scale: pure map stage — predicate pushdown and column pruning pass
through untouched; at 100 TB the cost is the regex engine on each
executor, not the network (plan-asserted zero-Exchange in
tests/test_plan_quality.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def markdown_to_text(c: Column) -> Column:
    out = F.coalesce(c, F.lit(""))
    # 1. fenced code blocks: fence line, body, closing fence (or EOF —
    #    an unterminated fence swallows the tail like real renderers)
    out = F.regexp_replace(
        out, r"(?sm)^\s*(```|~~~).*?(^\s*\1[^\n]*$|\z)", " "
    )
    # 2. HTML comments
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    # 3. reference-style link definitions (whole line)
    out = F.regexp_replace(out, r"(?m)^\s*\[[^\]]+\]:\s+\S+[^\n]*$", " ")
    # 4. images keep alt text only; both inline and reference forms
    out = F.regexp_replace(out, r"!\[([^\]]*)\]\([^)]*\)", r"$1")
    out = F.regexp_replace(out, r"!\[([^\]]*)\]\[[^\]]*\]", r"$1")
    # 5. links keep the label: inline, reference, collapsed-reference
    out = F.regexp_replace(out, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    out = F.regexp_replace(out, r"\[([^\]]*)\]\[[^\]]*\]", r"$1")
    # 6. autolinks vanish (no label to keep)
    out = F.regexp_replace(out, r"<[a-z][a-z0-9+.-]*://[^>\s]*>", " ")
    out = F.regexp_replace(out, r"<[^@>\s]+@[^>\s]+>", " ")
    # 7. inline code keeps its text
    out = F.regexp_replace(out, r"`([^`\n]*)`", r"$1")
    # 8. ATX headings: strip the # fences, keep the title
    out = F.regexp_replace(out, r"(?m)^\s*#{1,6}\s*(.*?)\s*#*\s*$", r"$1")
    # 9. setext underlines and thematic breaks: pure decoration lines
    out = F.regexp_replace(out, r"(?m)^\s*(=+|(-\s*){2,}-|(\*\s*){2,}\*|(_\s*){2,}_)\s*$", " ")
    # 10. tables: alignment rows whole-line, then pipes become spaces
    out = F.regexp_replace(out, r"(?m)^\s*\|?\s*:?-{2,}:?\s*(\|\s*:?-{2,}:?\s*)*\|?\s*$", " ")
    out = F.regexp_replace(out, r"\|", " ")
    # 11. blockquote markers (any nesting depth)
    out = F.regexp_replace(out, r"(?m)^\s*(>\s*)+", "")
    # 12. list markers: bullets and ordered
    out = F.regexp_replace(out, r"(?m)^\s*[-*+]\s+", "")
    out = F.regexp_replace(out, r"(?m)^\s*\d{1,9}[.)]\s+", "")
    # 13. emphasis pairs unwrap; underscores only at word edges so
    #     snake_case identifiers pass through untouched
    out = F.regexp_replace(out, r"\*{1,3}([^*\n]+)\*{1,3}", r"$1")
    out = F.regexp_replace(
        out,
        r"(?<![A-Za-z0-9])_{1,3}([^_\n]+)_{1,3}(?![A-Za-z0-9])",
        r"$1",
    )
    out = F.regexp_replace(out, r"~~([^~\n]+)~~", r"$1")
    # 14. leftover HTML tags
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    # 15. entities
    out = F.regexp_replace(out, r"&nbsp;", " ")
    out = F.regexp_replace(out, r"&amp;", "&")
    out = F.regexp_replace(out, r"&lt;", "<")
    out = F.regexp_replace(out, r"&gt;", ">")
    out = F.regexp_replace(out, r"&quot;", '"')
    # 16. collapse
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def markdown_extract(documents: DataFrame) -> DataFrame:
    """(doc_id, markdown) → (doc_id, text, n_chars_in, n_chars_out,
    reduction): the README/docs cleaning projection plus the
    size-reduction diagnostic, the same frame contract as
    :func:`operators.wikitext.wiki_extract` and
    :func:`operators.latex.latex_strip`."""
    src = F.coalesce(F.col("markdown"), F.lit(""))
    txt = markdown_to_text(F.col("markdown"))
    return documents.select(
        "doc_id",
        txt.alias("text"),
        F.length(src).alias("n_chars_in"),
        F.length(txt).alias("n_chars_out"),
        F.round(
            F.length(txt).cast("double")
            / F.greatest(F.length(src), F.lit(1)),
            6,
        ).alias("reduction"),
    )
