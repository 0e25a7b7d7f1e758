"""MediaWiki wikitext → plain-prose curation (the Wikipedia-dump family).

Every major LLM corpus (The Pile, RedPajama, Dolma, FineWeb's seed
mixes) carries a Wikipedia pass: take the dump's raw wikitext and keep
only the prose — drop templates/infoboxes, tables, references and
comments, unwrap link and formatting markup to its visible text.  Like
`operators/latex.py` (arXiv) and `operators/html.py` (web), this is ONE
Spark projection: every rule a JVM ``regexp_replace`` in a fixed order,
whole-stage-codegen'd, zero shuffle, no Python in the hot path.

Rule order matters and is part of the contract:

1.  HTML comments ``<!-- ... -->`` — never prose;
2.  footnote/citation elements — ``<ref ...>...</ref>`` and the
    self-closing ``<ref ... />`` form (reference lists are metadata);
3.  non-prose HTML-ish blocks whose BODY must also go: ``<math>``,
    ``<gallery>``, ``<nowiki>``, ``<code>``, ``<pre>``, ``<syntaxhighlight>``;
4.  tables ``{| ... |}`` (wikitable markup, incl. caption/row syntax);
5.  templates ``{{ ... }}`` — innermost-first (the span may not contain
    a nested ``{{``), repeated passes bound the nesting depth real
    articles exhibit (infobox → {{date}}/{{cite}} leaves);
6.  media links ``[[File:...]]`` / ``[[Image:...]]`` — the whole link
    including caption is presentation, not prose;
7.  piped wiki links ``[[target|label]]`` → ``label`` (last segment on
    multi-pipe forms), then plain ``[[target]]`` → ``target``;
8.  external links ``[scheme://url label]`` → ``label``, bare
    ``[scheme://url]`` → dropped;
9.  bold/italic quote runs ``'''''``/``'''``/``''`` — markers vanish;
10. headings ``== Title ==`` → ``Title`` (any level, line-anchored);
11. line-leading list/indent/definition markers ``* # : ;``;
12. any remaining HTML tag ``<...>`` → space;
13. the five entities dumps actually contain (``&nbsp; &amp; &lt;
    &gt; &quot;``) → their literal;
14. whitespace collapse + trim.

Scale: pure map stage — predicate pushdown and column pruning pass
through it untouched, and at 100 TB the cost is the regex engine on
each executor, not the network (plan-asserted zero-Exchange in
tests/test_plan_quality.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import spread

DISCARD_ELEMENTS = "math|gallery|nowiki|code|pre|syntaxhighlight"


def wikitext_to_text(c: Column) -> Column:
    out = F.coalesce(c, F.lit(""))
    # 1. HTML comments
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    # 2. refs: paired (body is a citation, not prose) then self-closing
    out = F.regexp_replace(out, r"(?s)<ref[^>/]*>.*?</ref>", " ")
    out = F.regexp_replace(out, r"<ref[^>]*/>", " ")
    # 3. non-prose elements, body and all
    out = F.regexp_replace(
        out,
        r"(?s)<(" + DISCARD_ELEMENTS + r")[^>]*>.*?</\1>",
        " ",
    )
    # 4. tables — {| ... |} spans; innermost-first for nested tables
    tbl = r"(?s)\{\|(?:(?!\{\|).)*?\|\}"
    for _ in range(2):
        out = F.regexp_replace(out, tbl, " ")
    # 5. templates — innermost-first; three passes bound real nesting
    tpl = r"(?s)\{\{(?:(?!\{\{).)*?\}\}"
    for _ in range(3):
        out = F.regexp_replace(out, tpl, " ")
    # 6. media links (caption included): the body may carry ONE level
    #    of nested [[...]] (a linked caption) — the alternation consumes
    #    either plain chars or a complete inner bracket pair
    out = F.regexp_replace(
        out,
        r"\[\[(?:File|Image):(?:[^\[\]]|\[\[[^\[\]]*\]\])*\]\]",
        " ",
    )
    # 7. wiki links: piped keeps the LAST segment, plain keeps target
    out = F.regexp_replace(out, r"\[\[[^\[\]]*\|([^\[\]|]*)\]\]", r"$1")
    out = F.regexp_replace(out, r"\[\[([^\[\]]*)\]\]", r"$1")
    # 8. external links: labeled keeps label, bare vanishes
    out = F.regexp_replace(out, r"\[[a-z][a-z0-9+.-]*://[^\s\]]*\s+([^\]]*)\]", r"$1")
    out = F.regexp_replace(out, r"\[[a-z][a-z0-9+.-]*://[^\s\]]*\]", " ")
    # 9. bold/italic quote runs
    out = F.regexp_replace(out, r"'{2,5}", "")
    # 10. headings: strip the = fences, keep the title text
    out = F.regexp_replace(out, r"(?m)^\s*=+\s*(.*?)\s*=+\s*$", r"$1")
    # 11. list / indent / definition markers at line start
    out = F.regexp_replace(out, r"(?m)^[*#:;]+\s*", "")
    # 12. any HTML tag still standing
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    # 13. the entities MediaWiki dumps actually emit
    out = F.regexp_replace(out, r"&nbsp;", " ")
    out = F.regexp_replace(out, r"&amp;", "&")
    out = F.regexp_replace(out, r"&lt;", "<")
    out = F.regexp_replace(out, r"&gt;", ">")
    out = F.regexp_replace(out, r"&quot;", '"')
    # 14. collapse
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def wiki_extract(documents: DataFrame) -> DataFrame:
    """(doc_id, wikitext) → (doc_id, text, n_chars_in, n_chars_out,
    reduction): the Wikipedia cleaning projection plus the
    size-reduction diagnostic curation dashboards track — the same
    contract shape as :func:`operators.latex.latex_strip`."""
    documents = spread(documents)  # regex-chain map stage: rebalance
    src = F.coalesce(F.col("wikitext"), F.lit(""))
    txt = wikitext_to_text(F.col("wikitext"))
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
