"""LaTeX → plain-text curation (the arXiv-corpus cleaning family).

Training-data pipelines that ingest arXiv/paper dumps (The Pile,
RedPajama, peS2o) all run a source-to-prose pass: drop comments and
non-prose environments, unwrap formatting commands to their visible
argument, strip math, unescape TeX specials.  This module is that pass
as ONE Spark projection — every rule a JVM ``regexp_replace`` in a
fixed order, whole-stage-codegen'd, zero shuffle, no Python in the hot
path (the same discipline as `operators/html.py`'s DOM-lite strip).

Rule order matters and is part of the contract:

1. comments — ``%`` to end-of-line, unless escaped ``\\%``;
2. DISCARD environments whose body is not prose (math/floats/verbatim):
   ``equation align displaymath figure table tabular tikzpicture
   verbatim lstlisting`` (starred variants too), innermost-first so
   nested discards unwind;
3. math — display ``\\[...\\]`` / ``$$...$$`` then inline ``$...$``;
4. drop-argument commands — the argument is metadata, not prose:
   ``label cite ref eqref pageref includegraphics usepackage
   documentclass input bibliography bibliographystyle vspace hspace``;
5. ``\\begin{env}`` / ``\\end{env}`` markers of the KEPT environments
   (abstract, itemize, ...) vanish, their bodies stay;
6. keep-argument commands — ``\\anything{arg}`` → ``arg`` (section,
   textbf, emph, caption, ...), applied repeatedly so nested
   ``\\textbf{\\emph{x}}`` unwraps fully;
7. bare commands — ``\\item``, ``\\maketitle``, line-break ``\\\\`` → space;
8. TeX escapes — ``\\% \\& \\_ \\# \\$`` → the literal character;
9. stray braces dropped, whitespace collapsed, trimmed.

Scale: pure map stage — filters push down past it, and at 100 TB the
operator's cost is the regex engine, not the network.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DISCARD_ENVS = (
    "equation|align|displaymath|figure|table|tabular|tikzpicture|"
    "verbatim|lstlisting"
)
DROP_ARG_COMMANDS = (
    "label|cite|citep|citet|ref|eqref|pageref|includegraphics|usepackage|"
    "documentclass|input|bibliographystyle|bibliography|vspace|hspace"
)


def latex_to_text(c: Column) -> Column:
    out = F.coalesce(c, F.lit(""))
    # 1. comments (negative lookbehind keeps \% escapes)
    out = F.regexp_replace(out, r"(?<!\\)%[^\n]*", " ")
    # 2. discard non-prose environments, innermost first: the pattern
    #    forbids nested \begin inside the span, so each application
    #    peels the innermost discardable environment; three passes
    #    bound the nesting depth real papers exhibit (table>tabular,
    #    figure>tikzpicture)
    env = (
        r"(?s)\\begin\{(" + DISCARD_ENVS + r")\*?\}"
        r"(?:(?!\\begin\{).)*?\\end\{\1\*?\}"
    )
    for _ in range(3):
        out = F.regexp_replace(out, env, " ")
    # 3. math: display forms first so $$..$$ doesn't leave $ pairs
    out = F.regexp_replace(out, r"(?s)\\\[.*?\\\]", " ")
    out = F.regexp_replace(out, r"(?s)\$\$.*?\$\$", " ")
    out = F.regexp_replace(out, r"(?s)\$[^$]*\$", " ")
    # 4. commands whose argument is metadata
    out = F.regexp_replace(
        out, r"\\(?:" + DROP_ARG_COMMANDS + r")\*?(?:\[[^\]]*\])?\{[^{}]*\}", " "
    )
    # 5. kept-environment markers
    out = F.regexp_replace(out, r"\\(?:begin|end)\{[a-zA-Z]+\*?\}", " ")
    # 6. formatting commands unwrap to their argument (nested: repeat)
    for _ in range(3):
        out = F.regexp_replace(
            out, r"\\[a-zA-Z]+\*?(?:\[[^\]]*\])?\{([^{}]*)\}", r"$1"
        )
    # 7. bare commands and forced line breaks
    out = F.regexp_replace(out, r"\\[a-zA-Z]+\*?", " ")
    out = F.regexp_replace(out, r"\\\\", " ")
    # 8. TeX escapes to literals
    out = F.regexp_replace(out, r"\\([%&_#$])", r"$1")
    # 9. stray braces, whitespace collapse
    out = F.regexp_replace(out, r"[{}]", " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def latex_strip(documents: DataFrame) -> DataFrame:
    """(doc_id, latex) → (doc_id, text, n_chars_in, n_chars_out,
    reduction): the arXiv cleaning projection plus the size-reduction
    diagnostic curation dashboards track."""
    src = F.coalesce(F.col("latex"), F.lit(""))
    txt = latex_to_text(F.col("latex"))
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
