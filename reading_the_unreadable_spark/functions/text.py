"""OCR post-correction text functions (pandas/``str``).

These are the one implementation of the article stage's text rules:
the oracle (:mod:`..oracle`) and the production fold
(:mod:`..operators.articles`, run inside the layout merge UDF) both call
them, so the two sides cannot drift apart.

Behavioral contract (reimplemented from scratch, semantics per the
reference's normalizer ``function_modules/analysis_functions.py:147-194``
and title heuristic ``:197-226``; fence strip
``function_modules/pipeline_stages.py:389-391``):

normalize_text, in order:
  1. ligature / long-s fixes: ﬁ→fi ﬂ→fl ﬀ→ff ﬃ→ffi ﬄ→ffl ſ→s
  2. dehyphenate across line break:   "-\\n" → ""
  3. protect paragraph breaks:        "\\n{2,}" → marker
  4. remaining line breaks to space:  "\\n" → " "
  5. restore paragraph breaks:        marker → "\\n\\n"
  6. collapse runs of spaces:         " {2,}" → " "
  7. trim (Python ``str.strip()``: every Unicode whitespace, NBSP too)

is_title(s): s == upper(s) AND ≥5 chars in [A-Z] AND ≥2 vowels among them.

strip_fences (tables): drop leading/trailing backtick runs, then remove
the FIRST occurrence of "tsv" (first-occurrence-only semantics).

The module also holds the Unicode normalization helpers (NFC, invisible
characters) and the segment knitter.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

PARA_MARKER = "\x00"

LIGATURES = [("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬁ", "fi"), ("ﬂ", "fl"), ("ﬀ", "ff"), ("ſ", "s")]


# ------------------------------------------------------ article text rules
def normalize_text_pd(s: pd.Series) -> pd.Series:
    out = s.fillna("")
    for lig, rep in LIGATURES:
        out = out.str.replace(lig, rep, regex=False)
    out = out.str.replace("-\n", "", regex=False)
    out = out.str.replace(r"\n{2,}", PARA_MARKER, regex=True)
    out = out.str.replace("\n", " ", regex=False)
    out = out.str.replace(PARA_MARKER, "\n\n", regex=False)
    out = out.str.replace(r" {2,}", " ", regex=True)
    return out.str.strip()


def is_title_pd(s: pd.Series) -> pd.Series:
    letters = s.str.replace(r"[^A-Z]", "", regex=True)
    vowels = letters.str.replace(r"[^AEIOU]", "", regex=True)
    return (s == s.str.upper()) & (letters.str.len() >= 5) & (vowels.str.len() >= 2)


def strip_fences_pd(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.strip("`")
    return out.str.replace("tsv", "", n=1, regex=False).str.strip()


# ------------------------------------------------- Unicode normalization
# Web corpora mix composed and decomposed codepoint sequences for the
# same visible text ("é" vs "e"+U+0301) — byte-grain dedup, n-gram
# fingerprints, and tokenizers all see them as different unless the
# corpus is normalized first.  NFC is the curation default (lossless,
# unlike NFKC which folds ligatures/width).  Invisible formatting
# characters (zero-width space/joiner/non-joiner, BOM) are stripped
# separately — they survive NFC by design.

# ZWSP, ZWNJ, ZWJ, BOM/ZWNBSP — the copy-paste invisibles.
INVISIBLES = "\u200b\u200c\u200d\ufeff"


def strip_invisible_col(c: Column) -> Column:
    """Remove zero-width formatting characters — a pure JVM
    ``regexp_replace`` (codegen'd, no Python)."""
    return F.regexp_replace(
        F.coalesce(c, F.lit("")), f"[{INVISIBLES}]", ""
    )


def nfc_pd(s: pd.Series) -> pd.Series:
    """Unicode NFC (canonical composition), vectorized over a pandas
    Series — the oracle-side twin of :func:`nfc_col`."""
    import unicodedata

    return s.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


def nfc_col(c: Column) -> Column:
    """Unicode NFC as an Arrow-batched pandas UDF.  Spark has no
    built-in normalizer, so this is the documented slow-path exception
    (SURVEY §2.11): a pure map, Arrow batch transfer, no state — at
    100 TB it pipelines inside the scan stage like any projection."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return nfc_pd(s)

    return _nfc(c)


# ------------------------------------------------------------ segment knitting
def knit_strings(a: str, b: str) -> str:
    """Merge two overlapping segment texts on their longest common substring.

    Same contract as the reference's knitter
    (``function_modules/send_to_lm_functions.py:122-183``): find the longest
    common substring; if found, keep ``a`` up to the end of the match in
    ``a`` plus the remainder of ``b`` after the match; else concatenate
    directly with no separator (reference ``:146-155`` returns ``s1 + s2``
    on no match).  Implemented from scratch with difflib.
    """
    import difflib

    if not a:
        return b
    if not b:
        return a
    m = difflib.SequenceMatcher(None, a, b, autojunk=False).find_longest_match(
        0, len(a), 0, len(b)
    )
    if m.size == 0:
        return a + b
    return a[: m.a + m.size] + b[m.b + m.size :]


def knit_string_list(texts: list[str]) -> str:
    out = ""
    for t in texts:
        out = knit_strings(out, t)
    return out
