"""OCR post-correction text functions, one call per string.

These are the one implementation of the article stage's text rules:
the oracle (:mod:`..oracle`, through ``Series.map``) and the production
fold (:mod:`..operators.articles`, one list pass per Arrow batch inside
the layout merge UDF) both call them, so the two sides cannot drift
apart.  Each rule is a plain ``str`` function: a batch pays one Python
call per string, not one pandas ``.str`` pass per step, and a step whose
trigger character is absent costs one ``in`` test.

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

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

PARA_MARKER = "\x00"

LIGATURES = [("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬁ", "fi"), ("ﬂ", "fl"), ("ﬀ", "ff"), ("ſ", "s")]

# written with a literal prefix, which the regex engine scans for ~3×
# faster than the same pattern as a counted repeat ("\n{2,}", " {2,}")
_PARA_BREAK = re.compile(r"\n\n+")
_SPACE_RUN = re.compile(r"  +")
_NOT_AZ = re.compile(r"[^A-Z]")


# ------------------------------------------------------ article text rules
def normalize_text(t: str) -> str:
    # every ligature is non-ASCII; an original PARA_MARKER becomes a
    # paragraph break like a protected one (step 5 does not tell them apart)
    if not t.isascii():
        for lig, rep in LIGATURES:
            t = t.replace(lig, rep)
    if "\n" in t:
        t = _PARA_BREAK.sub(PARA_MARKER, t.replace("-\n", "")).replace("\n", " ")
    if PARA_MARKER in t:
        t = t.replace(PARA_MARKER, "\n\n")
    if "  " in t:
        t = _SPACE_RUN.sub(" ", t)
    return t.strip()


def is_title(s: str) -> bool:
    # body text fails the upper-case test, so it never reaches the regex
    if s != s.upper():
        return False
    letters = _NOT_AZ.sub("", s)
    return len(letters) >= 5 and sum(map(letters.count, "AEIOU")) >= 2


def strip_fences(t: str) -> str:
    return t.strip("`").replace("tsv", "", 1).strip()


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
