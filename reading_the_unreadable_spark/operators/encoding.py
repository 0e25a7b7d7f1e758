"""Mojibake repair: undo the classic UTF-8-read-as-Latin-1 double
encoding ("cafÃ©" -> "café") as a pure JVM projection.

Web corpora are full of this: a page was UTF-8, some layer decoded it
as ISO-8859-1, and the re-encoded result shows two-character sequences
like "Ã©" wherever an accented letter belonged.  The repair is
``decode(encode(text, 'ISO-8859-1'), 'UTF-8')`` — reconstruct the
original bytes, then read them correctly.  (The reference pipeline
normalizes OCR artifacts — ligatures, long-s — in
``analysis_functions.py:147-194`` but never sees transport mojibake
because its inputs are image-derived; a crawl pipeline hits it
constantly.)

Spark 4's ``encode``/``decode`` are STRICT (MALFORMED_CHARACTER_CODING
on unmappable input), so the repair is gated behind a detector regex
that only matches strings which are provably safe to round-trip:

- every character is ASCII, or part of a two-char sequence
  ``[\u00C2\u00C3][\u0080-\u00BF]`` — the Latin-1 spelling of a two-byte UTF-8
  sequence for a code point in U+0080..U+00FF;
- at least one such sequence is present.

That gate guarantees (a) ``encode(_, 'ISO-8859-1')`` cannot fail (all
chars <= U+00FF) and (b) the resulting bytes are valid UTF-8, so the
strict decode cannot fail either.  Windows-1252 mojibake that uses
characters outside Latin-1 (€, curly quotes) is NOT repaired by the
JVM path — Spark's charset whitelist has no cp1252 — and passes
through unchanged; the ``was_mojibake`` flag lets callers quarantine
what the gate skipped.

Zero shuffles, idempotent (repaired text contains real non-ASCII
letters the gate does not match... unless the original text was itself
doubly-double-encoded, in which case each application peels one
layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ASCII chars freely; non-ASCII only as C2/C3 + continuation pairs.
# Possessive quantifier: no backtracking blow-up on long ASCII runs.
_MOJI_GATE = "^(?:[\\x00-\\x7F]|[\u00C2\u00C3][\u0080-\u00BF])*+$"


def fix_mojibake(df: DataFrame) -> DataFrame:
    """Repair Latin-1 mojibake in the ``text`` column in place and add an int
    ``was_mojibake`` flag column (1 = the gate matched and the text was
    round-tripped).  Strings that are pure ASCII, already-correct
    UTF-8, or an unrepairable mojibake dialect pass through unchanged
    with flag 0."""
    c = F.col("text")
    is_moji = c.isNotNull() & c.rlike(_MOJI_GATE) & c.rlike("[ÂÃ]")
    # flag FIRST: the repair below overwrites `text`, and a flag computed
    # against the repaired text would always read 0
    flagged = df.withColumn("was_mojibake", is_moji.cast("int"))
    return flagged.withColumn(
        "text",
        F.when(
            F.col("was_mojibake") == 1,
            F.decode(F.encode(c, "ISO-8859-1"), "UTF-8"),
        ).otherwise(c),
    )
