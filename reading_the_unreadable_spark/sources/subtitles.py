"""SRT / WebVTT subtitle source, from scratch.

Subtitle files are the text track of the video corpus family
(YouTube-style captions, film subtitle dumps): timed cues that pair a
text span with a media time range — exactly the interleaved text+media
span model this engine is built around (a cue is a text span whose
``media_ref`` is a time interval into the video payload; see
`operators/video.py` for the frame-sampling half).  The two wire
formats are simple enough to own outright, keeping the error contract
loud and the behavior pinned by our own tests (the container-source
convention of `sources/mail.py` / `sources/archives.py`):

- **SRT** — blank-line-separated blocks: numeric index line, a timing
  line ``HH:MM:SS,mmm --> HH:MM:SS,mmm``, then 1+ text lines.  CRLF or
  LF, UTF-8 BOM tolerated, ``.`` accepted as the millisecond separator
  (in-the-wild SRT is sloppy), index line optional (some dumps omit
  it) — cues are renumbered sequentially on parse regardless.
- **WebVTT** — ``WEBVTT`` header line; ``NOTE`` / ``STYLE`` /
  ``REGION`` metadata blocks skipped; cue blocks with an optional
  identifier line (any line without ``-->`` directly before the timing
  line), timing ``HH:MM:SS.mmm --> HH:MM:SS.mmm`` (hours part
  optional: ``MM:SS.mmm``), cue settings after the end timestamp
  ignored; inline markup (``<i>``, ``<b>``, ``<c.cls>``, ``<v Name>``,
  ``<00:00:01.000>`` karaoke timestamps) stripped from cue text.

Multi-line cue text is joined with a single space (the convention every
downstream tokenizer wants).  Output is one row per cue: ``(source_file,
fmt, cue_index, start_ms, end_ms, text)`` with times in integer
milliseconds — no float timestamps, so cross-engine equality is exact.

Scale shape: the subtitle file is the split unit (``binaryFile`` scan
or any (source, content) frame) → :func:`..execution.decode_payloads`
explodes cues executor-side.  Reference corpus analogue: the reference
pipeline carries per-box text spans with reading-order indices
(`bbox_functions.py`); a cue sheet is the same span model keyed by time
instead of page geometry.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..execution import decode_payloads, spread

SUBTITLE_SCHEMA = (
    "source_file string, fmt string, cue_index int, start_ms long, "
    "end_ms long, text string, parse_err string"
)

_TIMING_RE = re.compile(
    r"(?:(\d{1,2}):)?(\d{1,2}):(\d{1,2})[.,](\d{3})"
    r"\s*-->\s*"
    r"(?:(\d{1,2}):)?(\d{1,2}):(\d{1,2})[.,](\d{3})"
)
# inline VTT markup: voice/class/format tags and karaoke timestamps
_TAG_RE = re.compile(r"</?[A-Za-z][^>]*>|<\d{2}:\d{2}:\d{2}\.\d{3}>")


def _fmt_ts(ms: int, sep: str, short: bool = False) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, frac = divmod(rem, 1000)
    if short and h == 0:
        return f"{m:02d}:{s:02d}{sep}{frac:03d}"
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{frac:03d}"


def _parse_timing(line: str) -> tuple[int, int] | None:
    m = _TIMING_RE.search(line)
    if not m:
        return None
    g = [int(x) if x is not None else 0 for x in m.groups()]
    start = ((g[0] * 60 + g[1]) * 60 + g[2]) * 1000 + g[3]
    end = ((g[4] * 60 + g[5]) * 60 + g[6]) * 1000 + g[7]
    return start, end


def parse_subtitles(data: bytes) -> list[dict]:
    """Subtitle file bytes → list of cue dicts ``{fmt, cue_index,
    start_ms, end_ms, text}``.  Format is sniffed from the header
    (``WEBVTT`` → vtt, else srt).  Raises ``ValueError`` on undecodable
    bytes or a file with timing-less garbage where cues should be —
    the quarantining caller catches exactly ``ValueError``."""
    try:
        txt = data.decode("utf-8")
    except UnicodeDecodeError as e:
        raise ValueError(f"subtitle file is not UTF-8: {e}") from None
    if txt.startswith("﻿"):
        txt = txt[1:]
    lines = txt.replace("\r\n", "\n").replace("\r", "\n").split("\n")

    is_vtt = bool(lines) and lines[0].split(" ")[0] == "WEBVTT"
    fmt = "vtt" if is_vtt else "srt"
    if is_vtt:
        lines = lines[1:]

    # split into blank-line-separated blocks
    blocks: list[list[str]] = []
    cur: list[str] = []
    for ln in lines:
        if ln.strip() == "":
            if cur:
                blocks.append(cur)
                cur = []
        else:
            cur.append(ln)
    if cur:
        blocks.append(cur)

    cues: list[dict] = []
    for blk in blocks:
        head = blk[0].split(" ")[0]
        if is_vtt and head in ("NOTE", "STYLE", "REGION"):
            continue
        # locate the timing line: first line containing "-->"
        t_idx = next((i for i, ln in enumerate(blk) if "-->" in ln), None)
        if t_idx is None:
            # SRT dumps sometimes carry stray non-cue junk blocks only
            # when malformed; a block with no timing line is an error
            # unless it is a bare trailing index (harmless)
            if len(blk) == 1 and blk[0].strip().isdigit():
                continue
            raise ValueError(f"block without timing line: {blk[0][:60]!r}")
        if t_idx > 1 or (t_idx == 1 and is_vtt is False and not blk[0].strip().isdigit()):
            # SRT allows only a numeric index before the timing line;
            # VTT allows exactly one identifier line
            if not is_vtt:
                raise ValueError(f"bad SRT cue header: {blk[0][:60]!r}")
            if t_idx > 1:
                raise ValueError(f"multiple VTT identifier lines: {blk[0][:60]!r}")
        timing = _parse_timing(blk[t_idx])
        if timing is None:
            raise ValueError(f"unparseable timing line: {blk[t_idx][:60]!r}")
        start, end = timing
        if end < start:
            raise ValueError(f"cue ends before it starts: {blk[t_idx][:60]!r}")
        body = " ".join(blk[t_idx + 1 :])
        if is_vtt:
            body = _TAG_RE.sub("", body)
        cues.append(
            {
                "fmt": fmt,
                "cue_index": len(cues) + 1,
                "start_ms": start,
                "end_ms": end,
                "text": body,
            }
        )
    return cues


def parse_subtitles_frame(files: DataFrame) -> DataFrame:
    """(source, content: binary) → one row per cue across every file,
    through :func:`..execution.decode_payloads`."""

    def rows(b: bytes):
        for c in parse_subtitles(b):
            yield (
                c["fmt"], c["cue_index"], c["start_ms"], c["end_ms"], c["text"],
                None,
            )

    return decode_payloads(
        files.select("source", "content"), SUBTITLE_SCHEMA, ("source",), rows,
        payload="content",
    )


# ------------------------------------------------- synthetic generator
def build_srt(cues: list[tuple[int, int, str]]) -> bytes:
    """Cues ``(start_ms, end_ms, text)`` → SRT bytes (CRLF, indexed)."""
    out: list[str] = []
    for i, (s, e, text) in enumerate(cues, 1):
        words = text.split(" ")
        lines = (
            [" ".join(words[:2]), " ".join(words[2:])]
            if len(words) >= 3
            else [text]
        )
        out.append(
            f"{i}\r\n{_fmt_ts(s, ',')} --> {_fmt_ts(e, ',')}\r\n"
            + "".join(ln + "\r\n" for ln in lines)
            + "\r\n"
        )
    return "".join(out).encode("utf-8")


def build_vtt(cues: list[tuple[int, int, str]], note: str = "") -> bytes:
    """Cues → WebVTT bytes with BOM, NOTE/STYLE blocks, identifier
    lines, odd-index short-form timestamps, cue settings, and ``<i>``
    markup around the second word — every parser obligation at once."""
    out = [f"﻿WEBVTT - {note}\n\n"]
    out.append(f"NOTE\nsynthetic cue sheet {note}\n\n")
    out.append("STYLE\n::cue { color: cream }\n\n")
    for i, (s, e, text) in enumerate(cues, 1):
        words = text.split(" ")
        if len(words) >= 2:
            words = words[:1] + [f"<i>{words[1]}</i>"] + words[2:]
        lines = (
            [" ".join(words[:2]), " ".join(words[2:])]
            if len(words) >= 3
            else [" ".join(words)]
        )
        short = i % 2 == 1
        settings = " line:0 position:50%" if i % 2 == 0 else ""
        out.append(
            f"c{i}\n{_fmt_ts(s, '.', short)} --> {_fmt_ts(e, '.', short)}"
            f"{settings}\n" + "".join(ln + "\n" for ln in lines) + "\n"
        )
    return "".join(out).encode("utf-8")


def cue_plan(doc_id: int, text: str) -> list[tuple[int, int, str]]:
    """Deterministic cue sheet for (doc_id, text): 3 words per cue,
    start = (i-1)*2000 + (doc_id%7)*10 ms, duration 1500 + (i%3)*100 ms
    — pure integer arithmetic, so the DuckDB oracle restates it in
    closed form."""
    words = text.split(" ")
    cues: list[tuple[int, int, str]] = []
    for i in range(1, (len(words) + 2) // 3 + 1):
        start = (i - 1) * 2000 + (doc_id % 7) * 10
        end = start + 1500 + (i % 3) * 100
        cues.append((start, end, " ".join(words[(i - 1) * 3 : i * 3])))
    return cues


def subtitles_from_documents(documents: DataFrame) -> DataFrame:
    """One subtitle file per document — even doc_id → WebVTT (BOM,
    metadata blocks, identifiers, settings, markup, short timestamps),
    odd → SRT (CRLF, indexed) — so one pass exercises both wire formats
    end-to-end.  Every cue is a pure function of (doc_id, text)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                cues = cue_plan(d, str(t))
                blob = (
                    build_vtt(cues, note=f"doc {d}")
                    if d % 2 == 0
                    else build_srt(cues)
                )
                ext = "vtt" if d % 2 == 0 else "srt"
                rows.append(
                    {"source": f"synth://doc-{d}.{ext}", "content": bytearray(blob)}
                )
            yield pd.DataFrame(rows, columns=["source", "content"])

    return spread(documents.select("doc_id", "text")).mapInPandas(
        fn, schema="source string, content binary"
    )
