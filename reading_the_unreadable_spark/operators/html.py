"""HTML boilerplate strip + DOM-heuristic main-content extraction.

The north-rule extraction family beyond the newspaper pipeline: given a
corpus of raw HTML documents, (1) strip non-content machinery (head,
script/style, comments, tags, entities) to visible text, and (2) find
the MAIN content via the classic link-density block heuristic
(Arc90-Readability / jusText / boilerpipe shape: segment the document
into blocks at block-level tag boundaries, score each block by text
length and the fraction of its text that lives inside anchors, keep the
low-link-density long blocks).

Built from scratch, 100% native Spark SQL expressions — regexp chains,
``split`` + ``posexplode``, ``regexp_extract_all`` — so Catalyst keeps
the whole path in codegen, filters push down, and the identical RE2-safe
patterns run in the DuckDB oracles (no backreferences, inline ``(?is)``
flags only).

Known limits of the regex "DOM": attribute values containing ``>`` split
a tag early, and entity decoding is the naive single-pass table below —
both deterministic, documented, and shared with the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import spread

# removal patterns applied in order, each RE2-compatible (no backrefs)
REMOVAL_PATTERNS = (
    r"(?is)<!--.*?-->",
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?is)<head[^>]*>.*?</head>",
)

# block-level boundaries for the DOM-lite segmentation
BLOCK_SPLIT_PATTERN = (
    r"(?i)</p>|</div>|</h[1-6]>|</li>|</tr>|</nav>|</footer>|</header>"
    r"|</section>|</article>|</td>|</table>|</ul>|</ol>|<br[^>]*>"
)

# naive single-pass entity table (amp deliberately last)
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

MIN_TEXT_CHARS = 10
MAX_LINK_DENSITY = 0.33


def _strip_tags_and_entities(c: Column) -> Column:
    """tags → spaces, entities decoded, whitespace collapsed, trimmed."""
    out = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def _remove_machinery(c: Column) -> Column:
    out = F.coalesce(c, F.lit(""))
    for pat in REMOVAL_PATTERNS:
        out = F.regexp_replace(out, pat, " ")
    return out


def visible_text(c: Column) -> Column:
    """Full boilerplate strip: comments/script/style/head removed, block
    boundaries become spaces, tags dropped, entities decoded."""
    return _strip_tags_and_entities(_remove_machinery(c))


def strip_html(df: DataFrame) -> DataFrame:
    """(doc_id, html) → (doc_id, text): the visible-text projection."""
    df = spread(df)  # regex-heavy map stage: rebalance under-split scans

    return df.select("doc_id", visible_text(F.col("html")).alias("text"))


def html_blocks(df: DataFrame) -> DataFrame:
    """DOM-lite block segmentation + per-block content scoring.

    Output: (doc_id, block_idx, text, n_chars, link_chars, link_density,
    is_content).  ``link_density`` = visible chars inside ``<a>`` anchors
    / total visible chars of the block; a block is content iff it is
    long enough AND link-sparse — the boilerpipe/jusText decision rule.
    Pure map-side work: one posexplode, zero shuffles."""
    df = spread(df)  # regex-heavy map stage: rebalance under-split scans

    cleaned = _remove_machinery(F.col("html"))
    blocks = F.split(cleaned, BLOCK_SPLIT_PATTERN)
    df = df.select("doc_id", F.posexplode(blocks).alias("block_idx", "_raw"))
    # `<a` must be the WHOLE tag name: `<a>` or `<a␣attrs…>` — a bare
    # `[^>]*` would also match <article>/<aside>/<abbr>/<audio> and
    # swallow entire content blocks as "link text"
    anchor_texts = F.regexp_extract_all(
        F.col("_raw"), F.lit(r"(?is)<a(?:\s[^>]*)?>(.*?)</a>"), 1
    )
    link_text = _strip_tags_and_entities(F.array_join(anchor_texts, " "))
    text = _strip_tags_and_entities(F.col("_raw"))
    df = (
        df.withColumn("text", text)
        .withColumn("n_chars", F.length("text"))
        .withColumn("link_chars", F.length(link_text))
        .drop("_raw")
    )
    density = F.round(
        F.col("link_chars").cast("double") / F.greatest(F.col("n_chars"), F.lit(1)), 6
    )
    df = df.withColumn("link_density", density)
    return df.withColumn(
        "is_content",
        (
            (F.col("n_chars") >= MIN_TEXT_CHARS)
            & (F.col("link_density") <= MAX_LINK_DENSITY)
        ).cast("int"),
    )


def main_text(df: DataFrame) -> DataFrame:
    """(doc_id, html) → (doc_id, text): content blocks joined in document
    order, separated by a blank line — the main-content extraction the
    north rule names.  One groupBy on doc_id (the only shuffle); block
    order restored with sort_array over (block_idx, text) structs.

    Every input document yields exactly one output row — a page whose
    blocks are all boilerplate yields an EMPTY string, not a missing
    doc_id (collect_list skips the nulls the non-content conditional
    produces, so the aggregate sees only content blocks while the
    groupBy sees every doc)."""
    # html_blocks spreads the under-split scan itself
    blocks = html_blocks(df)
    content = F.when(
        F.col("is_content") == 1, F.struct("block_idx", "text")
    )
    ordered = F.transform(
        F.sort_array(F.collect_list(content)), lambda s: s["text"]
    )
    return blocks.groupBy("doc_id").agg(
        F.array_join(ordered, "\n\n").alias("text")
    )


def _unescape(c: Column) -> Column:
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return c


def _attr_pair(html: Column, tag: str, key_attr: str, key: str, val_attr: str) -> Column:
    """Extract ``val_attr`` from a ``<tag …>`` whose ``key_attr`` equals
    ``key`` — tolerant of single/double attribute quoting and of either
    attribute order (real-world meta tags carry both)."""
    q = "[\"']"
    fwd = F.regexp_extract(
        html,
        f"<{tag}[^>]*{key_attr}={q}{key}{q}[^>]*{val_attr}={q}([^\"']*){q}",
        1,
    )
    rev = F.regexp_extract(
        html,
        f"<{tag}[^>]*{val_attr}={q}([^\"']*){q}[^>]*{key_attr}={q}{key}{q}",
        1,
    )
    raw = F.when(fwd != "", fwd).otherwise(rev)
    return F.when(raw == "", F.lit(None).cast("string")).otherwise(_unescape(raw))


# target fields a curation pipeline pulls from JSON-LD article markup
# (schema.org NewsArticle/BlogPosting); from_json is JVM-side, so the
# whole metadata projection stays inside whole-stage codegen
LD_SCHEMA = (
    "struct<`@type`:string, headline:string, datePublished:date, "
    "author:struct<name:string>, wordCount:int>"
)


def page_metadata(df: DataFrame) -> DataFrame:
    """Structured page metadata: ``<title>``, OpenGraph/named ``<meta>``
    tags, the canonical link, and schema.org JSON-LD article fields.

    The whole projection is native expressions — per-field regexes
    (attribute-order- and quote-style-tolerant) plus one ``from_json``
    over the first ``application/ld+json`` script block.  Zero UDFs,
    zero shuffles: at corpus scale this runs inside the scan stage,
    and missing tags surface as NULLs, never errors."""
    df = spread(df)  # regex-heavy map stage: rebalance under-split scans

    html = F.col("html")
    title = F.regexp_extract(html, "(?s)<title>(.*?)</title>", 1)
    ld_raw = F.regexp_extract(
        html, "(?s)<script type=\"application/ld\\+json\">(.*?)</script>", 1
    )
    ld = F.from_json(F.when(ld_raw != "", ld_raw), LD_SCHEMA)
    return df.withColumns(
        {
            "title": F.when(title == "", F.lit(None).cast("string")).otherwise(
                _unescape(title)
            ),
            "og_title": _attr_pair(html, "meta", "property", "og:title", "content"),
            "og_type": _attr_pair(html, "meta", "property", "og:type", "content"),
            "description": _attr_pair(html, "meta", "name", "description", "content"),
            "canonical": _attr_pair(html, "link", "rel", "canonical", "href"),
            "ld_type": ld["@type"],
            "ld_headline": ld["headline"],
            "ld_date": ld["datePublished"],
            "ld_author": ld["author"]["name"],
            "ld_word_count": ld["wordCount"],
        }
    ).drop("html")
