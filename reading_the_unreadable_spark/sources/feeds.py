"""RSS 2.0 / Atom 1.0 feed source, from scratch.

Feeds are the freshness channel of a crawl corpus (news pipelines poll
them between sitemap sweeps), and they are the richest per-URL metadata
source available pre-fetch: title, publication time, author, category
tags, and a content snippet per item.  Parsing follows the
`sources/sitemaps.py` playbook — feed XML is regular enough that the
ENTIRE parse is native JVM expressions (regexp_extract_all + explode +
per-field regexp), zero UDFs, zero Python.  The feed table is a
dimension next to the fetch it feeds, so this whole stage is
metadata-sized at crawl scale.

Both wire formats normalize into one row shape:

- **RSS 2.0** — ``<channel>`` with ``<item>`` children; fields
  ``title / link / pubDate (RFC 822) / guid / category*``.
- **Atom 1.0** — ``<feed>`` with ``<entry>`` children; fields
  ``title / link href= / updated (RFC 3339) / id / category term=*``.

Output: ``(feed_url, fmt, item_index, title, link, item_id,
published timestamp, categories array<string>)``.  Timestamps parse
with ``to_timestamp`` patterns per format (RFC 822's leading weekday
is locale bait, so the parser strips it before matching); item order
within a feed is document order (1-based), the stable reading order
downstream schedulers key on.

CDATA-wrapped titles unwrap, XML entities unescape (ampersand last),
and both self-closing and paired ``<link>`` forms are accepted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sitemaps import _xml_unescape


def _opt_ts(s: Column, fmt: str) -> Column:
    """Absent ('') → NULL timestamp; non-empty parses under ANSI rules."""
    return F.when(s == "", F.lit(None).cast("timestamp")).otherwise(
        F.to_timestamp(s, fmt)
    )


def _text_field(e: Column, tag: str) -> Column:
    """``<tag>…</tag>`` content with optional CDATA unwrap; '' → NULL."""
    raw = F.regexp_extract(e, f"(?s)<{tag}[^>]*>(.*?)</{tag}>", 1)
    cdata = F.regexp_extract(raw, r"(?s)^\s*<!\[CDATA\[(.*?)\]\]>\s*$", 1)
    val = F.when(cdata != "", cdata).otherwise(_xml_unescape(raw))
    return F.when(val == "", F.lit(None).cast("string")).otherwise(val)


def parse_feeds(feeds: DataFrame) -> DataFrame:
    """``(feed_url, xml)`` → one row per item/entry (see module doc).

    The two formats split on the root tag, parse with format-specific
    field expressions, and union into one normalized frame — all
    column-level, so Catalyst fuses both branches into the same scan.
    """
    is_atom = F.col("xml").contains("<feed")

    def items(df: DataFrame, block: str) -> DataFrame:
        arr = F.regexp_extract_all(
            "xml", F.lit(f"(?s)<{block}>(.*?)</{block}>"), F.lit(1)
        )
        return df.select(
            "feed_url", F.posexplode(arr).alias("idx", "entry")
        ).withColumn("item_index", F.col("idx").cast("int") + 1)

    e = F.col("entry")

    rss = items(feeds.where(~is_atom), "item").select(
        "feed_url",
        F.lit("rss").alias("fmt"),
        "item_index",
        _text_field(e, "title").alias("title"),
        _text_field(e, "link").alias("link"),
        _text_field(e, "guid").alias("item_id"),
        # RFC 822: strip the optional locale-bait weekday, then parse;
        # an ABSENT pubDate is NULL, a malformed one stays a loud
        # ANSI parse error (fixture bugs must not silently null out)
        _opt_ts(
            F.regexp_replace(
                F.regexp_extract(e, "<pubDate>([^<]*)</pubDate>", 1),
                r"^\s*[A-Za-z]{3},\s*",
                "",
            ),
            "dd MMM yyyy HH:mm:ss Z",
        ).alias("published"),
        F.transform(
            F.regexp_extract_all(
                e, F.lit("<category>([^<]*)</category>"), F.lit(1)
            ),
            _xml_unescape,
        ).alias("categories"),
    )

    atom = items(feeds.where(is_atom), "entry").select(
        "feed_url",
        F.lit("atom").alias("fmt"),
        "item_index",
        _text_field(e, "title").alias("title"),
        F.when(
            F.regexp_extract(e, "<link[^>]*href=\"([^\"]*)\"", 1) == "",
            F.lit(None).cast("string"),
        )
        .otherwise(
            _xml_unescape(F.regexp_extract(e, "<link[^>]*href=\"([^\"]*)\"", 1))
        )
        .alias("link"),
        _text_field(e, "id").alias("item_id"),
        _opt_ts(
            F.regexp_extract(e, "<updated>([^<]*)</updated>", 1),
            "yyyy-MM-dd'T'HH:mm:ssXXX",
        ).alias("published"),
        F.transform(
            F.regexp_extract_all(
                e, F.lit("<category[^>]*term=\"([^\"]*)\""), F.lit(1)
            ),
            _xml_unescape,
        ).alias("categories"),
    )
    return rss.unionByName(atom).drop("idx")


def feeds_from_documents(documents: DataFrame) -> DataFrame:
    """Deterministic feed corpus: hosts ``h{doc_id % 6}`` — even hosts
    publish RSS 2.0, odd hosts Atom 1.0; each document is one item.
    Every field is doc_id arithmetic: title ``T&{d}`` (entity round
    trip; CDATA-wrapped in RSS when d%4==0), link ``/a/{d}``, id
    ``tag:{d}``, published 2021-01-01 + d%500 minutes (rendered RFC 822
    with weekday for RSS, RFC 3339 +00:00 for Atom), categories =
    first (d%3) of [alpha, beta]."""
    d = F.col("doc_id")
    ds = d.cast("string")
    k = d % 6
    host = F.concat(F.lit("h"), k.cast("string"))
    link = F.concat(
        F.lit("https://"), host, F.lit(".example.com/a/"), ds
    )
    ts = F.to_timestamp(F.lit("2021-01-01 00:00:00")) + F.make_dt_interval(
        F.lit(0), F.lit(0), (d % 500).cast("int"), F.lit(0)
    )
    rss_date = F.concat(
        F.date_format(ts, "EEE"),
        F.lit(", "),
        F.date_format(ts, "dd MMM yyyy HH:mm:ss"),
        F.lit(" +0000"),
    )
    atom_date = F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+00:00")
    )
    title_xml = F.when(
        d % 4 == 0,
        F.concat(F.lit("<![CDATA[T&"), ds, F.lit("]]>")),
    ).otherwise(F.concat(F.lit("T&amp;"), ds))
    cats_rss = F.when(d % 3 == 0, F.lit("")).otherwise(
        F.when(d % 3 == 1, F.lit("<category>alpha</category>")).otherwise(
            F.lit("<category>alpha</category><category>beta</category>")
        )
    )
    cats_atom = F.when(d % 3 == 0, F.lit("")).otherwise(
        F.when(d % 3 == 1, F.lit('<category term="alpha"/>')).otherwise(
            F.lit('<category term="alpha"/><category term="beta"/>')
        )
    )
    rss_item = F.concat(
        F.lit("<item><title>"), title_xml, F.lit("</title><link>"),
        link, F.lit("</link><guid>tag:"), ds, F.lit("</guid><pubDate>"),
        rss_date, F.lit("</pubDate>"), cats_rss, F.lit("</item>"),
    )
    atom_entry = F.concat(
        F.lit("<entry><title>"), title_xml, F.lit('</title><link href="'),
        link, F.lit('"/><id>tag:'), ds, F.lit("</id><updated>"),
        atom_date, F.lit("</updated>"), cats_atom, F.lit("</entry>"),
    )
    per_doc = documents.select(
        host.alias("host"),
        k.alias("k"),
        F.struct(
            d.alias("doc_id"),
            F.when(k % 2 == 0, rss_item).otherwise(atom_entry).alias("x"),
        ).alias("e"),
    )
    agg = per_doc.groupBy("host", "k").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("e")), lambda s: s["x"]),
            "\n",
        ).alias("items")
    )
    return agg.select(
        F.concat(
            F.lit("https://"), F.col("host"), F.lit(".example.com/feed.xml")
        ).alias("feed_url"),
        F.when(
            F.col("k") % 2 == 0,
            F.concat(
                F.lit(
                    '<?xml version="1.0"?><rss version="2.0"><channel>'
                    "<title>feed</title>\n"
                ),
                F.col("items"),
                F.lit("\n</channel></rss>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(
                    '<?xml version="1.0"?>'
                    '<feed xmlns="http://www.w3.org/2005/Atom">'
                    "<title>feed</title>\n"
                ),
                F.col("items"),
                F.lit("\n</feed>"),
            )
        )
        .alias("xml"),
    )
