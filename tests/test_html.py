"""HTML boilerplate strip + link-density main-content extraction."""

from __future__ import annotations

from reading_the_unreadable_spark.operators.html import (
    html_blocks,
    main_text,
    strip_html,
)

PAGE = (
    "<!DOCTYPE html><html><head><title>My Site</title>"
    "<style>.x { color: red }</style><script>if (a < b) { go() }</script></head>"
    "<body>"
    '<header><a href="/">Home</a> <a href="/news">News</a></header>'
    "<!-- comment with <p>fake tag</p> -->"
    '<div id="content">'
    "<h1>Storm hits the coast</h1>"
    "<p>The storm made landfall on Tuesday &amp; caused damage.</p>"
    '<p>Officials said <a href="/report">the full report</a> will follow '
    "shortly after review.</p>"
    "</div>"
    '<footer><a href="/terms">Terms</a> <a href="/priv">Privacy</a> - 2026</footer>'
    "</body></html>"
)


def _df(spark, pages):
    return spark.createDataFrame(pages, "doc_id string, html string")


def test_strip_html_removes_machinery(spark):
    got = strip_html(_df(spark, [("d", PAGE)])).collect()[0]["text"]
    assert "color" not in got and "go()" not in got  # style/script gone
    assert "My Site" not in got  # head gone
    assert "fake tag" not in got  # comments gone
    assert "Tuesday & caused damage" in got  # entity decoded
    assert "<" not in got and ">" not in got
    assert got.startswith("Home News Storm hits the coast")


def test_html_blocks_link_density(spark):
    rows = {
        r["block_idx"]: r
        for r in html_blocks(_df(spark, [("d", PAGE)])).collect()
    }
    by_text = {r["text"]: r for r in rows.values()}
    nav = by_text["Home News"]
    assert nav["link_density"] == 1.0 and nav["is_content"] == 0
    h1 = by_text["Storm hits the coast"]
    assert h1["link_density"] == 0.0 and h1["is_content"] == 1
    # anchors inside real content keep the block below the threshold
    rep = by_text[
        "Officials said the full report will follow shortly after review."
    ]
    assert 0 < rep["link_density"] <= 0.33 and rep["is_content"] == 1
    footer = by_text["Terms Privacy - 2026"]
    assert footer["link_density"] > 0.33 and footer["is_content"] == 0


def test_main_text_extraction(spark):
    got = main_text(_df(spark, [("d", PAGE)])).collect()[0]["text"]
    assert got == (
        "Storm hits the coast\n\n"
        "The storm made landfall on Tuesday & caused damage.\n\n"
        "Officials said the full report will follow shortly after review."
    )


def test_main_text_multiple_docs_and_edge_cases(spark):
    pages = [
        ("a", PAGE),
        ("b", "<p>no body tag but a long enough paragraph</p>"),
        ("c", ""),  # empty html -> zero blocks survive
        ("d", "<ul><li><a href='/'>one</a></li><li><a href='/'>two</a></li></ul>"),
    ]
    got = {r["doc_id"]: r["text"] for r in main_text(_df(spark, pages)).collect()}
    assert "Storm hits the coast" in got["a"]
    assert got["b"] == "no body tag but a long enough paragraph"
    # boilerplate-only / empty docs keep their row with EMPTY text (one
    # output row per input doc — joins downstream never lose a doc_id)
    assert got["c"] == ""
    assert got["d"] == ""


def test_anchor_regex_not_fooled_by_article_tags(spark):
    """<article>/<aside>/<abbr> must not be counted as anchors: the body
    of an article block is content even though the tag starts with 'a'."""
    page = (
        "<article><p>Long body text with exactly one "
        '<a href="/x">link</a> inside it somewhere.</p></article>'
    )
    rows = {r["text"]: r for r in html_blocks(_df(spark, [("d", page)])).collect()}
    body = rows["Long body text with exactly one link inside it somewhere."]
    assert body["link_chars"] == len("link")
    assert body["is_content"] == 1


def test_blocks_are_map_side_only(spark):
    """Block segmentation + scoring adds no KEYED exchange; the one
    allowed exchange is the conditional round-robin rebalance of an
    under-split input."""
    import re as _re

    plan = (
        html_blocks(_df(spark, [("d", PAGE)]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert len(_re.findall(r"Exchange round", plan)) <= 1


def test_page_metadata_extraction(spark):
    from reading_the_unreadable_spark.operators.html import page_metadata

    pages = spark.createDataFrame(
        [
            (
                0,
                '<html><head><title>A &amp; B</title>'
                "<meta content='OGT' property='og:title'/>"  # flipped + single-quoted
                '<meta property="og:type" content="article"/>'
                '<link rel="canonical" href="https://x/p/0"/>'
                '<script type="application/ld+json">{"@type":"NewsArticle",'
                '"headline":"H0","datePublished":"2021-02-03",'
                '"author":{"name":"Ada"},"wordCount":7}</script>'
                "</head><body/></html>",
            ),
            (1, "<html><head><title>only title</title></head><body/></html>"),
        ],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r for r in page_metadata(pages).collect()}
    r0 = rows[0]
    assert r0["title"] == "A & B"
    assert r0["og_title"] == "OGT"
    assert r0["og_type"] == "article"
    assert r0["canonical"] == "https://x/p/0"
    assert r0["ld_type"] == "NewsArticle"
    assert r0["ld_headline"] == "H0"
    assert str(r0["ld_date"]) == "2021-02-03"
    assert r0["ld_author"] == "Ada"
    assert r0["ld_word_count"] == 7
    r1 = rows[1]
    assert r1["title"] == "only title"
    # every absent tag is NULL, never an error
    assert all(
        r1[c] is None
        for c in (
            "og_title", "og_type", "description", "canonical",
            "ld_type", "ld_headline", "ld_date", "ld_author", "ld_word_count",
        )
    )


def test_page_metadata_is_jvm_only(spark):
    from reading_the_unreadable_spark.operators.html import page_metadata

    pages = spark.createDataFrame([(0, "<html/>")], "doc_id long, html string")
    import re as _re

    plan = page_metadata(pages)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
    # pure projection: no keyed shuffle (round-robin rebalance of an
    # under-split input is the one allowed exchange)
    assert "Exchange hashpartitioning" not in plan
    assert len(_re.findall(r"Exchange round", plan)) <= 1
