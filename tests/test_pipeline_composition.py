"""End-to-end training-data pipeline composition: raw HTML → main-content
extraction → C4 line cleaning → corpus-wide paragraph dedup → Gopher
filter → sequence packing — every stage is the real operator, chained the
way a production cleaning job would chain them."""

from __future__ import annotations

from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.html import main_text
from reading_the_unreadable_spark.operators.quality import (
    c4_line_filters,
    dedup_paragraphs,
    gopher_filter,
    pack_sequences,
)


def _page(doc: str, body_sentences: list[str], boiler: str) -> tuple[str, str]:
    paras = "".join(f"<p>{s}</p>" for s in body_sentences)
    html = (
        "<html><head><script>t()</script></head><body>"
        '<nav><a href="/">home</a> <a href="/x">about</a></nav>'
        f"<div>{paras}<p>{boiler}</p></div>"
        '<footer><a href="/t">terms</a> <a href="/p">privacy</a></footer>'
        "</body></html>"
    )
    return (doc, html)


def test_full_cleaning_pipeline(spark):
    shared = "this shared promotional sentence appears in every article."
    rows = [
        _page(
            "doc-a",
            [
                "the first article body sentence is long enough to keep.",
                "a second sentence with plenty of words survives as well.",
            ],
            shared,
        ),
        _page(
            "doc-b",
            [
                "another article entirely with its own sentence content here.",
                "and a second line of this other article is long enough too.",
            ],
            shared,
        ),
        _page("doc-c", [], shared),  # boilerplate-only page
    ]
    df = spark.createDataFrame(rows, "doc_id string, html string")

    # 1. HTML → main content (nav/footer drop, every doc keeps a row)
    main = main_text(df)
    got_main = {r["doc_id"]: r["text"] for r in main.collect()}
    assert "home" not in got_main["doc-a"] and "terms" not in got_main["doc-a"]
    assert got_main["doc-c"] == shared  # only the boilerplate para survived

    # 2. C4 line rules (all these sentences end with '.', ≥5 words; the
    #    blank lines between blocks are dropped; doc-c has too few lines)
    cleaned = c4_line_filters(main)
    assert {r["doc_id"]: r["kept"] for r in cleaned.collect()} == {
        "doc-a": 1,
        "doc-b": 1,
        "doc-c": 0,
    }

    # 3. corpus-wide paragraph dedup: the shared sentence survives only in
    #    the lexicographically-first doc
    paras_in = cleaned.select(
        "doc_id", F.regexp_replace("text", "\n", "\n\n").alias("text")
    )
    deduped = dedup_paragraphs(paras_in)
    got = {r["doc_id"]: r for r in deduped.collect()}
    assert shared in got["doc-a"]["text"]
    assert shared not in got["doc-b"]["text"]
    assert got["doc-c"]["n_paras_kept"] == 0

    # 4. Gopher filter over the deduped text
    kept = gopher_filter(deduped.filter(F.length("text") > 0))
    assert all(r["kept"] == 1 for r in kept.collect())

    # 5. sequence packing of the survivors (single partition key)
    packed = pack_sequences(
        deduped.filter(F.length("text") > 0).withColumn("source", F.lit("web"))
    )
    total_docs = sum(r["n_docs"] for r in packed.collect())
    assert total_docs == 2  # doc-a and doc-b packed, doc-c emptied out
