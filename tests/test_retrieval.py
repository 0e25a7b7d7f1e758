"""BM25 / tf-idf checked against an independent pure-Python reference
on a tiny hand-auditable corpus (the DuckDB replay in
test_queries_vs_duckdb.py covers the sf0.01 value equality; this pins
the formula itself)."""

from __future__ import annotations

import math

from reading_the_unreadable_spark.operators.retrieval import (
    bm25_topk,
    tfidf_top_terms,
)

DOCS = [
    (0, "hash join hash join hash"),
    (1, "join merge sort"),
    (2, "scan filter scan"),
    (3, "hash table"),
]


def _ref_bm25(query: str, k1=1.2, b=0.75):
    toks = {d: t.split() for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for d, words in toks.items():
        score = 0.0
        for term in set(query.split()):
            df = sum(1 for w in toks.values() if term in w)
            if df == 0:
                continue
            tf = words.count(term)
            if tf == 0:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(words) / avgdl)
            )
        if score > 0:
            out[d] = round(score, 4)
    return out


def test_bm25_matches_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(1, "hash join"), (2, "scan missing")],
        "query_id long, query_text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["bm25"], r["rank"])
        for r in bm25_topk(docs, queries).collect()
    }
    for qid, qtext in [(1, "hash join"), (2, "scan missing")]:
        ref = _ref_bm25(qtext)
        ranked = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))
        assert {d for (q, d) in got if q == qid} == set(ref)
        for rank, (d, score) in enumerate(ranked, start=1):
            assert got[(qid, d)] == (score, rank), (qid, d)


def test_tfidf_top_terms_ranks_and_rounds(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = tfidf_top_terms(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        ranks = sorted(r["term_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
    # doc 2: scan appears 2x and only in doc 2 -> top term, tf-idf known
    top = next(r for r in by_doc[2] if r["term_rank"] == 1)
    assert top["term"] == "scan" and top["tf"] == 2
    assert top["tfidf"] == round(2 * math.log(4 / 1), 4)
    # 'join' is in 2 of 4 docs: idf ln(2); doc 0 has tf 2
    j = next(r for r in by_doc[0] if r["term"] == "join")
    assert j["tfidf"] == round(2 * math.log(4 / 2), 4)
