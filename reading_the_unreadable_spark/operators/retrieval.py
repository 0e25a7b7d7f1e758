"""Distributed lexical retrieval over the documents table: Okapi BM25
top-k scoring and tf-idf characteristic-term extraction.

Not a reference operator — part of the training-data-pipeline surface
(SURVEY §2.10): corpus-scale retrieval is how dedup-by-retrieval,
hard-negative mining, and eval-set decontamination are run in practice
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
BM25 and Beyond"; idf is the Lucene variant, always positive).

Scale shape (100 TB):
- The only corpus-sized shuffles are the two aggregations every
  retrieval system needs anyway: (doc, term) term frequencies and
  per-doc lengths.  Both are partial-aggregated map-side.
- The query side is configuration-sized and BROADCAST; postings are
  pruned to query terms BEFORE any join with per-doc state, so the
  candidate frame is bounded by the postings of the query terms, not
  the corpus.
- Document frequencies are computed only for query terms (a broadcast
  semi-prune of the tf table), and the resulting term stats are
  themselves broadcast back — never a shuffle keyed on the
  Zipf-distributed term.
- Scores round to 4 dp (repo convention: absorbs float summation
  order and libm-ulp differences across engines), and top-k ranks
  order by (rounded score DESC, doc_id) so the cut is total and
  engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10  # documents ranked per query
TFIDF_TOPK = 3  # terms kept per document


def _terms(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")


def bm25_topk(documents: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-``BM25_TOPK`` documents per query under Okapi BM25 (``BM25_K1``,
    ``BM25_B``).

    ``queries`` is a small (query_id: long, query_text: string) frame —
    it is broadcast, never shuffled.  Output: (query_id, doc_id,
    bm25, rank) with rank 1..BM25_TOPK per query, bm25 rounded to 4 dp,
    ties broken by doc_id.
    """
    toks = _terms(documents)
    doc_tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    doc_len = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = doc_len.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qterms = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("query_text")), " ")).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    # df only for query terms: broadcast-prune the tf table, then the
    # per-term stats are tiny and broadcast back
    term_df = (
        doc_tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    cand = (
        doc_tf.join(F.broadcast(qterms), "term")
        .join(doc_len, "doc_id")
        .join(F.broadcast(term_df), "term")
        .join(F.broadcast(corpus))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    k1, b = BM25_K1, BM25_B
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(idf * tf_norm), 4).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """The ``TFIDF_TOPK`` most characteristic terms per document by tf-idf
    (tf × ln(N/df), the classic smooth-free variant — df ≥ 1 always
    holds because tf rows exist only for observed terms).

    One corpus shuffle on (doc, term); document frequencies are one
    groupBy on term.  Unlike :func:`bm25_topk` (whose term stats are
    query-bounded and broadcast), the FULL vocabulary df table is NOT
    broadcast-safe at web scale (~10⁹ distinct terms with typos/URLs),
    so the df join is a plain equi-join on term — Zipf-hot terms are
    AQE skew-split, and the probe side is the already-collapsed
    (doc, term) tf table, not raw occurrences (same pre-aggregation
    defense as unigram_logprob).  Output: (doc_id, term, tf, tfidf,
    term_rank) with tfidf rounded to 4 dp, ties broken
    lexicographically on term.
    """
    toks = _terms(documents)
    doc_tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = documents.select(
        F.count("*").alias("n_docs")
    )
    term_df = doc_tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        doc_tf.join(term_df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "tfidf", "term_rank")
    )
