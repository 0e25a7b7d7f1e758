"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, n-gram-heuristic language ID, document
fingerprinting.  All native ``pyspark.sql.functions`` expressions
(JVM-side, whole-stage codegen — zero Python), designed to stream over a
100 TB documents table with no shuffle at all (pure map stage)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import spread, stage_boundary

# deterministic marker-word lists shared with the DuckDB oracle SQL
LANG_MARKERS = {
    "en": ("the", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "los", "y"),
    "fr": ("le", "les", "et", "des", "un"),
    "de": ("der", "die", "und", "das", "ein"),
}
EN_STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "for", "on", "with")


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def _marker_count(words: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token counts + char stats (whitespace tokenizer)."""
    w = tokens_col(F.col("text"))
    return documents.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
        F.round(
            F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
            / F.size(w),
            6,
        ).alias("avg_token_len"),
        F.size(F.array_distinct(w)).cast("long").alias("n_unique_tokens"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Deterministic quality heuristic: length saturation + stopword ratio
    + alpha ratio (the three signals used by classic corpus filters)."""
    w = tokens_col(F.col("text"))
    n = F.size(w).cast("double")
    stop_ratio = _marker_count(w, EN_STOPWORDS).cast("double") / n
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("double")
    alpha_ratio = alpha / F.length("text").cast("double")
    score = (
        F.lit(0.4) * F.least(n / F.lit(100.0), F.lit(1.0))
        + F.lit(0.4) * stop_ratio
        + F.lit(0.2) * alpha_ratio
    )
    return documents.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language ID (n-gram heuristic, deterministic argmax
    with fixed tie order en > es > fr > de)."""
    w = tokens_col(F.col("text"))
    c = {lang: _marker_count(w, m) for lang, m in LANG_MARKERS.items()}
    pred = (
        F.when(
            (c["en"] >= c["es"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["de"]), "en"
        )
        .when((c["es"] >= c["fr"]) & (c["es"] >= c["de"]), "es")
        .when(c["fr"] >= c["de"], "fr")
        .otherwise("de")
    )
    return documents.select(
        "doc_id",
        c["en"].cast("long").alias("c_en"),
        c["es"].cast("long").alias("c_es"),
        c["fr"].cast("long").alias("c_fr"),
        c["de"].cast("long").alias("c_de"),
        pred.alias("lang_pred"),
        "lang",
    )


# BPE-ish subword proxy: alpha runs / digit runs / single non-alnum marks —
# the token classes a byte-pair tokenizer's pre-tokenizer splits on.  The
# pattern is deliberately restricted to syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB oracle).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """Regex-class token counting (LLM-training cost estimation): counts
    of alpha/digit/punct token classes plus the whitespace count, all
    native expressions — zero shuffle, streams over 100 TB."""
    lower = F.lower(F.col("text"))
    toks = F.regexp_extract_all(lower, F.lit(BPE_PATTERN), 0)
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]"))).cast("long").alias(
            "n_alpha_tokens"
        ),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]"))).cast("long").alias(
            "n_digit_tokens"
        ),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


# ---- F16 readability (the one op that earns a scalar pandas_udf) -----------
# Flesch reading ease with a deterministic vowel-group syllable heuristic
# (the reference calls the textstat lib, comparative_analysis.py:338; the
# lib is not in this image, so the published formula is implemented
# directly).  Shared spec with the DuckDB oracle:
#   sentences  = max(#maximal [.!?]+ runs, 1)
#   words      = single-space split (len of split)
#   syllables  = Σ per word max(#maximal [aeiouy]+ runs in lower(word), 1)
#   flesch     = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
READ_SENT_RE = r"[.!?]+"
READ_SYL_RE = r"[aeiouy]+"


def _flesch_series(text):
    """Pure-pandas Flesch scorer (shared by the pandas_udf and any oracle
    use) — Arrow-batched, regex over the batch, no per-row Spark calls."""
    import re

    import pandas as pd

    sent_re = re.compile(READ_SENT_RE)
    syl_re = re.compile(READ_SYL_RE)

    def score(t):
        if t is None:
            return None
        words = t.split(" ")
        n_w = len(words)
        n_s = max(len(sent_re.findall(t)), 1)
        syl = sum(max(len(syl_re.findall(w.lower())), 1) for w in words)
        return 206.835 - 1.015 * (n_w / n_s) - 84.6 * (syl / n_w)

    return pd.Series([score(t) for t in text], dtype="float64")


def readability(documents: DataFrame) -> DataFrame:
    """Per-doc Flesch reading ease via a SCALAR Arrow ``pandas_udf`` —
    the sanctioned slow path: Arrow batch transfer, vectorized pandas
    inside, never row-at-a-time ``udf()``."""
    documents = spread(documents)  # compute-heavy per-doc map work: rebalance under-split scans

    flesch_udf = F.pandas_udf(_flesch_series, "double")
    return documents.select(
        "doc_id",
        F.round(flesch_udf(F.col("text")), 4).alias("flesch"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercased letters-only) —
    the exact-dedup key; md5 gives cross-engine-identical hex."""
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    return documents.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def _merge_fold_expr(syms: Column, a_sym: str, b_sym: str) -> Column:
    """Greedy left-to-right application of one BPE merge rule over a
    space-joined symbol string: ``F.aggregate`` with a (out, pending)
    accumulator — token-boundary-safe ('' marks nothing pending;
    symbols are never empty).  Returns the new symbol ARRAY."""
    merged = a_sym + b_sym

    def step(acc: Column, t: Column) -> Column:
        return (
            F.when(
                acc["prev"] == "",
                F.struct(acc["out"].alias("out"), t.alias("prev")),
            )
            .when(
                (acc["prev"] == a_sym) & (t == b_sym),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit("").alias("prev"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["prev"])).alias("out"),
                    t.alias("prev"),
                )
            )
        )

    return F.aggregate(
        F.split(syms, " "),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit("").alias("prev"),
        ),
        step,
        lambda acc: F.when(acc["prev"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        ),
    )


BPE_MERGES = 5


def bpe_train(documents: DataFrame) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    ``BPE_MERGES`` merge rules from corpus word frequencies — the actual
    tokenizer-training computation, not a proxy.

    Shape per merge step (the scale story): symbol pairs explode from
    the word-frequency table (vocab-sized, NOT corpus-sized — the one
    groupBy(word) up front collapses 100 TB of text to a vocabulary),
    pair counts partial-aggregate map-side, and only the argmax row
    reaches the driver.  The merge applies as a greedy left-to-right
    fold over each vocab entry's symbol array (``F.aggregate`` with a
    (out, pending) accumulator — token-boundary-safe, the exact BPE
    semantics; a plain substring replace would merge across token
    boundaries, e.g. pair "a b" inside "xa b").  The DuckDB replica
    applies each rule by recursing a leftmost-single-occurrence
    boundary-anchored regexp_replace to its fixed point — provably the
    same greedy result.  Tie-break: (count DESC, pair ASC).

    Output: (merge_rank, pair, merged, pair_count) — the merge table a
    tokenizer would broadcast."""
    spark = documents.sparkSession
    words = (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # symbol string: chars space-separated, end-of-word marker
    vocab = words.select(
        F.concat(
            F.array_join(F.split(F.col("w"), ""), " "), F.lit(" </w>")
        ).alias("syms"),
        "freq",
    ).localCheckpoint()
    rules = []
    for rank in range(BPE_MERGES):
        toks = F.split(F.col("syms"), " ")
        pairs = vocab.select(
            "freq",
            F.explode_outer(
                F.when(
                    F.size(toks) < 2, F.array().cast("array<string>")
                ).otherwise(
                    F.transform(
                        F.slice(toks, 1, F.size(toks) - 1),
                        lambda t, i: F.concat_ws(
                            " ", t, F.element_at(toks, i + 2)
                        ),
                    )
                )
            ).alias("pair"),
        ).filter(F.col("pair").isNotNull())
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, count = top[0]["pair"], int(top[0]["c"])
        a_sym, b_sym = pair.split(" ", 1)
        rules.append((rank, pair, pair.replace(" ", ""), count))
        folded = _merge_fold_expr(F.col("syms"), a_sym, b_sym)
        vocab = vocab.select(
            F.array_join(folded, " ").alias("syms"), "freq"
        ).localCheckpoint()
    return spark.createDataFrame(
        rules, "merge_rank int, pair string, merged string, pair_count long"
    )


def bpe_encode(documents: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply learned BPE merge rules (:func:`bpe_train` output) —
    tokenization, the other half of the tokenizer loop.

    Scale shape: rules apply over the DISTINCT-WORD table, not word
    occurrences (the vocab trick — 100 TB of text tokenizes its
    vocabulary once), then words join back to (doc, position) and
    re-assemble in order.  Each rule is one greedy left-to-right
    ``F.aggregate`` fold (same boundary-safe semantics as training);
    the rule list is configuration-sized and lives in the plan.

    Output: (doc_id, n_words, n_bpe_tokens, bpe_text) with tokens
    space-joined and words separated by the ``</w>`` markers."""
    documents = spread(documents)  # compute-heavy per-doc map work: rebalance under-split scans

    words = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    vocab = words.select("w").distinct().withColumn(
        "syms",
        F.concat(F.array_join(F.split(F.col("w"), ""), " "), F.lit(" </w>")),
    )
    for a_sym, b_sym in merges:
        folded = _merge_fold_expr(F.col("syms"), a_sym, b_sym)
        vocab = vocab.select("w", F.array_join(folded, " ").alias("syms"))
    tokenized = words.join(vocab, "w")
    return (
        tokenized.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size(F.split(F.col("syms"), " ")))
            .cast("long")
            .alias("n_bpe_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "syms"))
                    ),
                    lambda s: s["syms"],
                ),
                " ",
            ).alias("bpe_text"),
        )
    )


PMI_MIN_COUNT = 5
PMI_TOPK = 20


def pmi_collocations(documents: DataFrame) -> DataFrame:
    """Top-``PMI_TOPK`` adjacent-word collocations by pointwise mutual
    information (Church & Hanks 1990) — the statistical phrase-mining
    pass tokenizer/phrase-list pipelines run before training:

        pmi(a, b) = ln( P(a,b) / (P(a)·P(b)) )
                  = ln( c_ab · N / (c_a · c_b) )

    with marginals taken over the BIGRAM stream (c_a = left
    occurrences, c_b = right occurrences, N = total bigrams).

    Scale shape: one corpus shuffle builds the bigram type table
    (map-side partials); marginals and N are aggregates over that
    collapsed table; the two marginal joins key on single words
    (vocabulary-sized frames, AQE-broadcastable but not pinned — same
    reasoning as tf-idf's df join).  The product is computed in
    doubles (c_ab·N overflows int64 at corpus scale).  Top-k orders
    by the ROUNDED pmi (then the pair) so the cutoff is engine-
    portable, and runs as TakeOrdered — never a global sort.
    ``PMI_MIN_COUNT`` suppresses the noise floor (PMI's known bias toward
    hapax pairs)."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    pairs = F.arrays_zip(
        F.slice(words, 1, n - 1).alias("prev"),
        F.slice(words, 2, n - 1).alias("cur"),
    )
    flat = documents.select(F.explode(pairs).alias("p")).select(
        F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    big = flat.groupBy("prev", "cur").agg(F.count("*").alias("c_ab"))
    left = big.groupBy("prev").agg(F.sum("c_ab").alias("c_a"))
    right = big.groupBy("cur").agg(F.sum("c_ab").alias("c_b"))
    total = big.agg(F.sum("c_ab").alias("n_big"))
    scored = (
        big.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(left, "prev")
        .join(right, "cur")
        .join(F.broadcast(total))
        .select(
            "prev",
            "cur",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("c_ab") * 1.0 * F.col("n_big"))
                    / (F.col("c_a") * 1.0 * F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "prev", "cur").limit(PMI_TOPK)


ZIPF_TOPK = 1000


def zipf_fit(documents: DataFrame) -> DataFrame:
    """Zipf's-law diagnostic: least-squares slope/intercept/R² of
    ln(frequency) against ln(rank) over the ``ZIPF_TOPK`` most frequent
    tokens — the one-row corpus health check (natural language sits
    near slope −1; a slope collapsing toward 0 means templated or
    deduplicated-to-death text, a cliff past rank ~100 means a
    truncated vocabulary).

    Scale shape: ONE shuffle builds the token frequency table; the
    top-k cut is TakeOrdered (per-partition heaps, never a global
    sort); ranking happens on the k-row frame AFTER the limit (the
    only unpartitioned window, size-bounded by construction — fitting
    on all 1e9 ranks would serialize the vocabulary through one
    partition for a statistic the head determines anyway).  The fit
    itself is the built-in regr_* aggregates.

    Output: 1 row (n_types_fitted, n_tokens_fitted, zipf_slope,
    zipf_intercept, r2), floats rounded 4 dp; ties broken on token so
    ranks are engine-exact."""
    freq = (
        documents.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda t: t != "")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    top = freq.orderBy(F.col("c").desc(), "token").limit(ZIPF_TOPK)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "token")),
    )
    return ranked.agg(
        F.count("*").cast("long").alias("n_types_fitted"),
        F.sum("c").cast("long").alias("n_tokens_fitted"),
        F.round(F.expr("regr_slope(ln(cast(c as double)), ln(cast(rank as double)))"), 4).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(cast(c as double)), ln(cast(rank as double)))"), 4).alias("zipf_intercept"),
        F.round(F.expr("regr_r2(ln(cast(c as double)), ln(cast(rank as double)))"), 4).alias("r2"),
    )


def tokenizer_stats(documents: DataFrame) -> DataFrame:
    """Per-source tokenizer efficiency table — the capacity-planning
    numbers every pre-training run budgets from: how many BPE-class
    tokens a source yields per whitespace word (FERTILITY — high
    fertility flags sources whose text shatters under the tokenizer:
    code, non-Latin scripts, OCR noise) and per character
    (compression).  Same token classes as :func:`bpe_token_stats`.

    Pure map stage feeding one groupBy on the low-cardinality source
    key — partial aggregation collapses everything node-local; ratios
    are computed from the summed longs AFTER aggregation, so 4 dp
    rounding is engine-exact.

    Output: (source, n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
    fertility, chars_per_token)."""
    documents = spread(documents)  # compute-heavy per-doc map work: rebalance under-split scans

    lower = F.lower(F.col("text"))
    toks = F.regexp_extract_all(lower, F.lit(BPE_PATTERN), 0)
    per = documents.select(
        "source",
        F.length(F.col("text")).alias("_chars"),
        F.size(toks).alias("_bpe"),
        F.size(tokens_col(F.col("text"))).alias("_ws"),
    )
    return per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_chars").cast("long").alias("n_chars"),
        F.sum("_ws").cast("long").alias("n_ws_tokens"),
        F.sum("_bpe").cast("long").alias("n_bpe_tokens"),
        F.round(F.sum("_bpe") / F.sum("_ws"), 4).alias("fertility"),
        F.round(F.sum("_chars") / F.sum("_bpe"), 4).alias(
            "chars_per_token"
        ),
    )


def length_quantiles(documents: DataFrame) -> DataFrame:
    """EXACT per-source token-length quantiles — the length-
    distribution audit behind truncation budgets and packing
    efficiency — computed scalably via the collapsed-histogram
    pattern: never percentile_approx (engine-specific sketch), never
    a window over raw documents (that serializes each source's docs
    through one partition).

    Shape: one groupBy collapses the corpus to the (source, length)
    HISTOGRAM — bounded by distinct lengths, not documents; the
    cumulative rank runs as a window over that small frame; the
    quantile is the lower-rank convention value = min length whose
    cumulative count ≥ ⌈q·N⌉ (pure integer arithmetic — engine-exact,
    no interpolation).

    Output: (source, n_docs, p50, p90, p99) longs."""
    from pyspark.sql import Window

    n_tok = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    )
    hist = (
        documents.select(
            "source", n_tok.alias("len")
        )
        .groupBy("source", "len")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy("len")
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("source"))
    )
    aggs = [F.max("n").cast("long").alias("n_docs")]
    for q in (0.5, 0.9, 0.99):
        name = f"p{int(round(q * 100))}"
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("len"),
                )
            )
            .cast("long")
            .alias(name)
        )
    return cum.groupBy("source").agg(*aggs)


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30


def chunk_overlap(documents: DataFrame) -> DataFrame:
    """Strided overlapping chunker (the RAG/embedding-index grain:
    ``CHUNK_TOKENS``-token windows every ``CHUNK_STRIDE`` tokens, so
    consecutive chunks share CHUNK_TOKENS − CHUNK_STRIDE tokens and no
    boundary sentence is ever split away from all its context).
    Chunks start at 0, stride, 2·stride, …; the last chunk is the
    first one whose window reaches the end of the document (shorter
    than ``CHUNK_TOKENS`` only when the document itself is).  Pure map
    stage — transform + posexplode, zero shuffle, streams over 100 TB.

    Output: (doc_id, chunk_idx 0-based, text, n_tokens)."""
    size, stride = CHUNK_TOKENS, CHUNK_STRIDE
    w = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n = F.size(w)
    # number of chunks: 1 + ceil(max(n-size,0)/stride), at least 1 for
    # any non-empty doc
    n_chunks = F.when(
        n <= size, F.lit(1)
    ).otherwise(F.lit(1) + F.ceil((n - F.lit(size)) / F.lit(stride)))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.array_join(
            F.slice(w, i * stride + 1, F.lit(size)), " "
        ),
    )
    out = documents.filter(n >= 1).select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.col("chunk").alias("text"),
        F.size(F.split("chunk", " ")).cast("long").alias("n_tokens"),
    )


# Lexicon-based sentence-boundary guards.  A dot after one of these
# word forms is an abbreviation, not a terminator — the usual first-line
# SBD lexicon (a model pass is the upgrade path, not this operator).
SBD_ABBREVIATIONS = ("mr", "mrs", "ms", "dr", "prof", "no", "vol", "fig", "etc", "vs")
_SBD_MARK = "\x01"  # sentinel for a protected dot; never occurs in text


def sentences_col(text: Column) -> Column:
    """Abbreviation-aware sentence split of one string column into an
    array of trimmed sentences.  Protect-then-split, all JVM regexp:

    1. decimal points between digits (``2.5``);
    2. lexicon abbreviations (case-insensitive, word-anchored);
    3. the two-letter dotted forms ``e.g.``/``i.e.``/``u.s.``;
    4. single-capital initials (``J. Smith``);
    5. split on whitespace following ``. ! ?``, restore protected dots,
       drop empty fragments.

    Known limitation (documented, inherent to lexicon SBD): a sentence
    that genuinely ENDS in an abbreviation word ("the answer is no.")
    will not split there."""
    t = F.coalesce(text, F.lit(""))
    t = F.regexp_replace(t, r"(\d)\.(\d)", "$1" + _SBD_MARK + "$2")
    t = F.regexp_replace(
        t,
        r"(?i)\b(" + "|".join(SBD_ABBREVIATIONS) + r")\.",
        "$1" + _SBD_MARK,
    )
    t = F.regexp_replace(t, r"(?i)\b([eiu])\.([ges])\.", "$1" + _SBD_MARK + "$2" + _SBD_MARK)
    # lookahead (non-consuming) so runs of initials ("J. R. R.") all
    # protect — a consuming group would skip every second one
    t = F.regexp_replace(t, r"\b([A-Z])\.(?= [A-Z])", "$1" + _SBD_MARK)
    parts = F.split(t, r"(?<=[.!?])\s+")
    restored = F.transform(
        parts, lambda s: F.trim(F.regexp_replace(s, _SBD_MARK, "."))
    )
    return F.filter(restored, lambda s: s != "")


def split_sentences(documents: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per sentence: (doc_id, sent_idx 1-based,
    sentence, n_sents).  The grain C4's three-sentence dedup, eval-set
    construction, and sentence-level quality filters all want.  Pure map
    stage — regexp protect/split + posexplode, zero shuffle, streams
    over 100 TB."""
    documents = spread(documents)  # compute-heavy per-doc map work: rebalance under-split scans

    sents = sentences_col(F.col("text"))
    return (
        documents.select("doc_id", F.posexplode(sents).alias("i", "sentence"),
                         F.size(sents).alias("n_sents"))
        .select(
            "doc_id",
            (F.col("i") + 1).cast("int").alias("sent_idx"),
            "sentence",
            F.col("n_sents").cast("int"),
        )
    )


def corpus_drift(documents: DataFrame) -> DataFrame:
    """Crawl-over-crawl distribution drift: Jensen–Shannon divergence
    (base 2) between the unigram distributions of consecutive corpus
    snapshots — the monitoring signal that tells an incremental-crawl
    pipeline its newest batch changed character (new spam campaign,
    new language mix, a broken extractor) BEFORE the mixture weights or
    quality gates silently shift downstream.

    Input: documents tagged with an integer snapshot id ``sid``;
    one output row per consecutive (sid, sid+1) pair present.

    Determinism contract (the iterative-oracle discipline, see k-means/
    PageRank): every per-token JS contribution is rounded to integer
    NANOBITS (``round(term * 1e9) :: long``) before the sum, so the
    aggregate is an exact-integer sum in any partitioning/order and the
    DuckDB oracle replays it bit-for-bit; ``jsd_nano`` is that integer
    (divide by 1e9 for bits, max ~1e9 = fully disjoint).

    Scale shape (100 TB): token counts are one partial-aggregated
    groupBy(sid, token); the pair frame full-outer-joins the counts
    with themselves on (sid_to, token) — both sides pre-filtered to
    valid pairs through a broadcast of the tiny per-snapshot totals
    dim, so the join is vocabulary-sized, never corpus-sized, and the
    hot path never shuffles document text.  The counts frame is
    consumed four ways (totals, pair dim, both join sides) and is tiny
    next to its rebuild cost (a full corpus scan + explode each), so it
    sits behind a stage boundary — the measured boundary-vs-recompute
    rule (SURVEY §10.m): without one the physical plan re-scans the
    corpus four times."""
    counts = (
        documents.select(
            F.col("sid").cast("long").alias("sid"),
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("sid", "token")
        .agg(F.count("*").alias("cnt"))
    )
    counts = stage_boundary(counts, "drift_counts")
    totals = counts.groupBy("sid").agg(F.sum("cnt").alias("total"))
    a, b = totals.alias("a"), totals.alias("b")
    pair_dim = (
        a.join(b, F.col("a.sid") + 1 == F.col("b.sid"))
        .select(
            F.col("a.sid").alias("sid_from"),
            F.col("b.sid").alias("sid_to"),
            F.col("a.total").alias("total_from"),
            F.col("b.total").alias("total_to"),
        )
    )
    af = counts.select(
        (F.col("sid") + 1).alias("sid_to"),
        "token",
        F.col("cnt").alias("cnt_from"),
    ).join(F.broadcast(pair_dim.select("sid_to")), "sid_to")
    bf = counts.select(
        F.col("sid").alias("sid_to"), "token", F.col("cnt").alias("cnt_to")
    ).join(F.broadcast(pair_dim.select("sid_to")), "sid_to")
    pt = af.join(bf, ["sid_to", "token"], "full_outer").join(
        F.broadcast(pair_dim), "sid_to"
    )
    p = F.coalesce(F.col("cnt_from"), F.lit(0)).cast("double") / F.col("total_from")
    q = F.coalesce(F.col("cnt_to"), F.lit(0)).cast("double") / F.col("total_to")
    m = (p + q) / 2
    term = (
        F.when(p > 0, p * F.log2(p / m) / F.lit(2.0)).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log2(q / m) / F.lit(2.0)).otherwise(F.lit(0.0))
    )
    nano = F.round(term * F.lit(1e9)).cast("long")
    return (
        pt.groupBy("sid_from", "sid_to", "total_from", "total_to")
        .agg(F.sum(nano).alias("jsd_nano"), F.count("*").alias("n_union_tokens"))
        .select(
            "sid_from",
            "sid_to",
            F.col("total_from").cast("long"),
            F.col("total_to").cast("long"),
            F.col("n_union_tokens").cast("long"),
            "jsd_nano",
        )
    )


def text_tiling(documents: DataFrame, block_tokens: int = 20) -> DataFrame:
    """TextTiling-style topic segmentation (Hearst 1997, the fixed-
    threshold variant): a document is cut into ``block_tokens``-token
    pseudo-sentence blocks; every gap between adjacent blocks scores
    the cosine similarity of the two blocks' term-frequency vectors,
    and a gap is a topic boundary when similarity < 0.5.  The grain
    RAG chunkers and article segmenters want when layout gives no
    paragraph signal (OCR'd single-column scans, subtitle streams).

    Exactness contract: the rule compares SQUARED cosine as a rational
    number — ``boundary ⇔ 4·dot² < Σl²·Σr²`` — and reports
    ``floor(dot²·1e9 / (Σl²·Σr²))`` parts-per-billion, all integer
    arithmetic on term counts, so the DuckDB oracle replays every value
    exactly.  (The adaptive depth-score threshold of the full algorithm
    trades that for a float chain; the fixed threshold is the
    deterministic variant.)

    Shape: one fused ``mapInPandas`` pass, zero shuffle.  Per gap the
    two blocks' term counts are built once with ``Counter``; the
    boundary rule is exact Python-int arithmetic and the ppb value
    performs the same single long→double→divide→floor IEEE-754 chain
    as the JVM/DuckDB expression, so no float divergence is possible.
    The declarative higher-order-function form of the same rule is the
    spec in tests/operator_specs.py; byte-identical output is pinned by
    tests on the edge cases and the sf corpus.  As a production path it
    was ~25x slower: nested HOF lambdas evaluate interpreted per
    element, so its O(w²)-per-gap counting dominated the suite.

    ``block_tokens`` is capped at 180: the exactness contract runs on
    int64 (dot ≤ w², so the boundary compare computes 4·w⁴ and the ppb
    numerator w⁴·1e9), and 4·180⁴ ≈ 4.2e18 is the last comfortable
    fit under 2⁶³, the integer width the HOF spec and the DuckDB
    oracle compute in."""
    if block_tokens > 180 or block_tokens < 1:
        raise ValueError(
            f"block_tokens must be in [1, 180] (int64 exactness bound), "
            f"got {block_tokens}"
        )
    w = block_tokens
    documents = spread(documents)  # per-doc numpy tiling: rebalance under-split scans

    import math
    from collections import Counter

    import pandas as pd

    id_type = documents.schema["doc_id"].dataType.simpleString()
    schema = (
        f"doc_id {id_type}, n_tokens int, n_blocks int, n_boundaries int, "
        "n_segments int, boundaries string, gap_sims_ppb string"
    )
    giga = 1_000_000_000

    def run(batches):
        for pdf in batches:
            n_tok, n_blk, n_bnd, n_seg, bnds, sims = [], [], [], [], [], []
            for text in pdf["text"]:
                if text is None or (isinstance(text, float) and math.isnan(text)):
                    # split(NULL) is NULL: null token/block counts, no gaps
                    n_tok.append(None)
                    n_blk.append(None)
                    n_bnd.append(0)
                    n_seg.append(1)
                    bnds.append("")
                    sims.append("")
                    continue
                toks = text.split(" ")  # single-space regex, empties kept
                n = len(toks)
                nb = -(-n // w)  # ceil
                g_bnds: list[str] = []
                g_sims: list[str] = []
                for g in range(1, nb):
                    left = Counter(toks[(g - 1) * w : g * w])
                    right = Counter(toks[g * w : (g + 1) * w])
                    dot = sum(c * right.get(t, 0) for t, c in left.items())
                    ss_l = sum(c * c for c in left.values())
                    ss_r = sum(c * c for c in right.values())
                    # same op order as the JVM expression: exact long
                    # product, ONE cast to double each side, divide, floor
                    g_sims.append(
                        str(math.floor(float(dot * dot * giga) / float(ss_l * ss_r)))
                    )
                    if 4 * dot * dot < ss_l * ss_r:
                        g_bnds.append(str(g))
                n_tok.append(n)
                n_blk.append(nb)
                n_bnd.append(len(g_bnds))
                n_seg.append(len(g_bnds) + 1)
                bnds.append(",".join(g_bnds))
                sims.append(",".join(g_sims))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pd.array(n_tok, dtype="Int32"),
                    "n_blocks": pd.array(n_blk, dtype="Int32"),
                    "n_boundaries": pd.array(n_bnd, dtype="Int32"),
                    "n_segments": pd.array(n_seg, dtype="Int32"),
                    "boundaries": bnds,
                    "gap_sims_ppb": sims,
                }
            )

    return documents.select("doc_id", "text").mapInPandas(run, schema)


def charclass_stats(documents: DataFrame) -> DataFrame:
    """Character-class mix per document — the cheap script/spam signal
    web-scale quality filters run before anything tokenizes: digit
    floods (price/spam pages), non-ASCII floods in a declared-ASCII
    source (encoding damage, script mixing).  Counts come from
    ``length(text) − length(regexp_replace(text, class, ''))`` so the
    whole operator is one zero-shuffle projection; ``other`` (non-ASCII
    and control chars) is the remainder, so the five counts always sum
    to n_chars.  Fractions 6-dp rounded; ``suspicious`` flags
    digit_frac > 0.3 or other_frac > 0.1."""
    documents = spread(documents)  # char-class regex scans: rebalance

    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(t)

    def cnt(pat):
        return n - F.length(F.regexp_replace(t, pat, ""))

    n_alpha = cnt("[A-Za-z]")
    n_digit = cnt("[0-9]")
    n_space = cnt(r"[ \t\n\r]")
    n_punct = cnt(r"[!-/:-@\[-`{-~]")
    n_other = n - n_alpha - n_digit - n_space - n_punct
    frac = lambda c: F.round(  # noqa: E731
        c.cast("double") / F.greatest(n, F.lit(1)), 6
    )
    return documents.select(
        "doc_id",
        n.cast("long").alias("n_chars_seen"),
        n_alpha.cast("long").alias("n_alpha"),
        n_digit.cast("long").alias("n_digit"),
        n_space.cast("long").alias("n_space"),
        n_punct.cast("long").alias("n_punct"),
        n_other.cast("long").alias("n_other"),
        frac(n_digit).alias("digit_frac"),
        frac(n_other).alias("other_frac"),
        (
            (frac(n_digit) > 0.3) | (frac(n_other) > 0.1)
        ).cast("int").alias("suspicious"),
    )
