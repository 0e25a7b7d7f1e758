"""Corpus-quality operators for LLM training-data pipelines — the
C4 / Gopher(MassiveText) filter families, Spark-first.

Built from the published rule sets (Raffel et al. 2020 §2.2 "C4";
Rae et al. 2021 appendix A "MassiveText quality/repetition filters"),
re-expressed as native Spark SQL expressions:

- :func:`c4_line_filters` — line-grain cleaning: keep lines that end in
  terminal punctuation, have enough words, and carry no boilerplate
  marker ("javascript", "cookie", …); re-join survivors, flag documents
  that keep enough lines.  Pure map stage — zero shuffle, streams over
  100 TB.
- :func:`gopher_repetition_signals` — per-doc repetition/shape metrics
  (duplicate-line fraction, duplicate-paragraph fraction, duplicate-word
  fraction, mean word length, bullet-line fraction, ellipsis-line
  fraction).  Pure map stage.
- :func:`dedup_paragraphs` — corpus-WIDE exact paragraph dedup (the C4
  "repeated spans appear once in the corpus" rule at paragraph grain):
  explode → fingerprint → keep the globally-first occurrence (one
  shuffle on the 16-byte fingerprint) → reassemble documents.
- :func:`contamination_flags` — GPT-3 §C / Pile benchmark
  decontamination (broadcast eval-set n-grams, JVM gram build).
- :func:`ccnet_buckets` — CCNet per-language head/middle/tail quality
  terciles over the LM score (Wenzek et al. 2020 §4.3).
- :func:`epoch_sample` — deterministic temperature-weighted epoch
  materialization (md5-ranked per-source quotas).

Everything is deterministic and DuckDB-replicable (md5 fingerprints,
lexicographic first-occurrence order), so each operator carries a full
value-hash oracle in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..execution import spread, stage_boundary

# markers from the C4 blocklist family (lowercase substring match)
C4_BOILERPLATE_MARKERS = ("javascript", "cookie", "lorem ipsum", "privacy policy")
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_LINES_PER_DOC = 3
MIX_ALPHA = 0.7  # temperature of the sampling weight share^α
PACK_SHARD_HEX_CHARS = 1
PACK_TOKENS = 2048  # token budget of one packed training sequence
PACK_MEDIA_TOKENS = 32  # what one media span costs in pack_interleaved
INTERLEAVED_PACK_TOKENS = 96  # token budget of one interleaved sequence
SHINGLE_LEN = 8  # tokens per shingle of the overlap/leakage audits
DSIR_BUCKETS = 64  # hashed n-gram features of the DSIR weights
DSIR_SAMPLE = 100  # documents dsir_sample draws
TRAIN_FRAC, VAL_FRAC = 0.9, 0.05  # hash-rule split shares; test gets the rest
BOILER_MIN_DOCS = 3  # dedup_lines: a line in this many docs is boilerplate


def _line_ok(line: Column) -> Column:
    lower = F.lower(line)
    ends_ok = F.substring(line, -1, 1).isin(*C4_TERMINAL_PUNCT)
    enough_words = F.size(F.split(line, " ")) >= C4_MIN_WORDS_PER_LINE
    no_marker = ~F.exists(
        F.array(*[F.lit(m) for m in C4_BOILERPLATE_MARKERS]),
        lambda m: F.contains(lower, m),
    )
    return ends_ok & enough_words & no_marker


def c4_line_filters(documents: DataFrame) -> DataFrame:
    """C4 §2.2 line rules: lines must end in terminal punctuation, have
    ≥5 words, and contain no boilerplate marker; documents keep their
    surviving lines joined and are flagged `kept` when enough lines
    survive.  Higher-order array functions only — no explode; the only
    possible exchange is the conditional round-robin rebalance of an
    under-split scan (a no-op on well-split production tables)."""
    documents = spread(documents)
    lines = F.split(F.col("text"), "\n")
    kept_lines = F.filter(lines, _line_ok)
    return documents.select(
        "doc_id",
        F.array_join(kept_lines, "\n").alias("text"),
        F.size(kept_lines).alias("n_lines_kept"),
        F.size(lines).alias("n_lines_total"),
        (F.size(kept_lines) >= C4_MIN_LINES_PER_DOC).cast("int").alias("kept"),
    )


def gopher_repetition_signals(
    documents: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher/MassiveText repetition + shape signals, one row per doc:

    - dup_line_frac / dup_para_frac: 1 − distinct/total (lines on \\n,
      paragraphs on \\n\\n)
    - dup_word_frac: 1 − unique words / words
    - mean_word_len
    - bullet_line_frac: lines starting with '-' or '•'
    - ellipsis_line_frac: lines ending with '...' or '…'

    All native expressions; ratios 6dp-rounded for cross-engine hashes.
    Under-split scans are rebalanced (no-op on well-split tables)."""
    documents = spread(documents)
    text = F.col("text")
    lines = F.split(text, "\n")
    paras = F.split(text, "\n\n")
    # whitespace-class tokenization (the Gopher paper's grain): a plain
    # single-space split would fuse words across newlines ('sat\\nthe' as
    # one 7-char token), inflating mean_word_len and hiding duplicate
    # words at line boundaries
    words = F.split(text, r"\s+")
    n_lines = F.size(lines).cast("double")
    n_paras = F.size(paras).cast("double")
    n_words = F.size(words).cast("double")
    dup = lambda arr, n: F.round(  # noqa: E731
        F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / n, 6
    )
    bullet = F.size(
        F.filter(lines, lambda l: l.startswith("- ") | l.startswith("• "))
    )
    ellipsis = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    mean_wl = F.round(
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / n_words,
        6,
    )
    return documents.select(
        "doc_id",
        *passthrough,
        dup(lines, n_lines).alias("dup_line_frac"),
        dup(paras, n_paras).alias("dup_para_frac"),
        dup(words, n_words).alias("dup_word_frac"),
        mean_wl.alias("mean_word_len"),
        F.round(bullet.cast("double") / n_lines, 6).alias("bullet_line_frac"),
        F.round(ellipsis.cast("double") / n_lines, 6).alias("ellipsis_line_frac"),
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """CCNet-style language-model quality score, unigram grain: train the
    unigram distribution on the corpus itself (one groupBy on word), then
    score every document by its mean token log-probability — low scores
    flag gibberish/boilerplate, the classic perplexity filter.

    Skew story: the token→vocab join key is Zipf-distributed ("the"
    lands every corpus occurrence in one hash partition), so the probe
    side is PRE-AGGREGATED to (doc_id, word, n) first — partial
    (map-side) aggregation collapses the hot tokens before any network,
    the join probe shrinks from token count to per-doc distinct-word
    count, and the per-doc score becomes the n-weighted mean (same
    value; 4dp rounding absorbs float summation-order and libm-ulp
    differences across engines).  The corpus-total denominator is a
    1-row broadcast."""
    documents = spread(documents)  # compute-heavy per-doc map work: rebalance under-split scans

    words = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    doc_word = words.groupBy("doc_id", "word").agg(F.count("*").alias("n"))
    scored = (
        doc_word.join(vocab, "word")
        .join(F.broadcast(total))
        .select("doc_id", "n", F.log(F.col("c") / F.col("total")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(F.col("n") * F.col("lp")) / F.sum("n"), 4).alias(
            "avg_logprob"
        ),
        F.sum("n").cast("long").alias("n_tokens"),
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Bigram LM quality score with add-one smoothing — one step closer
    to CCNet's 5-gram KenLM than :func:`unigram_logprob`: documents are
    scored by the mean log of P(w_i | w_{i-1}) = (C(prev,cur)+1) /
    (C(prev)+V), with counts trained on the corpus itself.

    Plan shape: the bigram stream is built with slice+arrays_zip (no
    Python), aggregated twice (bigram and context counts — both
    high-cardinality keys), joined back to the PRE-AGGREGATED per-doc
    bigram counts (same skew treatment as :func:`unigram_logprob` — the
    Zipf-hot (prev, cur) keys are collapsed map-side before the join),
    and n-weighted-averaged per doc; the vocabulary size is a 1-row
    broadcast.  Docs with fewer than two tokens have no bigrams and no
    output row (contract: score what can be scored)."""
    documents = spread(documents)  # bigram explode: rebalance scans
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    pairs = F.arrays_zip(
        F.slice(words, 1, n - 1).alias("prev"),
        F.slice(words, 2, n - 1).alias("cur"),
    )
    flat = documents.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    big = flat.groupBy("prev", "cur").agg(F.count("*").alias("c_ab"))
    ctx = flat.groupBy("prev").agg(F.count("*").alias("c_a"))
    vocab = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).agg(F.countDistinct("w").alias("v"))
    doc_big = flat.groupBy("doc_id", "prev", "cur").agg(F.count("*").alias("n"))
    scored = (
        doc_big.join(big, ["prev", "cur"])
        .join(ctx, "prev")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "n",
            F.log((F.col("c_ab") + 1).cast("double") / (F.col("c_a") + F.col("v"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(F.col("n") * F.col("lp")) / F.sum("n"), 4).alias(
            "avg_bigram_logprob"
        ),
        F.sum("n").cast("long").alias("n_bigrams"),
    )


def kneser_ney_logprob(documents: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995;
    Chen & Goodman 1998) — the smoothing KenLM actually uses, one rung
    above :func:`bigram_logprob`'s add-one:

        P(cur|prev) = max(c(prev,cur) - D, 0) / c(prev)
                      + (D · N1+(prev,·) / c(prev)) · N1+(·,cur) / T

    with D = 0.75 the absolute discount, N1+(prev,·) the
    distinct-successor count, N1+(·,cur) the
    distinct-PREDECESSOR count (the continuation probability — 'how
    many contexts does this word complete', the KN insight), and T the
    total number of distinct bigram types.

    Plan shape: the raw corpus is scanned ONCE and shuffled ONCE —
    into the per-doc bigram-count frame, which lands behind a scratch
    stage boundary (a naive five-consumer lineage re-scans and
    re-shuffles the raw text per statistic: measured 10 parquet scans
    with ZERO exchange reuse in the final AQE plan, because each
    consumer's column pruning defeats canonicalization).  The corpus
    bigram TYPE table is a re-aggregation of that boundary, itself
    boundary-backed (four consumers); every KN statistic — context
    totals, successor fan-out, predecessor fan-in, the type count —
    aggregates the small type table.  The probe side is the same
    per-doc frame (unigram_logprob's skew defense: Zipf-hot pairs
    collapse before the network), T is a 1-row broadcast.  All counts
    integer; the probability is one fused expression, so 4 dp rounding
    makes the score engine-exact.  Docs with fewer than two tokens
    have no bigrams and no output row."""
    documents = spread(documents)  # bigram explode: rebalance scans
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    pairs = F.arrays_zip(
        F.slice(words, 1, n - 1).alias("prev"),
        F.slice(words, 2, n - 1).alias("cur"),
    )
    flat = documents.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    doc_big = stage_boundary(
        flat.groupBy("doc_id", "prev", "cur").agg(F.count("*").alias("n")),
        "kn_doc_bigrams",
    )
    big = stage_boundary(
        doc_big.groupBy("prev", "cur").agg(F.sum("n").alias("c_ab")),
        "kn_bigram_types",
    )
    ctx = big.groupBy("prev").agg(
        F.sum("c_ab").alias("c_a"), F.count("*").alias("n1p_fwd")
    )
    cont = big.groupBy("cur").agg(F.count("*").alias("n1p_rev"))
    types = big.agg(F.count("*").alias("n_types"))
    p = F.greatest(F.col("c_ab") - 0.75, F.lit(0.0)) / F.col("c_a") + (
        0.75 * F.col("n1p_fwd") / F.col("c_a")
    ) * (F.col("n1p_rev") / F.col("n_types"))
    scored = (
        doc_big.join(big, ["prev", "cur"])
        .join(ctx, "prev")
        .join(cont, "cur")
        .join(F.broadcast(types))
        .select("doc_id", "n", F.log(p).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(F.col("n") * F.col("lp")) / F.sum("n"), 4).alias(
            "avg_kn_logprob"
        ),
        F.sum("n").cast("long").alias("n_bigrams"),
    )


def source_mix(documents: DataFrame) -> DataFrame:
    """Training-mixture statistics per source/domain: document and token
    counts, token share, and the standard temperature-scaled sampling
    weight share^α / Σ share^α (α<1 upweights small sources — the
    multilingual/domain-balancing rule).  One groupBy on the source key;
    the normalization constant is a broadcast single row."""
    per = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_tot"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))).alias("_z"),
    )
    share = F.col("n_tokens").cast("double") / F.col("_tot")
    weight = F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA)) / F.col("_z")
    return (
        per.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round(weight, 6).alias("sample_weight"),
        )
    )


# Gopher/MassiveText document-filter thresholds (Rae et al. 2021, table A1
# family — the repetition/shape subset computable without a tokenizer)
GOPHER_THRESHOLDS = {
    "max_dup_line_frac": 0.30,
    "max_dup_para_frac": 0.30,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
}


def gopher_filter(documents: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """The Gopher document-level keep/drop decision over
    :func:`gopher_repetition_signals`: a doc survives iff every signal is
    inside its threshold.  Same zero-shuffle map stage, one extra
    conjunction column."""
    t = GOPHER_THRESHOLDS
    s = gopher_repetition_signals(documents, passthrough)
    kept = (
        (F.col("dup_line_frac") <= t["max_dup_line_frac"])
        & (F.col("dup_para_frac") <= t["max_dup_para_frac"])
        & (F.col("mean_word_len") >= t["min_mean_word_len"])
        & (F.col("mean_word_len") <= t["max_mean_word_len"])
        & (F.col("bullet_line_frac") <= t["max_bullet_line_frac"])
        & (F.col("ellipsis_line_frac") <= t["max_ellipsis_line_frac"])
    )
    return s.withColumn("kept", kept.cast("int"))


def blocklist_filter(documents: DataFrame, blocklist: tuple[str, ...]) -> DataFrame:
    """The C4/LDNOOBW word-boundary blocklist gate: a document is
    dropped iff ANY blocklist term appears as whole words (C4 drops the
    page outright on a single hit — `c4_line_filters` handles the
    separate line-level boilerplate pass).

    Matching is on a normalized token stream: lowercase, every non-
    alphanumeric run → one space, then space-padded substring search so
    single words and multi-word phrases go through the SAME rule with
    exact word boundaries.  The term list rides the plan as an array
    literal filtered by a higher-order function — zero shuffle, zero
    Python, whole-stage-codegen'd; at the LDNOOBW scale (~400 terms)
    the per-row cost is K substring probes over the normalized text.
    For 10k+-term lists the scale path is explode(tokens) + broadcast
    join instead; this operator deliberately keeps the projection shape
    the C4-sized lists want.

    Returns (doc_id, n_hits, hit_terms, kept): hit_terms is the
    blocklist-order comma-joined hit list so the frame hashes portably.
    """
    norm = F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                            r"[^a-z0-9]+", " ")
    padded = F.concat(F.lit(" "), F.trim(norm), F.lit(" "))
    hits = F.filter(
        F.array(*[F.lit(t) for t in blocklist]),
        lambda t: padded.contains(F.concat(F.lit(" "), t, F.lit(" "))),
    )
    return documents.select(
        "doc_id",
        F.size(hits).alias("n_hits"),
        F.array_join(hits, ",").alias("hit_terms"),
        (F.size(hits) == 0).cast("int").alias("kept"),
    )


def blocklist_join(documents: DataFrame, blocklist_df: DataFrame) -> DataFrame:
    """The 10k+-term scale path :func:`blocklist_filter`'s docstring
    promises: the term list as a DIMENSION frame instead of a plan
    literal.  At LDNOOBW size (~400 terms) the literal+HOF projection
    wins (zero shuffle); at safety-vendor size (tens of thousands of
    terms and phrases) K substring probes per document lose to a hash
    join, and a literal that large bloats every serialized task.

    Shape: documents normalize exactly like :func:`blocklist_filter`
    (lowercase, non-alnum runs → one space), word unigrams and bigrams
    are built with JVM higher-order functions and
    deduped BEFORE the explode (verdicts need presence, not counts, so
    within-doc repeats never shuffle), then one ``explode_outer`` →
    broadcast join against the term dim → one groupBy(doc_id) with
    map-side partials.  The ONLY corpus shuffle is the narrow
    (doc_id, gram-hit) group-back; empty/no-hit docs survive through
    the outer explode + left join.

    ``blocklist_df`` needs (term_idx long, term string) — term
    normalized the same way (lowercased, single-spaced); ``term_idx``
    fixes the hit_terms output order so the frame matches
    :func:`blocklist_filter` exactly (parity property-tested).
    """
    norm = F.regexp_replace(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), r"[^a-z0-9]+", " "
    )
    tokens = F.split(F.trim(norm), " ")
    # guard the short-doc case explicitly: sequence(1, 0) would infer a
    # NEGATIVE step and emit [1, 0], crashing slice with start=0.
    # NOTE the closure factory: a `lambda i, n=n:` would have TWO
    # parameters, which pyspark's transform() binds as (element, index)
    # — n would silently become the array index.
    def _gram_at(n: int):
        return lambda i: F.array_join(F.slice(tokens, i, n), " ")

    gram_arrays = [
        F.when(
            F.size(tokens) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
                _gram_at(n),
            ),
        ).otherwise(F.array().cast("array<string>"))
        for n in (1, 2)
    ]
    grams = F.array_distinct(F.concat(*gram_arrays))
    exploded = documents.select(
        "doc_id", F.explode_outer(grams).alias("gram")
    )
    dim = blocklist_df.select("term_idx", F.col("term").alias("gram"))
    joined = exploded.join(F.broadcast(dim), "gram", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count("term_idx").cast("int").alias("n_hits"),
        F.array_join(
            F.transform(
                F.array_sort(
                    # null struct for unmatched grams -> collect_list
                    # skips them; only true hits reach the list
                    F.collect_list(
                        F.when(
                            F.col("term_idx").isNotNull(),
                            F.struct("term_idx", "gram"),
                        )
                    )
                ),
                lambda s: s["gram"],
            ),
            ",",
        ).alias("hit_terms"),
    )
    return agg.select(
        "doc_id",
        "n_hits",
        "hit_terms",
        (F.col("n_hits") == 0).cast("int").alias("kept"),
    )


# RE2-safe PII patterns (no backrefs/lookaround), shared with the oracle;
# order matters: URLs first so their hosts aren't half-redacted later.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def redact_pii(documents: DataFrame) -> DataFrame:
    """Training-data PII scrubbing: emails, phone numbers, IPv4 addresses,
    and URLs replaced with type tokens, with per-type match counts.

    Pure map stage (regexp chains, zero shuffle, streams over 100 TB);
    each type's count is taken on the text as it stands before that
    pattern's replacement, so an already-redacted URL's tail can't also
    count as an email.  The pattern set is the usual first-line scrub, not an NER
    system — names/addresses need a model pass (the mapInPandas slot in
    :mod:`multimodal` is the shape for that)."""
    documents = spread(documents)
    out = F.col("text")
    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[name] = F.size(F.regexp_extract_all(out, F.lit(pat), 0))
        out = F.regexp_replace(out, pat, token)
    return documents.select(
        "doc_id",
        out.alias("text"),
        *[counts[n].alias(f"n_{n}") for n, _, _ in PII_PATTERNS],
    )


# Candidate pattern shared with the oracle: 13-19 digits, single
# optional space/dash between any two (the groupings cards are written
# in); \b is ASCII word-boundary in both Java regex and RE2.
CC_CANDIDATE = r"\b[0-9](?:[ -]?[0-9]){12,18}\b"


def _luhn_ok(c: Column) -> Column:
    """Luhn mod-10 checksum over the digits of candidate ``c`` — pure
    JVM higher-order functions (sequence/aggregate over reversed digit
    positions), no UDF."""
    digits = F.regexp_replace(c, r"[^0-9]", "")
    rev = F.reverse(digits)

    def term(i: Column) -> Column:
        d = F.substr(rev, i, F.lit(1)).cast("int")
        return F.when(i % 2 == 0, F.when(2 * d > 9, 2 * d - 9).otherwise(2 * d)).otherwise(d)

    total = F.aggregate(
        F.sequence(F.lit(1), F.length(rev)),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return total % 10 == 0


def redact_credit_cards(documents: DataFrame) -> DataFrame:
    """Checksum-validated credit-card scrubbing: digit runs that LOOK
    like card numbers are redacted only when the Luhn checksum passes —
    the false-positive guard :func:`redact_pii`'s pattern-only pass
    cannot give (order ids, ISBNs, and timestamps are 13-19 digit runs
    too, but 90% of random digit strings fail Luhn).

    Shape: one ``regexp_extract_all`` for candidates, a higher-order
    ``filter`` applying the checksum JVM-side, and an ``aggregate``
    fold replacing each valid candidate literally — a pure map stage,
    zero shuffle, zero Python, composable in front of
    :func:`redact_pii` in the same scan.  Returns (doc_id, text,
    n_candidates, n_valid)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    cands = F.regexp_extract_all(text, F.lit(CC_CANDIDATE), 0)
    valid = F.filter(cands, _luhn_ok)
    redacted = F.aggregate(
        valid, text, lambda acc, c: F.replace(acc, c, F.lit("<CC>"))
    )
    return documents.select(
        "doc_id",
        redacted.alias("text"),
        F.size(cands).alias("n_candidates"),
        F.size(valid).alias("n_valid"),
    )


def pack_sequences(documents: DataFrame) -> DataFrame:
    """Deterministic training-sequence packing: documents are packed into
    ``PACK_TOKENS``-token sequences in (partition, shard, doc_id) order — a
    doc starts in the sequence its cumulative starting offset falls into
    (GPT-style contiguous packing, so a doc may finish past the budget
    rather than be split).

    Distributed shape: the greedy running-token-sum window is inherently
    sequential WITHIN its window partition, so partitioning by
    ``source`` alone would funnel a 100 TB corpus through one
    sort + prefix-sum task per source (the realistic case is a handful
    of sources).  Packing is therefore SUB-SHARDED: ``shard`` is the
    first ``PACK_SHARD_HEX_CHARS`` hex digits of md5(doc_id) (deterministic
    and engine-portable — same sharding in the DuckDB oracle), the
    window runs per (part, shard), and sequences never cross shards.
    Within a shard the semantics are exactly the unsharded greedy pack;
    parallelism is sources × 16^``PACK_SHARD_HEX_CHARS`` (raise to 2-3 hex
    chars at corpus scale).  Output: one row per packed sequence with
    its doc range and fill metrics."""
    toks = F.size(F.split(F.col("text"), " "))
    d = documents.select(
        F.col("source").alias("part"),
        F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, PACK_SHARD_HEX_CHARS
        ).alias("shard"),
        "doc_id",
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("part", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_cum", F.sum("n_tokens").over(w))
    seq = F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(PACK_TOKENS))
    d = d.withColumn("seq_id", seq.cast("int"))
    return d.groupBy("part", "shard", "seq_id").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.lit(float(PACK_TOKENS)), 6
        ).alias("fill_ratio"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def pack_interleaved(spans: DataFrame) -> DataFrame:
    """Multimodal training-sequence packing over the INTERLEAVED span
    grain (doc_id, kind, text, media_ref, order) — the engine's core
    data model (BASELINE input_hint): text spans cost their whitespace
    token count, media spans cost a fixed ``PACK_MEDIA_TOKENS`` (the
    patch-token allowance an interleaved trainer reserves per image),
    sequences hold ``INTERLEAVED_PACK_TOKENS``, and documents are
    packed ATOMICALLY — a doc's spans never split
    across sequences, exactly like :func:`pack_sequences`' GPT-style
    contiguous packing but with the mixed-modality cost model.

    Same distributed shape as :func:`pack_sequences`: the greedy
    running-cost prefix sum is sub-sharded by the first
    ``PACK_SHARD_HEX_CHARS`` hex digits of md5(doc_id) so parallelism is
    16^chars rather than one sequential task, sequences never cross
    shards, and the sharding is engine-portable (replicated verbatim
    in the DuckDB oracle).  Two shuffles total: the per-doc cost
    aggregation and the shard window."""
    is_media = F.col("media_ref").isNotNull()
    text_toks = F.when(
        is_media | F.col("text").isNull() | (F.length("text") == 0), F.lit(0)
    ).otherwise(F.size(F.split(F.col("text"), " ")))
    cost = F.when(is_media, F.lit(PACK_MEDIA_TOKENS)).otherwise(text_toks)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(cost).cast("long").alias("doc_cost"),
        F.sum(text_toks).cast("long").alias("n_text_tokens"),
        F.sum(is_media.cast("int")).cast("int").alias("n_media_spans"),
    )
    d = per_doc.withColumn(
        "shard",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, PACK_SHARD_HEX_CHARS),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_cum", F.sum("doc_cost").over(w))
    d = d.withColumn(
        "seq_id",
        F.floor(
            (F.col("_cum") - F.col("doc_cost")) / F.lit(INTERLEAVED_PACK_TOKENS)
        ).cast("int"),
    )
    return d.groupBy("shard", "seq_id").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_text_tokens").cast("long").alias("n_text_tokens"),
        F.sum("n_media_spans").cast("int").alias("n_media_spans"),
        F.sum("doc_cost").cast("long").alias("total_cost"),
        F.round(
            F.sum("doc_cost").cast("double")
            / F.lit(float(INTERLEAVED_PACK_TOKENS)),
            6,
        ).alias("fill_ratio"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def dedup_paragraphs(documents: DataFrame) -> DataFrame:
    """Corpus-wide exact paragraph dedup: every distinct paragraph
    (md5 of its lowercased letters-only normalization) survives only at
    its globally-first occurrence, ordered by (doc_id, para_idx)
    lexicographically — deterministic and engine-independent.

    Scale shape: posexplode → ONE hash shuffle on the 16-byte
    fingerprint (the window needs no second exchange: the re-assembly
    groupBy on doc_id is the only other shuffle).  Never an n² join;
    a boilerplate paragraph shared by millions of docs costs one
    window partition, sorted, O(k log k)."""
    paras = F.split(F.col("text"), "\n\n")
    flat = documents.select(
        "doc_id", F.posexplode(paras).alias("para_idx", "para")
    )
    # letters-only normalization, falling back to the raw lowercase
    # paragraph when no ASCII letters survive — otherwise every numeric /
    # punctuation-only / non-Latin paragraph would collide on md5('')
    # and all but one be deleted corpus-wide as "duplicates"
    norm = F.regexp_replace(F.lower(F.col("para")), "[^a-z]", "")
    fp = F.md5(F.when(F.length(norm) > 0, norm).otherwise(F.lower(F.col("para"))))
    flat = flat.withColumn("_fp", fp)
    w = Window.partitionBy("_fp").orderBy("doc_id", "para_idx")
    flat = flat.withColumn("_rank", F.row_number().over(w))
    kept = F.when(F.col("_rank") == 1, F.struct("para_idx", "para"))
    rebuilt = flat.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(kept)), lambda s: s["para"]),
            "\n\n",
        ).alias("text"),
        F.sum(F.when(F.col("_rank") == 1, 1).otherwise(0))
        .cast("int")
        .alias("n_paras_kept"),
        F.count("*").cast("int").alias("n_paras_total"),
    )
    return rebuilt


def contamination_flags(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark DECONTAMINATION (the GPT-3 §C / Pile / Llama recipe):
    flag every document sharing at least one distinct word
    ``SHINGLE_LEN``-grams with a benchmark/eval set, so training data can be
    scrubbed of test-set leakage.

    Scale shape: the benchmark is tiny next to a 100 TB corpus, so its
    distinct n-grams BROADCAST; documents explode their n-grams once
    (JVM higher-order functions over ``split`` — ``sequence`` +
    ``transform`` + ``slice``, no UDF) and the overlap count is a
    map-side-combined groupBy on doc_id.  No shuffle ever carries the
    corpus text itself, only (doc_id, matched-gram) pairs — for a
    clean corpus that's near-empty.

    Output: the input columns plus ``n_overlaps`` (distinct shared
    n-grams) and boolean ``contaminated``."""
    scan = spread(documents)  # gram build is compute-heavy map work

    # the words array is materialized as a column before the transform:
    # codegen does not CSE inside HOF lambdas, so an inline `words`
    # reference re-ran the split for every gram (see _shingle_fps)
    def grams(words: Column) -> Column:
        return F.when(
            F.size(words) >= SHINGLE_LEN,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - SHINGLE_LEN + 1),
                lambda i: F.array_join(F.slice(words, i, SHINGLE_LEN), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    bench_grams = (
        benchmark.withColumn("__cf_w", F.split(F.col("text"), " "))
        .select(F.explode(grams(F.col("__cf_w"))).alias("gram"))
        .distinct()
    )
    # explode_outer + IS NOT NULL (not plain explode): the inferred
    # size()>0 filter would otherwise be pushed below the rebalance
    # with the whole gram expression substituted in — evaluating it
    # serially on the scan task (see winnow_pairs for the measurement)
    doc_grams = (
        scan.withColumn("__cf_w", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            F.explode_outer(grams(F.col("__cf_w"))).alias("gram"),
        )
        .where(F.col("gram").isNotNull())
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_overlaps"))
    )
    return (
        documents.join(hits, "doc_id", "left")
        .withColumn("n_overlaps", F.coalesce("n_overlaps", F.lit(0)))
        .withColumn("contaminated", F.col("n_overlaps") >= 1)
    )


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """CCNet's quality bucketing (Wenzek et al. 2020 §4.3): per
    LANGUAGE, rank documents by LM score and split into equal-count
    buckets — head (best), middle, tail — so downstream sampling can
    weight or drop tails.  The unigram mean log-probability
    (:func:`unigram_logprob`, scored per language partition like
    CCNet's per-language wiki LMs) stands in for the external LM.

    Scale shape: one window sort per language — exactly CCNet's
    per-language shard sort — on (avg_logprob, doc_id); the tiebreak
    makes bucket assignment deterministic and engine-replicable.
    Everything upstream is the skew-hardened LM-scoring stage."""
    names = ["head", "middle", "tail"]
    scored = documents.select("doc_id", "lang").join(
        unigram_logprob(documents), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    tile = F.ntile(len(names)).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.element_at(F.array(*[F.lit(n) for n in names]), tile).alias("bucket"),
    )


def epoch_sample(documents: DataFrame, epoch_docs: int) -> DataFrame:
    """Materialize one DETERMINISTIC training-epoch sample under the
    temperature-weighted source mixture: each source contributes
    ``round(epoch_docs * weight_s)`` documents, where ``weight_s`` is
    :func:`source_mix`'s share^α / Σ share^α — the multilingual/domain
    balancing rule actually applied, not just reported.

    Determinism (and the SQL oracle) come from ranking each source's
    documents by ``md5(doc_id)`` — a uniform, engine-reproducible
    shuffle key — and taking the first ``quota_s``.  Oversubscribed
    quotas (upweighted small sources wanting more docs than they have)
    clamp to the source size; real epochs repeat those docs, but a
    sample materialization must not fabricate rows.

    Scale shape: quotas are one tiny aggregate broadcast back; the
    per-source ranking is one window sort partitioned by source — the
    shuffle a mixture materialization inherently needs (each source's
    order must be global within the source)."""
    quotas = source_mix(documents).select(
        "source",
        F.round(F.col("sample_weight") * epoch_docs)
        .cast("long")
        .alias("quota"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = documents.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), "source")
        .where(F.col("__rk") <= F.col("quota"))
        .select("doc_id", "source", F.col("__rk").alias("sample_rank"))
    )


def quality_classifier(documents: DataFrame) -> DataFrame:
    """GPT-3-style quality classifier (Brown et al. 2020 appendix A
    trained one over hashed features to score candidate documents
    against a curated positive set): logistic regression over hashed
    token-count features, trained DISTRIBUTED with the same
    engine-replicability discipline as the k-means operator — fixed
    GD step count, deterministic labels (``lang == 'en'`` stands in
    for the curated class), 9-dp rounding of per-doc errors, gradients
    and weights so float summation order can never flip a value.

    Per step: z = w·x is an ``element_at``(weight-literal array) sum —
    no UDF, one groupBy(doc); the gradient is one groupBy(bucket) with
    partial aggregation; only the D+1 weights ever reach the driver.
    Output: one row per feature with its learned weight (feature -1 is
    the bias) — the artifact a scoring pass would broadcast."""
    n_features, lr, iters = 32, 1.0, 2  # hashed features, GD step size, GD steps
    spark = documents.sparkSession
    toks = documents.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    )
    feats = (
        toks.withColumn(
            "b",
            (
                F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long")
                % n_features
            ).cast("int"),
        )
        .groupBy("doc_id", "y", "b")
        .agg(F.count("*").alias("c"))
    )
    tot = feats.groupBy("doc_id").agg(F.sum("c").alias("t"))
    X = feats.join(tot, "doc_id").select(
        "doc_id", "y", "b", F.round(F.col("c") / F.col("t"), 9).alias("x")
    )
    n_docs = X.select("doc_id").distinct().count()
    if n_docs == 0:
        raise ValueError("no documents with tokens to train on")
    w = [0.0] * n_features
    bias = 0.0
    for _it in range(iters):
        warr = F.array(*[F.lit(float(v)) for v in w])
        z = X.groupBy("doc_id", "y").agg(
            F.round(
                F.sum(F.element_at(warr, F.col("b") + 1) * F.col("x"))
                + F.lit(float(bias)),
                9,
            ).alias("z")
        )
        err = z.select(
            "doc_id",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))) - F.col("y"), 9
            ).alias("e"),
        )
        joined = X.join(err, "doc_id")
        grows = (
            joined.groupBy("b")
            .agg(F.round(F.sum(F.col("e") * F.col("x")) / n_docs, 9).alias("g"))
            .collect()
        )
        g0 = err.agg(
            F.round(F.sum("e") / n_docs, 9).alias("g")
        ).first()["g"]
        for r in grows:
            w[r["b"]] = round(w[r["b"]] - lr * r["g"], 9)
        bias = round(bias - lr * float(g0), 9)
    rows = [(-1, float(bias))] + [(i, float(w[i])) for i in range(n_features)]
    return spark.createDataFrame(rows, "feature int, weight double")


def dsir_weights(documents: DataFrame) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-ngram profile is under
    the TARGET distribution than under the raw-corpus distribution —
    ``log w(doc) = Σ_b count_doc[b] · log(p_target[b] / q_raw[b])``
    over ``DSIR_BUCKETS`` hashed unigram+bigram features with add-one
    smoothing.  ``lang == 'en'`` stands in for the curated target set
    (the quality-classifier convention).

    Scale shape: gram arrays are materialized in their own projection
    and exploded with ``explode_outer`` (the InferFiltersFromGenerate
    lesson, SURVEY §30); both distributions come from ONE
    groupBy(bucket) with conditional sums (partial-agg collapses the
    Zipf head map-side); the bucket→log-ratio table is ``DSIR_BUCKETS``
    rows joined back broadcast; the per-doc reduce is one
    groupBy(doc_id).  Engine-replicability: bucket counts are exact
    integers, the only float is the single log per bucket (4-dp
    rounded, the LM-scoring discipline) and the 4-dp-rounded per-doc
    sum.

    Output: (doc_id, n_grams, log_weight)."""
    words = F.split(F.col("text"), " ")
    grams_expr = F.concat(
        words,
        F.when(F.size(words) < 2, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.slice(words, 1, F.size(words) - 1),
                lambda w, i: F.concat_ws(
                    " ", w, F.element_at(words, i + 2)
                ),
            )
        ),
    )
    staged = documents.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("is_target"),
        grams_expr.alias("grams"),
    )
    buckets = staged.select(
        "doc_id",
        "is_target",
        F.explode_outer("grams").alias("g"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5("g"), 1, 4), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).cast("int").alias("b"),
    )
    counts = buckets.groupBy("doc_id", "is_target", "b").agg(
        F.count("b").alias("c")
    )
    dist = counts.groupBy("b").agg(
        F.sum(F.when(F.col("is_target") == 1, F.col("c")).otherwise(0)).alias(
            "ct"
        ),
        F.sum("c").alias("cq"),
    )
    tot = dist.agg(F.sum("ct").alias("tt"), F.sum("cq").alias("tq")).first()
    tt, tq = int(tot["tt"] or 0), int(tot["tq"] or 0)
    if tt == 0:
        raise ValueError("DSIR target partition has no grams")
    s, b_s = 1.0, float(DSIR_BUCKETS)
    ratios = dist.select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + s) / F.lit(tt + b_s))
                / ((F.col("cq") + s) / F.lit(tq + b_s))
            ),
            4,
        ).alias("lr"),
    )
    from pyspark.sql.functions import broadcast

    scored = (
        counts.join(broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 4).alias("log_weight"),
        )
    )
    return documents.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
    )


def dsir_sample(documents: DataFrame) -> DataFrame:
    """DSIR's resampling step: Gumbel-top-k over the importance weights
    — ``key = log_weight + Gumbel(0,1)`` drawn from an md5(doc_id)
    uniform, so the draw is engine-reproducible (the deterministic-
    sample convention) and the selection is a weighted sample WITHOUT
    replacement, exactly the paper's sampled-held-out trick.

    Scale: the perturbed key is a map-side expression over the weight
    table; selection is a global top-k (TakeOrdered — no full sort).
    Output: ``DSIR_SAMPLE`` rows of (doc_id, log_weight, gumbel_key)."""
    w = dsir_weights(documents)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    keyed = w.select(
        "doc_id",
        "log_weight",
        F.round(F.col("log_weight") - F.log(-F.log(u)), 4).alias("gumbel_key"),
    )
    return keyed.orderBy(F.col("gumbel_key").desc(), "doc_id").limit(DSIR_SAMPLE)


def dataset_split(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment + the per-(source,
    split) balance table every training pipeline reports.

    Assignment is a pure hash rule — ``u = md5(doc_id)`` scaled to
    [0, 1), train if u < TRAIN_FRAC, val if u < TRAIN_FRAC + VAL_FRAC,
    else test
    — so it is reproducible across engines AND runs, needs ZERO
    shuffle per document (a window-ranked exact-quota split would
    serialize each stratum through one window partition — the very
    skew a 100 TB corpus cannot afford; the hash rule stratifies in
    expectation because md5(doc_id) is independent of the source).
    The output here is the audit aggregate: doc/token counts per
    (source, split) — one groupBy.

    Output: (source, split, n_docs, n_tokens), split ∈
    {train, val, test}."""
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(4294967296.0)
    split = (
        F.when(u < TRAIN_FRAC, F.lit("train"))
        .when(u < TRAIN_FRAC + VAL_FRAC, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    return (
        documents.select(
            "source",
            split.alias("split"),
            n_tok.alias("_nt"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )


def source_overlap(documents: DataFrame) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many DISTINCT ``SHINGLE_LEN``-token shingle fingerprints appear in
    both — the audit that catches a crawl slice ingested twice under
    two names, or boilerplate shared across domains, BEFORE training
    double-counts it.  Token shingles (the decontamination-family
    grain, GPT-3 §C uses 13-grams) rather than paragraphs: structural
    grains go blind on corpora whose documents are single-block.

    Scale shape: shingles explode map-side and are immediately
    16-byte-fingerprinted (the shuffle never carries shingle text);
    (source, fp) is made distinct with ONE shuffle (map-side partials
    collapse within-source repeats); the pair join keys on fp and is
    bounded per fingerprint by the SOURCE dimension's cardinality
    (≤ n_sources rows per key, so a boilerplate shingle in every
    source costs n_sources², never corpus²).

    Output: (source_a, source_b, n_shared_shingles), a < b; source
    pairs with zero overlap emit no row."""
    # materialized token array + md5 inside the transform + per-doc
    # array_distinct (see _shingle_fps: lambda CSE / shuffle-input
    # rationale); the cross-DOC distinct shuffle below still runs, on
    # the per-doc-deduped fingerprints
    documents = spread(documents)
    w = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    docs = documents.withColumn("__so_w", w)
    k = F.size("__so_w") - F.lit(SHINGLE_LEN - 1)
    shingles = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.md5(
                F.array_join(
                    F.slice(F.col("__so_w"), i, F.lit(SHINGLE_LEN)), " "
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sfp = docs.select(
        "source",
        F.explode(F.array_distinct(shingles)).alias("fp"),
    ).distinct()
    a = sfp.select(F.col("source").alias("source_a"), "fp")
    b = sfp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


def _shingle_fps(documents: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *extra, fp): DISTINCT 16-byte fingerprints of the
    ``SHINGLE_LEN``-token shingles — map-side explode + md5; the
    per-doc array_distinct makes this exactly the distinct (doc, fp)
    set with zero shuffle."""
    documents = spread(documents)  # shingle+md5 build is map-heavy
    w = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    # materialize the token array as a column FIRST: codegen does not
    # common-subexpression-eliminate inside higher-order-function
    # lambdas, so referencing `w` directly in the transform re-ran the
    # split+filter for every shingle (measured 18.3 s -> 4.7 s at
    # sf1.0); and per-doc array_distinct replaces the global distinct
    # SHUFFLE outright — (doc, fp) distinctness is per-document, so the
    # map-side dedup is exact and the operator becomes shuffle-free
    docs = documents.withColumn("__sfp_w", w)
    k = F.size("__sfp_w") - F.lit(SHINGLE_LEN - 1)
    sh = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.md5(
                F.array_join(
                    F.slice(F.col("__sfp_w"), i, F.lit(SHINGLE_LEN)), " "
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", *extra_cols, F.explode(F.array_distinct(sh)).alias("fp")
    )


def ngram_novelty(documents: DataFrame) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct
    ``SHINGLE_LEN``-token shingles whose globally-FIRST occurrence
    (min doc_id order) is this document — the curve data-curation
    teams watch to see a crawl's marginal value decay (late documents
    in a templated crawl contribute almost nothing new).

    Shape: one shuffle builds (fp → first doc) over the distinct
    (doc, fp) pairs; the ownership join keys on fp — co-partitioned
    with the groupBy that produced it, no extra exchange — and the
    per-doc fold is one doc_id shuffle.  Never quadratic: a shingle
    shared by a million docs is one group row.

    Output: (doc_id, n_shingles, n_novel, novelty 4 dp); docs shorter
    than the shingle length emit no row."""
    pairs = _shingle_fps(documents)
    first = pairs.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    return (
        pairs.join(first, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 4)
        )
    )


def cross_split_leakage(documents: DataFrame) -> DataFrame:
    """The leakage audit run after every split: how many val/test
    documents share at least one ``SHINGLE_LEN``-token shingle with
    ANY train document (the :func:`dataset_split` hash rule decides
    membership).  Benchmarks leak into training data exactly this way
    — decontamination checks the eval sets, this checks the split
    itself.

    Shape: the train side collapses to DISTINCT fingerprints (one
    dedup shuffle); the held-out (doc, fp) pairs LEFT SEMI join it on
    fp — bounded by the held-out side, never train × heldout — and
    contaminated docs collapse to a per-split count.

    Output: (split, n_docs, n_contaminated, contamination_rate 4 dp)
    for val and test."""
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(4294967296.0)
    split = (
        F.when(u < TRAIN_FRAC, F.lit("train"))
        .when(u < TRAIN_FRAC + VAL_FRAC, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = documents.withColumn("split", split)
    pairs = _shingle_fps(tagged, ("split",))
    train_fps = pairs.filter(F.col("split") == "train").select("fp").distinct()
    held = pairs.filter(F.col("split") != "train")
    contaminated = (
        held.join(train_fps, "fp", "left_semi")
        .select("split", "doc_id")
        .distinct()
        .groupBy("split")
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = (
        tagged.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        totals.join(contaminated, "split", "left")
        .na.fill(0, ["n_contaminated"])
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.round(F.col("n_contaminated") / F.col("n_docs"), 4).alias(
                "contamination_rate"
            ),
        )
    )


def curriculum_rank(documents: DataFrame, score_col: str) -> DataFrame:
    """Contiguous GLOBAL rank (0-based) by ascending (score, doc_id) —
    curriculum ordering for training (easy→hard), the "zipWithIndex at 100 TB"
    pattern done DataFrame-native: a naive row_number() over a global
    ORDER BY serializes the corpus through ONE window partition; this
    runs a range repartition + per-partition sort (the standard
    distributed sort), counts rows per partition (a partition-count-
    sized collect), and adds the broadcast prefix-sum offset to each
    partition-local row_number.

    The rank is a pure function of the TOTAL order (score, id) — the
    tie-break makes it unique — so the output is independent of where
    the sampled range boundaries happen to fall.

    Output: input columns + ``rank`` (long, 0-based, contiguous)."""
    from pyspark.sql import Window

    key = [F.col(score_col).asc(), F.col("doc_id").asc()]
    n_parts = documents.sparkSession.sparkContext.defaultParallelism
    # the pid-stamped frame MUST be materialized once: the offset
    # job and the rank job re-executing the range exchange
    # independently could see different samplings/AQE coalescing and
    # disagree on partition membership — the boundary pins _pid
    ranged = stage_boundary(
        documents.repartitionByRange(n_parts, *key).withColumn(
            "_pid", F.spark_partition_id()
        ),
        "curriculum_ranged",
    )
    # partition-count-sized collect (n_parts rows), never row data
    sizes = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("_pid"),
    )
    w = Window.partitionBy("_pid").orderBy(*key)
    return (
        ranged.withColumn(
            "rank", (off + F.row_number().over(w) - 1).cast("long")
        )
        .drop("_pid")
    )


def dedup_lines(documents: DataFrame, scope_col: str | None = None) -> DataFrame:
    """Line-grain dedup, the RefinedWeb §3.2 / CCNet cleanup the
    paragraph pass can't express: (a) WITHIN a document, an exact
    repeat of an earlier line is dropped (nav menus and share bars
    stutter inside one page); (b) ACROSS the corpus, a line whose
    fingerprint appears in ``BOILER_MIN_DOCS``-or-more DISTINCT
    documents is boilerplate ("Share on Facebook") and is dropped from
    every document — document frequency, not first-occurrence, is the
    verdict, because boilerplate is wrong in the first page that
    carried it too.

    Distinct from :func:`dedup_paragraphs` (corpus-wide
    first-occurrence at paragraph grain): this keeps one copy per doc
    of lines that merely repeat within it, and zero copies anywhere of
    corpus-frequent lines.

    Fingerprint: md5 of the lowercased line with runs of whitespace
    collapsed (CCNet hashes normalized lines); lines that normalize to
    empty never count as duplicates of each other.

    Scale shape (100 TB): the boilerplate side shuffles only narrow
    (fp, doc_id) pairs — partial distinct collapses within-partition
    repeats map-side, so a line repeated 1e6× in one partition ships
    once — and yields a frame so small (fps with df >= threshold) the
    verdict join broadcasts at any realistic threshold.  The line side
    takes one (doc_id, fp) exchange shared by the within-doc rank and
    the final doc reassembly; a corpus-hot fp is still split per doc by
    the doc_id-prefixed window keys, so boilerplate skew cannot pile
    one fp's occurrences onto one task.  The source IS scanned twice
    (once per side) — deliberate: the alternative single-scan shapes
    either shuffle full line text on the bare fp (skew: the hottest
    boilerplate lands whole on one task) or spill the exploded corpus
    to scratch (write ~= input size); two column-pruned scans of
    splittable parquet are cheaper than both.  Never an n² join.

    ``scope_col`` narrows the document-frequency verdict to a grouping
    column (usually the URL host): a line then counts as boilerplate
    only when ``BOILER_MIN_DOCS`` distinct documents OF THE SAME SCOPE
    carry it — the per-site template chrome ("About us | Contact")
    that is frequent within one domain yet too rare corpus-wide to
    cross a global threshold.  Scale note: scoping also de-skews the
    df aggregation (keys become (host, fp), so one universal line
    never concentrates its pairs), at the cost that the verdict join
    keys on (host, fp) — still a broadcast at realistic thresholds
    because the frame only holds over-threshold template lines.

    Output: doc_id, rebuilt ``text``, n_lines_total, n_dropped_within
    (within-doc repeats), n_dropped_boiler (corpus-frequent lines).
    """
    documents = spread(documents)  # line fold is compute-heavy map work

    scope = [scope_col] if scope_col else []
    lines = documents.select(
        "doc_id",
        *scope,
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), "\\s+", " ")
    lines = lines.withColumn(
        "_fp", F.when(F.length(norm) > 0, F.md5(norm))
    )
    # corpus document frequency per fingerprint: partial distinct
    # collapses (doc, fp) repeats map-side, so only narrow 16-byte pairs
    # reach the network even for a line repeated 1e6× in one partition
    boiler = (
        lines.filter(F.col("_fp").isNotNull())
        .groupBy(*scope, "_fp")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= BOILER_MIN_DOCS)
        .select(*scope, "_fp", F.lit(True).alias("_boiler"))
    )
    tagged = lines.join(boiler, [*scope, "_fp"], "left")
    # within-doc repeat rank: partitioned by (doc_id, _fp) so the
    # exchange hashes on doc_id-prefixed keys — AQE-coalescible and
    # skew-immune (a fp hot across the corpus is still split per doc)
    w = Window.partitionBy("doc_id", "_fp").orderBy("pos")
    tagged = tagged.withColumn(
        "_rpt",
        F.when(F.col("_fp").isNotNull(), F.row_number().over(w) > 1).otherwise(
            F.lit(False)
        ),
    )
    is_boiler = F.coalesce(F.col("_boiler"), F.lit(False))
    keep = ~is_boiler & ~F.col("_rpt")
    kept = F.when(keep, F.struct("pos", "line"))
    return tagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(kept)), lambda s: s["line"]),
            "\n",
        ).alias("text"),
        F.count("*").cast("int").alias("n_lines_total"),
        F.sum((F.col("_rpt") & ~is_boiler).cast("int"))
        .cast("int")
        .alias("n_dropped_within"),
        F.sum(is_boiler.cast("int")).cast("int").alias("n_dropped_boiler"),
    )
