"""Deduplication operators for web-scale corpora.

Scale design (the point of this module): every variant is expressed as
hash-partitioned group-bys and *bucketed* self-joins — never an O(n²)
cross join — so the same plan runs on 10^12 documents:

- exact: md5-fingerprint groupBy (one shuffle on the 16-byte key).
- MinHash+LSH: shingle→minhash→band→bucket-join; candidate pairs are
  generated only inside band buckets, then verified with true Jaccard via
  a shingle-set equi-join.  Band width tunes recall/cost.
- n-gram Jaccard: partition-bounded self-join (here by ``lang``) for
  small-bucket pair scoring.
- winnowing (Schleimer et al. 2003): window-min k-gram fingerprints,
  df-capped fingerprint self-join.
- exact-substring (Lee et al. 2021): duplicated k-token windows masked
  mid-document after a first-occurrence pass, islands merged, text
  rebuilt.

All hashing is md5 (cross-engine identical) so DuckDB oracles replicate
results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..execution import pin_fanout, spread, stage_boundary
from .textstats import tokens_col

SHINGLE_N = 3
N_HASHES = 8
BAND_ROWS = 2
CC_MAX_ROUNDS = 30
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SUBSTRING_TOKENS = 20  # dedup_substrings' window length
LSH_RECALL_JACCARD = 0.7  # lsh_recall's truth threshold


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Group docs by normalized-content fingerprint; keeper = min doc_id."""
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    return (
        documents.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def shingles(documents: DataFrame) -> DataFrame:
    """Distinct word ``SHINGLE_N``-gram shingles per doc (doc_id, shingle).

    The token array is materialized as a column first — codegen does
    not CSE inside higher-order-function lambdas, so referencing the
    split expression directly re-ran it for every element_at of every
    shingle (n+1 splits per shingle; measured as the dominant cost of
    the minhash family at sf1.0)."""
    docs = documents.withColumn("__sh_w", tokens_col(F.col("text")))
    w = F.col("__sh_w")
    sh = F.when(
        F.size(w) >= SHINGLE_N,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(SHINGLE_N - 1)),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(w, (i + F.lit(k)).cast("int"))
                    for k in range(SHINGLE_N)
                ],
            ),
        ),
    ).otherwise(F.array(F.array_join(w, " ")))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def band_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) straight from the shingle frame — the
    FUSED form of ``lsh_band_signatures(minhash_signatures(sh))``.

    The composed form exploded every shingle ``N_HASHES`` ways and
    shuffled the exploded frame twice ((doc, seed) min, then (doc,
    band) fold).  All ``N_HASHES`` minima are plain aggregates of the
    SAME rows, so one groupBy(doc_id) with ``N_HASHES`` min columns
    computes them with map-side partial aggregation — one shuffle of
    one row per doc — and the band fold becomes a constant-width md5
    over adjacent min columns (equal to the composed fold because
    seeds within a band are distinct and sorted).  The composed form
    is kept as the spec in tests/operator_specs.py; equivalence is
    pinned in tests/test_dup_clusters.py."""
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))
            ).alias(f"__mh{s}")
            for s in range(N_HASHES)
        ]
    )
    n_bands = N_HASHES // BAND_ROWS
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"__mh{s}")
                            for s in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return mins.select("doc_id", F.explode(bands_arr).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (shared ≥1 LSH band) verified with true
    shingle-set Jaccard.  Output: (doc_a, doc_b, shared_bands, jaccard).

    Scale guard on the verify stage: the true-Jaccard intersection is
    computed ONLY for candidate pairs — candidates are joined to doc_a's
    shingles (rows = Σ|A| over pairs), then equi-joined to doc_b's
    shingles on the composite key (doc_b, shingle).  No join in this plan
    matches on shingle equality alone, so a hot shingle ("the of and")
    appearing in k documents costs O(k), never O(k²) — the global
    shingle×shingle self-join an earlier revision had is structurally
    impossible here (asserted by tests/test_plan_quality.py)."""
    # shingles feed four consumers (signatures, per-doc counts, and both
    # sides of the verify join): one scratch-parquet boundary instead of
    # four full recomputes — and instead of a corpus-scale .cache()
    sh = stage_boundary(shingles(spread(documents)), "minhash_shingles")
    sigs = band_signatures(sh)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = stage_boundary(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_bands")),
        "minhash_cand",  # small (pairs only); spine + inter probe
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    cand_sh_a = cand.select("doc_a", "doc_b").join(
        sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
    )
    inter = (
        cand_sh_a.join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_bands",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Word-set Jaccard over pairs co-bucketed by ``lang`` AND a
    token-count band — the join key is (bucket, size_band), so the pair
    space is bounded per bucket, not quadratic in the corpus.

    Size banding (the scale guard): ``jaccard >= t`` implies
    ``min(|A|,|B|)/max(|A|,|B|) >= t``, so a qualifying pair's token
    counts differ by at most a factor ``1/t`` — putting docs in bands of
    ``floor(log(n)/log(1/t))`` means qualifying pairs are at most one
    band apart.  The probe side is replicated to (band-1, band, band+1),
    making the equi-join find exactly the size-compatible pairs: the
    result set is identical to an all-pairs scan + threshold filter, but
    a bucket of n docs generates only the pairs within a ~1/t length
    ratio instead of n²/2.  At threshold 0.9 that is a ±11% length
    window — per-band cardinality is bounded by the corpus's length
    histogram, not its total size.

    Replication is exactly 3× (the ±1 band neighbors, algorithmically
    required) — an earlier revision also exploded a 16-way salt against
    the low-cardinality bucket keys, shuffling the token-array corpus at
    48× amplification (~petabytes at 100 TB scale).  Hot (bucket, band)
    keys are instead handled by AQE's skew-join split
    (``spark.sql.adaptive.skewJoin`` — on in session.py), which divides
    an oversized partition among tasks at runtime without replicating
    the build side for every key."""
    import math

    # SMALL-UNIVERSE BITSET path (see allpairs_from_tokens): with ≤ 61
    # distinct tokens corpus-wide the per-bucket pair problem collapses
    # to distinct bitmasks + a PartEnum segment join + popcount verify —
    # no token arrays ever cross an exchange.  Falls through to the
    # banded-join engine for arbitrary vocabularies.
    toks_e = documents.select(
        "doc_id",
        F.col("lang").alias("bucket"),
        F.explode(tokens_col(F.col("text"))).alias("token"),
    )
    vocab = _small_universe(toks_e)
    if vocab is not None and 0.0 < threshold < 1.0:
        seg_masks = _bitset_segment_masks(threshold, len(vocab))
        if seg_masks is not None:
            pairs = _bitset_doc_pairs(
                toks_e, threshold, vocab, seg_masks, bucket_cols=("bucket",)
            )
            jac = F.round(F.col("n_common") / F.col("n_union"), 6)
            # threshold on the ROUNDED value — same contract as the
            # banded path (and the frozen DuckDB oracle)
            return pairs.select(
                "doc_a", "doc_b", jac.alias("jaccard")
            ).filter(F.col("jaccard") >= threshold)

    toks = documents.select(
        "doc_id",
        F.col("lang").alias("bucket"),
        F.array_distinct(tokens_col(F.col("text"))).alias("toks"),
    )
    toks = toks.withColumn("n_toks", F.size("toks"))
    if 0.0 < threshold < 1.0:
        band = F.floor(
            F.log(F.greatest(F.col("n_toks"), F.lit(1)).cast("double"))
            / F.lit(math.log(1.0 / threshold))
        ).cast("int")
    else:
        band = F.lit(0)
    toks = toks.withColumn("band", band)
    # probe side spread across tasks: the pair evaluation happens in the
    # probe task of the join, so probe parallelism IS the operator's
    # parallelism.
    a = spread(toks).alias("a")
    b = toks.withColumn(
        "band",
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)),
    ).alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = inter.cast("double") / union
    # exact size-ratio prefilter (band is the coarse routing version of
    # this): prunes pairs before the set ops without changing the result.
    size_ok = (
        F.least(F.col("a.n_toks"), F.col("b.n_toks")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("a.n_toks"), F.col("b.n_toks"))
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_pairs(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for a GIVEN candidate pair set — the
    composition contract for near-dup pipelines: candidate generation
    (MinHash/SimHash LSH, sub-quadratic) decides WHAT to compare; this
    stage's cost is bounded by the candidate count, never the corpus
    pair count.  ``pairs`` must carry (doc_a, doc_b); extra columns
    (band counts, hamming) pass through.

    Small-universe specialization (see :func:`_bitset_doc_pairs`): when
    the corpus vocabulary fits 61 tokens, each doc's set is one long
    bitmask, so the two attach joins carry 8 bytes instead of a token
    array and the set ops are two popcounts instead of array_intersect/
    array_union — same jaccard values (counts over the same sets)."""
    toks_e = documents.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(tokens_col(F.col("text")))
        ).alias("token"),
    )
    vocab = _small_universe(toks_e)
    if vocab is not None:
        spark = documents.sparkSession
        bmap = F.broadcast(
            spark.createDataFrame(
                [(t, 1 << i) for i, t in enumerate(vocab)],
                "token string, __bitval long",
            )
        )
        # left join + explode_outer keep null-text docs present with a
        # null mask -> null jaccard, matching the array path's nulls
        masks = (
            toks_e.join(bmap, "token", "left")
            .groupBy("doc_id")
            .agg(F.bit_or("__bitval").alias("__jv_mask"))
        )
        a = masks.select(
            F.col("doc_id").alias("doc_a"), F.col("__jv_mask").alias("__jv_a")
        )
        b = masks.select(
            F.col("doc_id").alias("doc_b"), F.col("__jv_mask").alias("__jv_b")
        )
        inter = F.bit_count(F.col("__jv_a").bitwiseAND(F.col("__jv_b")))
        union = F.bit_count(F.col("__jv_a").bitwiseOR(F.col("__jv_b")))
        return (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
            .drop("__jv_a", "__jv_b")
        )
    toks = documents.select(
        "doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("toks")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .drop("toks_a", "toks_b")
    )


HIGH_NIBBLES = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """32-bit SimHash: bit j of a token's hash = high bit of hex nibble j
    of md5(token) (cross-engine reproducible); document bit j = majority
    vote (±1 per token, with multiplicity).

    Native expressions only, SINGLE pass over the token array: one
    ``aggregate`` fold accumulates a ``bits``-wide vote array (each token
    hashes once and contributes ±1 to every bit via ``zip_with``), then a
    second constant-size fold converts votes to the integer hash.  An
    earlier revision folded once per bit — 32 O(tokens) passes; this is
    one.  At production scale swap the md5 nibble trick for ``xxhash64``
    + bit ops (same plan shape, cheaper)."""
    documents = spread(documents)
    w = tokens_col(F.col("text"))
    nibble_idx = F.sequence(F.lit(1), F.lit(bits))  # 1-based hex positions

    def _tok_votes(t):
        h = F.md5(t)
        return F.transform(
            nibble_idx,
            lambda j: F.when(h.substr(j, F.lit(1)).isin(*HIGH_NIBBLES), 1).otherwise(-1),
        )

    votes = F.aggregate(
        w,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, _tok_votes(t), lambda a, v: a + v),
    )
    powers = F.array(*[F.lit(2**j).cast("long") for j in range(bits)])
    value = F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return documents.select("doc_id", value.alias("simhash"))


def simhash_pairs(
    documents: DataFrame, bits: int = SIMHASH_BITS, bands: int = SIMHASH_BANDS
) -> DataFrame:
    """Hamming-LSH over SimHash: split the hash into ``bands`` bit-slices;
    docs sharing any slice are candidates (≤ bits/bands differing bits ⇒
    guaranteed candidate).  Bucket-join, never cross join; output the
    exact Hamming distance per candidate pair.

    r06 shape (was: doc-level band join + groupBy(min) dedup): the pair
    set is quadratic in the corpus, so everything that can run at the
    DISTINCT-HASH grain now does —

    - the simhash table is stage-boundaried once (scratch parquet), so
      the md5 vote fold runs exactly once per doc and downstream
      constraint inference can never re-evaluate it at the scan (the
      hazard that previously forced an aggregate pushdown barrier);
    - the band join runs over DISTINCT simhash values (hash-identical
      docs are interchangeable), and each unordered hash pair is
      emitted exactly once by the FIRST-shared-band owner filter — a
      filter on the two hashes already in the join output, replacing
      the old groupBy dedup that shuffled the full quadratic pair set;
    - hash pairs expand back to doc pairs through two output-bounded
      hash joins on the boundary table, and hash-identical groups
      contribute their within-group pairs (hamming 0) via one
      self-join.

    Because the output is no longer an aggregate, a downstream
    ``hamming <= t`` filter now PUSHES INTO the hash-pair join — the
    composed near-dup pipeline (near_dup_verified) prunes candidates
    before expansion instead of after the full pair shuffle."""
    sh = stage_boundary(simhash(documents, bits), "simhash_vals")
    slice_bits = bits // bands
    mask = (1 << slice_bits) - 1

    def _slice(col, b):
        return F.shiftright(col, b * slice_bits).bitwiseAND(F.lit(mask))

    hashes = sh.select("simhash").distinct()
    sliced = hashes.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _slice(F.col("simhash"), b).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("simhash", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # the slice frames are byte-SMALL but the pair join is CPU-HUGE
    # (it streams the whole expanded pair set): AQE's byte heuristic
    # would coalesce the exchange to a handful of tasks — pin the
    # fan-out on both sides (same lesson as allpairs_from_tokens)
    sliced = pin_fanout(sliced, "band", "sig")
    a, b = sliced.alias("a"), sliced.alias("b")
    # first-shared-band owner: keep the pair only in the band where all
    # EARLIER slices differ — exactly-once without a dedup shuffle
    owner = None
    for i in range(bands):
        c = F.col("a.band") == F.lit(i)
        for j in range(i):
            c = c & (
                _slice(F.col("a.simhash"), j) != _slice(F.col("b.simhash"), j)
            )
        owner = c if owner is None else (owner | c)
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # single bit_count expression, NOT a 32-term shift/mask sum: a giant
    # inlined expression in a join condition or filter blows past the JVM
    # codegen method limit and drops the whole join to interpreted mode
    # (measured 6x slower when a hamming filter was pushed into the join)
    hamming = F.bit_count(xor).cast("int")
    hash_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .filter(owner)
        .select(
            F.col("a.simhash").alias("__h_a"),
            F.col("b.simhash").alias("__h_b"),
            hamming.alias("hamming"),
        )
    )
    ma = sh.select(F.col("doc_id").alias("__doc_x"), F.col("simhash").alias("__h_a"))
    mb = sh.select(F.col("doc_id").alias("__doc_y"), F.col("simhash").alias("__h_b"))
    cross = (
        hash_pairs.join(ma, "__h_a")
        .join(mb, "__h_b")
        .select(
            F.least("__doc_x", "__doc_y").alias("doc_a"),
            F.greatest("__doc_x", "__doc_y").alias("doc_b"),
            "hamming",
        )
    )
    s1, s2 = sh.alias("s1"), sh.alias("s2")
    same = s1.join(
        s2,
        (F.col("s1.simhash") == F.col("s2.simhash"))
        & (F.col("s1.doc_id") < F.col("s2.doc_id")),
    ).select(
        F.col("s1.doc_id").alias("doc_a"),
        F.col("s2.doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return cross.unionByName(same)


def simhash_pairs_oracle_sql() -> str:
    slice_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << slice_bits) - 1
    hamming = "bit_count(xor(a.simhash, b.simhash))::INT"
    return f"""
        WITH sh AS ({simhash_oracle_sql()}),
        sliced AS (
          SELECT doc_id, simhash, band,
                 (simhash >> (band * {slice_bits})) & {mask} AS sig
          FROM sh, (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 ({hamming}) AS hamming
          FROM sliced a JOIN sliced b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM pairs
    """


def simhash_oracle_sql() -> str:
    """DuckDB SQL computing the identical SimHash (shared spec)."""
    nibbles = ",".join(f"'{c}'" for c in HIGH_NIBBLES)
    terms = []
    for j in range(SIMHASH_BITS):
        vote = (
            "list_sum(list_transform(string_split(text,' '), "
            f"t -> CASE WHEN substr(md5(t),{j + 1},1) IN ({nibbles}) "
            "THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END")
    return (
        "SELECT doc_id, (" + " + ".join(terms) + ") AS simhash FROM documents"
    )


def winnow_fingerprints(documents: DataFrame) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al. 2003): hash every word
    ``k``-gram (k = 5; md5 — the cross-engine convention of this module)
    and keep the MINIMUM hash of each sliding window of ``w`` = 4
    consecutive gram hashes.  The selected set is sparse (~2/(w+1) of
    the grams) yet GUARANTEES any shared run of ``w + k - 1`` tokens contributes
    at least one shared fingerprint — the positional robustness
    plain n-gram sampling lacks.

    Pure JVM higher-order functions (``sequence`` + ``transform`` +
    ``slice`` + ``array_min``), zero shuffle on a well-split table,
    streams over 100 TB.  The md5-per-gram fold is compute-heavy, so
    an under-split scan is rebalanced first (``spread`` — measured:
    the sf0.1 single-file table ran the whole map on ONE task, 559 s;
    spread across the cores it is seconds).  Docs shorter than ``k``
    words yield an empty set; docs with fewer than ``w`` grams yield
    their single minimum."""
    k, w = 5, 4
    documents = spread(documents)
    # the words array is materialized as a column BEFORE the gram
    # transform: codegen cannot CSE across HOF lambda boundaries, so an
    # inline `split` reference re-ran the split for every gram slice
    # (the _shingle_fps lesson)
    worded = documents.withColumn("__w_words", F.split(F.col("text"), " "))
    words = F.col("__w_words")
    n_g = F.size(words) - k + 1
    grams_expr = F.when(F.size(words) < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_g, F.lit(1))),
            lambda i: F.md5(F.array_join(F.slice(words, i, k), " ")),
        )
    )
    # materialize the gram-hash array ONCE per row: the window-min
    # pass below references it n_g times, and substituting the md5
    # fold into every lambda would recompute the whole array per
    # window — O(n_g²) md5 calls (measured: 208 s → 4 s at sf0.1)
    staged = worded.select("doc_id", grams_expr.alias("__grams"))
    g = F.col("__grams")
    fps = F.when(F.size(g) < 1, g).otherwise(
        F.when(
            F.size(g) >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(g) - w + 1),
                    lambda j: F.array_min(F.slice(g, j, w)),
                )
            ),
        ).otherwise(F.array(F.array_min(g)))
    )
    return staged.select("doc_id", fps.alias("fingerprints"))


def winnow_pairs(documents: DataFrame) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: explode the
    sets, drop fingerprints present in more than 100 documents
    (a boilerplate phrase shared corpus-wide would otherwise build a
    quadratic candidate set — the standard document-frequency cap),
    self-join on the 16-byte fingerprint, and keep pairs sharing at
    least 2 distinct fingerprints.  One shuffle on the
    fingerprint key; pair work is candidate-bounded exactly like the
    MinHash/SimHash families in this module."""
    # explode_OUTER, not explode: plain explode lets the optimizer
    # infer `size(fingerprints) > 0` and push that filter below the
    # rebalance — substituting the ENTIRE md5+window-min expression
    # into a Filter that runs on the (serial) scan task and then again
    # in the projections.  Measured at sf0.1: 92 s → 1.5 s.  The
    # explicit IS NOT NULL on the OUTPUT column cannot be substituted
    # downward.
    fp = (
        winnow_fingerprints(documents)
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    keep = fp.groupBy("fp").agg(F.count("*").alias("df")).filter(
        F.col("df") <= 100
    )
    fp = fp.join(keep.select("fp"), "fp")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def dedup_substrings(documents: DataFrame) -> DataFrame:
    """Exact-SUBSTRING dedup at ``SUBSTRING_TOKENS``-token grain (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): every ``SUBSTRING_TOKENS``-token window that occurs more
    than once in the corpus keeps only its FIRST occurrence (ordered by (doc_id, start)); all later
    occurrences are masked out of their documents, overlapping masked
    windows merged into spans (gaps-and-islands), and the surviving
    tokens re-joined.  This is the operation paragraph-grain dedup
    cannot express: a duplicated passage EMBEDDED mid-paragraph is
    removed from the later documents only.

    Scale shape (the distributed substitute for the paper's
    single-node suffix array): the gram stream shuffles once on the
    16-byte gram hash (row_number picks first occurrences), masked
    intervals shuffle once on doc_id for the island merge, and the
    rebuild is one groupBy(doc_id) over SURVIVING tokens.  Gram
    hashes are materialized in their own projection and exploded with
    explode_outer (the InferFiltersFromGenerate lesson, SURVEY §30).

    Output: doc_id, the deduped text, n_tokens / n_removed."""
    documents = spread(documents)
    # words materialized as a column first — an inline split reference
    # inside the gram lambda re-ran the split per gram (no CSE across
    # HOF lambda boundaries; the _shingle_fps lesson)
    worded = documents.withColumn("__words", F.split(F.col("text"), " "))
    words = F.col("__words")
    n_g = F.size(words) - SUBSTRING_TOKENS + 1
    grams_expr = F.when(
        F.size(words) < SUBSTRING_TOKENS,
        F.array().cast("array<struct<start:int,gh:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_g - 1),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                F.md5(
                    F.array_join(F.slice(words, i + 1, SUBSTRING_TOKENS), " ")
                ).alias("gh"),
            ),
        )
    )
    staged = worded.select(
        "doc_id", "__words", grams_expr.alias("__grams")
    )
    g = (
        staged.select("doc_id", F.explode_outer("__grams").alias("g"))
        .where(F.col("g").isNotNull())
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))
    )
    w_first = Window.partitionBy("gh").orderBy("doc_id", "start")
    dups = (
        g.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") > 1)
        .select("doc_id", "start", (F.col("start") + SUBSTRING_TOKENS).alias("end"))
    )
    # gaps-and-islands merge of overlapping masked windows per doc
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dups.withColumn(
        "brk",
        (F.col("start") > F.coalesce(F.max("end").over(w_prev), F.lit(-1)))
        .cast("int"),
    ).withColumn(
        "island",
        F.sum("brk").over(
            Window.partitionBy("doc_id").orderBy("start")
        ),
    )
    merged = isl.groupBy("doc_id", "island").agg(
        F.min("start").alias("s"), F.max("end").alias("e")
    )
    covered = merged.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("e") - 1)).alias("pos")
    )
    toks = staged.select(
        "doc_id", F.posexplode("__words").alias("pos", "tok")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    totals = staged.select("doc_id", F.size("__words").alias("__n"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (F.col("__n") - F.coalesce("n_tokens", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def _cc_checksum(edges: DataFrame) -> tuple[int, int]:
    """(edge_count, order-independent hash) of a canonical edge set —
    the per-round convergence probe.  One tiny two-column aggregate; at
    any scale the result is a single driver row."""
    row = edges.agg(
        F.count("*").alias("n"),
        # bit_xor is order-independent and cannot overflow under ANSI
        # mode (the edge set is distinct, so xor cancellation needs a
        # genuine hash collision)
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over the canonical (hi, lo) edge set:
    connect every strictly-larger neighbour of each node to the minimum
    of its closed neighbourhood.  Shape: one groupBy(node).min + one
    equi-join of the edge list back to the per-node minimum — edges
    never join edges, so a k-neighbour super-node costs O(k)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.min("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round on the (hi → lo) orientation: connect every
    smaller neighbour, and the node itself, to the per-node minimum.
    Same two-op shape as :func:`_large_star`."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    joined = edges.join(mins, "u")
    return (
        joined.select(
            F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
        )
        .union(joined.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components of the near-duplicate graph via alternating
    large-star / small-star contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — the algorithm
    behind GraphFrames/GraphX CC), returning one row per NON-SINGLETON
    node: (doc_id, cluster_id) with cluster_id = min doc_id reachable.

    This closes the dedup loop the pair operators open: MinHash / SimHash
    / winnowing emit PAIRS, but corpus dedup must resolve transitive
    chains (A~B, B~C ⇒ one cluster) before electing canonicals —
    reference-scale near-dup graphs are full of such chains (templated
    boilerplate links thousands of pages).

    Scale shape, per round: large-star is one groupBy(u).min + one
    equi-join of the edge list back to the per-node minimum (shuffles
    on node id only); small-star is the same two ops on the
    (hi → lo)-oriented list.  No step ever joins edges to edges, so a
    super-node with k neighbours costs O(k), never O(k²)
    (`test_no_cartesian_products` covers this module).  Convergence is
    checked with a two-column checksum aggregate (a single driver row)
    and each round is cut from its predecessor's lineage with
    ``localCheckpoint`` — an iterative plan left uncut grows
    exponentially.  The paper bounds rounds at O(log² n); duplicate
    clusters in practice converge in 2-4.

    Determinism: the fixed point is unique (every node labelled with
    the component minimum) regardless of round count or partitioning,
    so a DuckDB recursive-CTE closure replays it value-exactly.
    """
    edges = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = edges.localCheckpoint()
    n_prev, h_prev = _cc_checksum(edges)
    for _ in range(CC_MAX_ROUNDS):
        if n_prev == 0:
            break
        edges = _small_star(_large_star(edges))
        edges = edges.localCheckpoint()  # cut the per-round lineage
        n_now, h_now = _cc_checksum(edges)
        if (n_now, h_now) == (n_prev, h_prev):
            break
        n_prev, h_prev = n_now, h_now
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    # fixed point = star graphs: every edge points (member → root).
    members = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    roots = edges.select(
        F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")
    ).distinct()
    return members.union(roots)


def dup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster table over the whole corpus: (doc_id, cluster_id,
    cluster_size, is_canonical).  Docs in no near-dup pair are
    singletons (cluster_id = doc_id); the canonical member of every
    cluster is its minimum doc_id — the keep-one election corpus dedup
    ends with.

    One left join of documents against the (small — members of dup
    clusters only) component table, plus a cluster-size groupBy; the
    iterative work happens in :func:`connected_components` over the
    pair graph, never over the corpus."""
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    labelled = cc.join(sizes, "cluster_id")
    return (
        documents.select("doc_id")
        .join(labelled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            (
                F.coalesce("cluster_id", "doc_id") == F.col("doc_id")
            ).alias("is_canonical"),
        )
    )


def _small_universe(toks: DataFrame) -> list[str] | None:
    """The sorted global ``token`` universe IF it fits 61 values, else
    None.  One distinct probe with an early-exit limit — the probe can
    prove 'large' after 62 distinct values without aggregating the
    full vocabulary to the driver; 'small' is exact.  61 values keep
    every set representable as one signed-long bitmask."""
    rows = (
        toks.select("token")
        .filter(F.col("token").isNotNull())
        .distinct()
        .limit(62)
        .collect()
    )
    if len(rows) > 61:
        return None
    return sorted(r[0] for r in rows)


def _bitset_segment_masks(threshold: float, v: int) -> list[int] | None:
    """PartEnum-style universe partition for the bitset path (Arasu,
    Ganti & Kaushik, VLDB 2006): jaccard ≥ t bounds the symmetric
    difference by d = floor((1−t)·|union|) ≤ floor((1−t)·v), and by
    pigeonhole two qualifying sets must agree EXACTLY on at least one
    of d+1 universe segments — so segment-content equality is a
    complete (no-false-negative) candidate key.  Returns the d+1
    segment bitmasks, or None when the threshold needs more than
    16 segments (low thresholds: the per-segment
    agreement probability stops being selective and the generic
    prefix-filter path wins)."""
    import math

    if not (0.0 < threshold < 1.0):
        return None
    # +1e-9: never under-floor d through float error (an extra segment
    # is always safe, a missing one loses pairs)
    d = int(math.floor((1.0 - threshold) * v + 1e-9))
    n_seg = d + 1
    if n_seg > min(v, 16):
        return None
    bounds = [round(i * v / n_seg) for i in range(n_seg + 1)]
    masks = []
    for i in range(n_seg):
        m = 0
        for b in range(bounds[i], bounds[i + 1]):
            m |= 1 << b
        masks.append(m)
    return masks


def _bitset_doc_pairs(
    toks: DataFrame,
    threshold: float,
    vocab: list[str],
    seg_masks: list[int],
    bucket_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All document pairs with token-set jaccard ≥ ``threshold`` (and
    equal ``bucket_cols``), via the SMALL-UNIVERSE BITSET specialization
    of the exact all-pairs join: with ≤ 61 distinct tokens every set is
    one long bitmask, so

    - documents GROUP BY their exact mask first (interchangeable-set
      dedup: n docs over D ≤ min(n, 2^|U|) distinct sets turns the pair
      problem from n² to D² before any join runs);
    - candidates between DISTINCT masks come from the PartEnum segment
      join (:func:`_bitset_segment_masks`), each unordered mask pair
      emitted exactly once by the first-agreeing-segment owner rule (a
      filter, not a distinct — no extra shuffle of the candidate set);
    - verification is two popcounts (``bit_count``), never an
      array_intersect;
    - qualifying mask pairs expand back to doc pairs through two
      output-bounded hash joins on the members table, and same-mask
      groups contribute their within-group pairs (jaccard exactly 1)
      via one members self-join.

    Emits (bucket_cols..., doc_a, doc_b, n_common, n_union) with
    doc_a < doc_b; thresholding uses a 1e-6-relaxed bound so callers
    applying either the unrounded or a ≥6-dp-rounded jaccard filter
    lose nothing.  Exactness vs brute force is pinned in
    tests/test_dedup.py."""
    t_relax = threshold - 1e-6
    spark = toks.sparkSession
    bmap = F.broadcast(
        spark.createDataFrame(
            [(t, 1 << i) for i, t in enumerate(vocab)],
            "token string, __bitval long",
        )
    )
    members = (
        toks.join(bmap, "token")
        .groupBy(*bucket_cols, "doc_id")
        .agg(F.bit_or("__bitval").alias("mask"))
    )
    masks = members.select(*bucket_cols, "mask").distinct()
    segs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("seg"),
                    F.col("mask").bitwiseAND(F.lit(m)).alias("sig"),
                )
                for i, m in enumerate(seg_masks)
            ]
        )
    ).alias("bs")
    sigs = masks.select(*bucket_cols, "mask", segs).select(
        *bucket_cols,
        "mask",
        F.col("bs.seg").alias("seg"),
        F.col("bs.sig").alias("sig"),
    )
    # byte-small / CPU-huge candidate join: pin the fan-out so AQE's
    # byte-based coalescing cannot serialize the pair evaluation
    sigs = pin_fanout(sigs, *bucket_cols, "seg", "sig")
    a, b = sigs.alias("a"), sigs.alias("b")
    cond = (
        (F.col("a.seg") == F.col("b.seg"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.mask") < F.col("b.mask"))
    )
    for bc in bucket_cols:
        cond = cond & (F.col(f"a.{bc}") == F.col(f"b.{bc}"))
    # first-agreeing-segment owner: pair kept only where every EARLIER
    # segment disagrees — one emission per mask pair, zero dedup shuffle
    owner = None
    for i in range(len(seg_masks)):
        c = F.col("a.seg") == F.lit(i)
        for m in seg_masks[:i]:
            c = c & (
                F.col("a.mask").bitwiseAND(F.lit(m))
                != F.col("b.mask").bitwiseAND(F.lit(m))
            )
        owner = c if owner is None else (owner | c)
    common = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
    union = F.bit_count(F.col("a.mask").bitwiseOR(F.col("b.mask")))
    mask_pairs = (
        a.join(b, cond)
        .filter(owner)
        .filter(common.cast("double") / union >= F.lit(t_relax))
        .select(
            *[F.col(f"a.{bc}").alias(bc) for bc in bucket_cols],
            F.col("a.mask").alias("__mask_a"),
            F.col("b.mask").alias("__mask_b"),
            common.cast("long").alias("n_common"),
            union.cast("long").alias("n_union"),
        )
    )
    ma = members.select(
        *bucket_cols,
        F.col("doc_id").alias("__doc_x"),
        F.col("mask").alias("__mask_a"),
    )
    mb = members.select(
        *bucket_cols,
        F.col("doc_id").alias("__doc_y"),
        F.col("mask").alias("__mask_b"),
    )
    jk = [*bucket_cols, "__mask_a"]
    cross = (
        mask_pairs.join(ma, jk)
        .join(mb, [*bucket_cols, "__mask_b"])
        .select(
            *bucket_cols,
            F.least("__doc_x", "__doc_y").alias("doc_a"),
            F.greatest("__doc_x", "__doc_y").alias("doc_b"),
            "n_common",
            "n_union",
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    same_cond = (F.col("m1.mask") == F.col("m2.mask")) & (
        F.col("m1.doc_id") < F.col("m2.doc_id")
    )
    for bc in bucket_cols:
        same_cond = same_cond & (F.col(f"m1.{bc}") == F.col(f"m2.{bc}"))
    sz = F.bit_count(F.col("m1.mask")).cast("long")
    same = m1.join(m2, same_cond).select(
        *[F.col(f"m1.{bc}").alias(bc) for bc in bucket_cols],
        F.col("m1.doc_id").alias("doc_a"),
        F.col("m2.doc_id").alias("doc_b"),
        sz.alias("n_common"),
        sz.alias("n_union"),
    )
    return cross.unionByName(same)


def allpairs_jaccard(documents: DataFrame, threshold: float = 0.9) -> DataFrame:
    """EXACT all-pairs Jaccard similarity join via prefix filtering
    (Bayardo, Ma & Srikant 2007, "Scaling Up All Pairs Similarity
    Search") — the deterministic complement to the LSH families: no
    false negatives, no tuning of bands/rows, at the cost of a
    candidate set that grows as the threshold drops.

    The prefix-filter theorem: order every document's distinct-token
    set by GLOBAL rarity (ascending document frequency, ties on the
    token); two sets with Jaccard ≥ t MUST share at least one token in
    their first |d| − ⌈t·|d|⌉ + 1 tokens.  Candidates are therefore
    the pairs co-occurring in a prefix-token bucket — the join
    replicates each document only (1−t)·|d|+1 times, and the rarity
    ordering puts the LEAST frequent tokens in prefixes, so bucket
    sizes shrink toward singletons exactly where the corpus is hot.

    Candidates additionally pass PPJoin's POSITIONAL filter (Xiao et
    al. 2008): a shared token at sorted positions (i, j) bounds the
    overlap by 1 + min(|a|−i, |b|−j), which must reach the Jaccard-
    equivalent overlap threshold ⌈t/(1+t)·(|a|+|b|)⌉.  Because both
    documents sort by the same global order, prefix-join matches are
    position-monotone, so the FIRST common token maximizes the bound
    and max(ubound) per pair is exactly the classic first-match bound
    — no false negatives.  Measured at sf0.1 (t=0.95, a worst-case
    templated corpus where everything resembles everything): 9.74 M
    raw bucket pairs → 1.81 M positional survivors → 191 k true pairs,
    so verification work tracks output size, not bucket size².

    Plan shape: one shuffle computes document frequencies (vocabulary-
    sized, token-keyed equi-join back — same AQE-skew reasoning as
    tf-idf); one doc_id shuffle folds the rarity-sorted set array; the
    candidate join keys on single prefix tokens, the positional filter
    is integer arithmetic inside that join's aggregation (the groupBy
    replaces the pair-distinct — same shuffle key, no extra exchange);
    verification is an array_intersect over surviving pairs only
    (never all pairs — plan-asserted), with sizes pre-checked (min/max
    ≥ t is implied by Jaccard ≥ t) before any intersection runs.

    Output: (doc_a, doc_b, n_common, n_union, jaccard) for every pair
    with jaccard ≥ threshold, doc_a < doc_b, 4 dp rounding."""
    toks = documents.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col("text"), " "), lambda t: t != "")
            )
        ).alias("token"),
    )
    return allpairs_from_tokens(toks, threshold)


def allpairs_from_tokens(
    toks: DataFrame, threshold: float
) -> DataFrame:
    """The :func:`allpairs_jaccard` engine over an arbitrary DISTINCT
    (doc_id, token) set representation — set elements may be words
    (``allpairs_jaccard``), shingles (:func:`lsh_recall`'s exact truth
    side), or any other fingerprintable unit.  Same guarantees: exact,
    prefix-filtered, positionally pruned, verify joins doc-bounded."""
    # SMALL-UNIVERSE BITSET specialization (guide §2.3 narrower types,
    # taken to its limit): when the global vocabulary fits 61 values —
    # dictionary-coded categorical corpora, label sets, enum streams —
    # every token set is one long bitmask, identical sets collapse
    # before any join, candidates come from the PartEnum segment join,
    # and verification is two popcounts.  Exact (no false negatives);
    # the generic prefix-filter path below remains the arbitrary-
    # vocabulary engine (measured at sf1.0: 271 s prefix path → see
    # OPTIMIZATION_r06.md for the bitset number on the bench corpus).
    vocab = _small_universe(toks)
    if vocab is not None:
        seg_masks = _bitset_segment_masks(threshold, len(vocab))
        if seg_masks is not None:
            pairs = _bitset_doc_pairs(toks, threshold, vocab, seg_masks)
            # threshold on the UNROUNDED ratio — same contract as the
            # generic path's final filter
            return pairs.filter(
                F.col("n_common") / F.col("n_union") >= threshold
            ).select(
                "doc_a",
                "doc_b",
                "n_common",
                "n_union",
                F.round(
                    F.col("n_common") / F.col("n_union"), 4
                ).alias("jaccard"),
            )
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    # three consumers (prefix explode + both verify sides) with three
    # different required partitionings — boundary the sorted-set frame
    # so the tokenize/df-join/fold chain runs once, not three times
    sets = stage_boundary(
        toks.join(dfreq, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("toks")
        )
        .select("doc_id", "toks", F.size("toks").alias("sz")),
        "allpairs_sets",
    )
    prefix_len = (F.col("sz") - F.ceil(threshold * F.col("sz")) + 1).cast(
        "int"
    )
    prefix = sets.select(
        "doc_id",
        "sz",
        F.posexplode(F.slice("toks", 1, prefix_len)).alias("pos0", "token"),
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        (F.col("pos0") + 1).alias("pos_a"),
        "token",
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        (F.col("pos0") + 1).alias("pos_b"),
        "token",
    )
    ubound = 1 + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    overlap_min = F.ceil(
        F.lit(threshold) / (1 + threshold) * (F.col("sz_a") + F.col("sz_b"))
    )
    # the prefix frames are byte-SMALL but the bucket join they feed
    # is CPU-HUGE (it materializes every candidate pair) — left to
    # AQE's byte heuristic the join stage coalesces to a handful of
    # tasks (measured: 5.1 s vs 2.9 s with coalescing off at
    # local[32]); REPARTITION_BY_NUM pins the fan-out on both sides
    pa = pin_fanout(pa, "token")
    pb = pin_fanout(pb, "token")
    cands = (
        pa.join(pb, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size filter at the earliest point it is expressible
        .filter(
            F.least("sz_a", "sz_b")
            >= F.ceil(threshold * F.greatest("sz_a", "sz_b"))
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.max(ubound).alias("ubound"))
        .filter(F.col("ubound") >= overlap_min)
        .select("doc_a", "doc_b")
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        # size filter first: jaccard >= t forces min(sz)/max(sz) >= t,
        # pruning before the O(|A|+|B|) intersection runs
        .filter(
            F.least("sz_a", "sz_b")
            >= F.ceil(threshold * F.greatest("sz_a", "sz_b"))
        )
        .withColumn("n_common", inter.cast("long"))
        .withColumn(
            "n_union",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("long"),
        )
        # threshold on the UNROUNDED ratio (integer/integer double
        # division is IEEE-identical across engines; a rounded cutoff
        # would admit pairs just below t)
        .filter(F.col("n_common") / F.col("n_union") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_union",
            F.round(F.col("n_common") / F.col("n_union"), 4).alias(
                "jaccard"
            ),
        )
    )


def build_minhash_index(documents: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): the MATERIALIZABLE LSH index of a
    corpus — the asset a production pipeline builds ONCE over history
    and persists (e.g. through the snapshot layer), so that gating
    each incoming batch never touches history text again.  Pure
    per-doc function (md5 minhashes, sorted band fold) — identical
    whether built over the whole corpus or per partition/batch."""
    return band_signatures(shingles(spread(documents)))


def incremental_minhash_gate(
    new_docs: DataFrame, history_index: DataFrame
) -> DataFrame:
    """Near-dup gate for an INCREMENTAL batch: which new documents
    collide (share ≥1 LSH band) with the already-ingested corpus,
    given only its :func:`build_minhash_index` output — the 100 TB
    incremental shape: per batch, only the BATCH is shingled and
    minhashed (cost ∝ batch), the join keys on (band, band_sig)
    against the persisted index (pre-bucketable on exactly those
    keys), and nothing ever re-reads or re-hashes history text.

    Output per new doc: (doc_id, n_hit_docs — distinct history docs
    sharing a band, first_hit_doc — smallest such id, NULL when
    novel, is_novel)."""
    new_sigs = build_minhash_index(new_docs)
    hist = history_index.select(
        F.col("doc_id").alias("_hist_doc"), "band", "band_sig"
    )
    hits = (
        new_sigs.join(hist, ["band", "band_sig"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("_hist_doc").alias("n_hit_docs"),
            F.min("_hist_doc").alias("first_hit_doc"),
        )
    )
    return (
        new_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_docs", F.lit(0)).cast("long").alias(
                "n_hit_docs"
            ),
            F.col("first_hit_doc").cast("long"),
            F.col("n_hit_docs").isNull().alias("is_novel"),
        )
    )


def lsh_recall(documents: DataFrame) -> DataFrame:
    """MinHash-LSH candidate quality, MEASURED against exact truth —
    not estimated from the (1-(1-s^r)^b) curve: the truth side is the
    prefix-filtered EXACT all-pairs join over the same shingle sets
    (:func:`allpairs_from_tokens` at Jaccard ``LSH_RECALL_JACCARD`` —
    no false negatives), the candidate
    side is the band-bucket pair set the LSH index would hand to
    verification, and the output is the one-row confusion summary a
    pipeline owner tunes bands/rows with.

    Both sides reuse ONE boundary-backed shingle frame; truth and
    candidates join on the pair key; cost is truth-join + index-build,
    both individually scale-shaped (see their operators).

    Output: (threshold, n_true_pairs, n_candidate_pairs, n_hit,
    recall, candidate_precision) — recall is the fraction of true
    pairs the bands caught; candidate_precision the fraction of
    candidates that verify (1 − wasted verification work)."""
    sh = stage_boundary(shingles(spread(documents)), "lshrec_sh")
    truth = allpairs_from_tokens(
        sh.select("doc_id", F.col("shingle").alias("token")), LSH_RECALL_JACCARD
    ).select("doc_a", "doc_b")
    sigs = band_signatures(sh)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    joined = truth.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "full"
    )
    return joined.agg(
        F.lit(LSH_RECALL_JACCARD).alias("threshold"),
        F.sum(F.coalesce("_t", F.lit(0))).cast("long").alias("n_true_pairs"),
        F.sum(F.coalesce("_c", F.lit(0)))
        .cast("long")
        .alias("n_candidate_pairs"),
        F.sum(
            F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_hit"),
        F.round(
            F.sum(
                F.when(
                    F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1
                ).otherwise(0)
            )
            / F.sum(F.coalesce("_t", F.lit(0))),
            4,
        ).alias("recall"),
        F.round(
            F.sum(
                F.when(
                    F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1
                ).otherwise(0)
            )
            / F.sum(F.coalesce("_c", F.lit(0))),
            4,
        ).alias("candidate_precision"),
    )
