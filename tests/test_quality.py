"""C4 line filters, Gopher repetition signals, corpus-wide paragraph dedup."""

from __future__ import annotations

from reading_the_unreadable_spark.operators.quality import (
    c4_line_filters,
    dedup_paragraphs,
    gopher_repetition_signals,
)


def test_c4_line_filters(spark):
    text = "\n".join(
        [
            "this line ends with a period and enough words.",
            "no terminal punctuation so it is dropped here",
            "too short.",
            "please enable javascript to view our fine content.",
            "accept the cookie banner before reading anything else.",
            'a quoted ending line with plenty of words"',
            "another good sentence that survives every single rule!",
        ]
    )
    df = spark.createDataFrame([("d", text)], "doc_id string, text string")
    got = c4_line_filters(df).first()
    assert got["n_lines_total"] == 7
    assert got["n_lines_kept"] == 3
    assert got["kept"] == 1
    assert got["text"].split("\n") == [
        "this line ends with a period and enough words.",
        'a quoted ending line with plenty of words"',
        "another good sentence that survives every single rule!",
    ]
    # below min_lines → flagged out but text still returned
    small = spark.createDataFrame(
        [("s", "one good line with enough words here.")], "doc_id string, text string"
    )
    got_s = c4_line_filters(small).first()
    assert (got_s["n_lines_kept"], got_s["kept"]) == (1, 0)


def test_gopher_repetition_signals(spark):
    text = (
        "alpha beta gamma\n"
        "alpha beta gamma\n"          # duplicate line
        "- bullet item one two\n"
        "trailing thought goes on...\n"
        "\n"
        "second paragraph here"
    )
    df = spark.createDataFrame([("d", text)], "doc_id string, text string")
    got = gopher_repetition_signals(df).first()
    # 6 lines, 5 distinct → 1/6
    assert abs(got["dup_line_frac"] - round(1 - 5 / 6, 6)) < 1e-9
    assert got["dup_para_frac"] == 0.0
    assert abs(got["bullet_line_frac"] - round(1 / 6, 6)) < 1e-9
    assert abs(got["ellipsis_line_frac"] - round(1 / 6, 6)) < 1e-9
    assert got["dup_word_frac"] > 0  # alpha/beta/gamma repeat


def test_dedup_paragraphs_keeps_first_global_occurrence(spark):
    shared = "this exact boilerplate paragraph appears everywhere"
    rows = [
        ("doc-a", f"unique alpha text\n\n{shared}\n\nalpha tail"),
        ("doc-b", f"{shared}\n\nunique beta text"),
        ("doc-c", f"unique gamma text\n\n{shared}"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    # doc-a is lexicographically first → keeps the shared paragraph
    assert got["doc-a"]["text"] == rows[0][1]
    assert got["doc-a"]["n_paras_kept"] == 3
    assert got["doc-b"]["text"] == "unique beta text"
    assert (got["doc-b"]["n_paras_kept"], got["doc-b"]["n_paras_total"]) == (1, 2)
    assert got["doc-c"]["text"] == "unique gamma text"


def test_dedup_paragraphs_normalized_match(spark):
    """Fingerprint normalizes case/punctuation: 'Hello, World.' and
    'hello world' are the same paragraph."""
    rows = [("doc-a", "Hello, World."), ("doc-b", "hello world")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r["n_paras_kept"] for r in dedup_paragraphs(df).collect()}
    assert got == {"doc-a": 1, "doc-b": 0}


def test_unigram_logprob_orders_gibberish_last(spark):
    import math

    from reading_the_unreadable_spark.operators.quality import unigram_logprob

    rows = [
        ("common", "the cat sat on the mat"),
        ("common2", "the dog sat on the rug"),
        ("rare", "zyxwv qprst unique gibberish tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # frequent-word docs score higher (less negative) than the one made
    # of corpus-unique tokens
    assert got["common"]["avg_logprob"] > got["rare"]["avg_logprob"]
    assert got["common"]["n_tokens"] == 6
    # exact check: 17 tokens total; 'the' appears 4x
    the_lp = math.log(4 / 17)
    assert got["rare"]["avg_logprob"] == round(math.log(1 / 17), 4)
    assert the_lp > math.log(1 / 17)


def test_bigram_logprob_exact_math(spark):
    import math

    from reading_the_unreadable_spark.operators.quality import bigram_logprob

    rows = [("a", "x y x y"), ("b", "x z"), ("single", "lone")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    # corpus: bigrams (x,y):2 (y,x):1 (x,z):1; ctx x:3 y:1; V=4 {x,y,z,lone}
    assert got["a"]["n_bigrams"] == 3
    exp_a = (2 * math.log(3 / 7) + math.log(2 / 5)) / 3
    assert got["a"]["avg_bigram_logprob"] == round(exp_a, 4)
    assert got["b"]["avg_bigram_logprob"] == round(math.log(2 / 7), 4)
    assert "single" not in got  # no bigrams, no row


def test_source_mix_weights(spark):
    from reading_the_unreadable_spark.operators.quality import source_mix

    rows = [
        (1, "a b c d", "big"),
        (2, "e f g h", "big"),
        (3, "i j", "small"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in source_mix(df).collect()}
    assert got["big"]["n_docs"] == 2 and got["big"]["n_tokens"] == 8
    assert abs(got["big"]["token_share"] - 0.8) < 1e-9
    # temperature alpha<1 upweights the small source above its share
    assert got["small"]["sample_weight"] > got["small"]["token_share"]
    assert abs(
        got["big"]["sample_weight"] + got["small"]["sample_weight"] - 1.0
    ) < 1e-5


def test_pack_sequences(spark):
    from reading_the_unreadable_spark.operators.quality import pack_sequences

    # md5 first hex digit: 1→'c', 2→'c', 8→'c' (same shard); 3→'e'; 4→'a'
    # budget PACK_TOKENS = 2048
    rows = [
        (1, "a " * 1199 + "a", "s1"),  # 1200 tokens, shard c
        (2, "b " * 999 + "b", "s1"),   # 1000 tokens, shard c -> starts at 1200, seq 0
        (8, "c " * 399 + "c", "s1"),   # 400 tokens, shard c -> starts at 2200, seq 1
        (3, "e " * 2999 + "e", "s1"),  # 3000 tokens, shard e: independent shard
        (4, "d " * 199 + "d", "s2"),   # 200 tokens, own source partition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["part"], r["shard"], r["seq_id"]): r
        for r in pack_sequences(df).collect()
    }
    assert got[("s1", "c", 0)]["n_docs"] == 2  # 1200 + 1000 (doc 2 STARTS inside budget)
    assert got[("s1", "c", 0)]["n_tokens"] == 2200
    assert got[("s1", "c", 1)]["first_doc"] == 8
    # doc 3 packs in its own shard, unaffected by shard c's running sum
    assert got[("s1", "e", 0)]["first_doc"] == 3
    assert got[("s1", "e", 0)]["n_tokens"] == 3000
    assert got[("s2", "a", 0)]["n_tokens"] == 200
    assert got[("s1", "c", 0)]["fill_ratio"] == round(2200 / 2048, 6)


def test_gopher_filter_decision(spark):
    from reading_the_unreadable_spark.operators.quality import gopher_filter

    rows = [
        ("clean", "a normal line of proper text\nanother fine line of words"),
        ("repetitive", "same line again\nsame line again\nsame line again"),
        ("tiny_words", "a b c d e f g h i j"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r["kept"] for r in gopher_filter(df).collect()}
    assert got == {"clean": 1, "repetitive": 0, "tiny_words": 0}


def test_redact_pii(spark):
    from reading_the_unreadable_spark.operators.quality import redact_pii

    rows = [
        (
            "d",
            "reach bob@example.com or +1 555-123-4567, server 10.0.0.1, "
            "docs at https://example.com/a?b=c end",
        ),
        ("clean", "nothing sensitive in here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    d = got["d"]
    assert d["text"] == (
        "reach <EMAIL> or +1 <PHONE>, server <IP>, docs at <URL> end"
    )
    assert (d["n_email"], d["n_phone"], d["n_ip"], d["n_url"]) == (1, 1, 1, 1)
    c = got["clean"]
    assert c["text"] == rows[1][1]
    assert (c["n_email"], c["n_phone"], c["n_ip"], c["n_url"]) == (0, 0, 0, 0)


def test_c4_is_pure_map_stage(spark):
    """Pure map ops: the only exchange allowed is the conditional
    round-robin rebalance of an under-split input (non-file test
    frames get balanced; well-split tables see a no-op — the plan
    suite asserts that case)."""
    import re as _re

    df = spark.createDataFrame([("d", "x.")], "doc_id string, text string")
    for op in (c4_line_filters, gopher_repetition_signals):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, op.__name__
        assert len(_re.findall(r"Exchange round", plan)) <= 1, op.__name__


def test_contamination_flags(spark):
    """Decontamination: docs sharing an 8-gram with the benchmark flag
    with the exact distinct-overlap count; short docs (<8 words) and
    non-overlapping docs stay clean; the benchmark side broadcasts."""
    from reading_the_unreadable_spark.operators.quality import (
        contamination_flags,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about snow and mountains today"),
            (3, "we saw the quick brown fox jumps over the lazy dog again"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out = contamination_flags(docs, bench)
    got = {r["doc_id"]: (r["n_overlaps"], r["contaminated"]) for r in out.collect()}
    assert got == {1: (2, True), 2: (0, False), 3: (2, True), 4: (0, False)}

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan[:1500]
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, plan[:1500]


def test_ccnet_buckets_equal_terciles(spark):
    """CCNet bucketing: per-language equal-count head/middle/tail (the
    remainder goes to the earlier buckets, SQL ntile semantics) and a
    deterministic assignment under the (score, doc_id) tiebreak."""
    import os

    from pyspark.sql import functions as F

    from reading_the_unreadable_spark.operators.quality import ccnet_buckets

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    d = spark.read.parquet(f"{sf}/documents.parquet")
    out = ccnet_buckets(d)
    counts = {
        (r["lang"], r["bucket"]): r["n"]
        for r in out.groupBy("lang", "bucket").agg(
            F.count("*").alias("n")
        ).collect()
    }
    langs = {k[0] for k in counts}
    for lang in langs:
        h, m, t = (counts.get((lang, b), 0) for b in ("head", "middle", "tail"))
        assert h >= m >= t and h - t <= 1, (lang, h, m, t)
    # deterministic: a second run assigns identical buckets
    a = {r["doc_id"]: r["bucket"] for r in out.collect()}
    b = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(d).collect()}
    assert a == b


def test_dsir_weights_favor_target_like_docs(spark):
    from reading_the_unreadable_spark.operators.quality import dsir_weights

    rows = [
        (1, "en", "alpha beta alpha beta alpha beta"),
        (2, "en", "alpha beta gamma alpha beta gamma"),
        (3, "fr", "alpha beta alpha beta alpha beta"),  # looks like target
        (4, "fr", "zeta eta theta zeta eta theta"),     # does not
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in dsir_weights(df).collect()}
    assert len(got) == 4
    # doc 3 shares the target's gram profile, doc 4 doesn't
    assert got[3]["log_weight"] > got[4]["log_weight"]
    # unigrams + bigrams: n tokens → 2n-1 grams
    assert got[1]["n_grams"] == 11
    # deterministic across runs
    again = {r["doc_id"]: r for r in dsir_weights(df).collect()}
    assert {k: v["log_weight"] for k, v in got.items()} == {
        k: v["log_weight"] for k, v in again.items()
    }


def test_dsir_weights_no_target_raises(spark):
    import pytest as _pytest

    from reading_the_unreadable_spark.operators.quality import dsir_weights

    df = spark.createDataFrame(
        [(1, "fr", "a b")], "doc_id long, lang string, text string"
    )
    with _pytest.raises(ValueError, match="target"):
        dsir_weights(df)


def test_dsir_sample_is_gumbel_top_k(spark):
    from pyspark.sql import functions as F

    from reading_the_unreadable_spark.operators.quality import (
        dsir_sample,
        dsir_weights,
    )

    rows = [
        (i, "en" if i % 2 == 0 else "de", f"tok{i % 5} tok{i % 3} tok{i % 7}")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = dsir_sample(df).collect()
    assert len(got) == 100  # DSIR_SAMPLE
    keys = [r["gumbel_key"] for r in got]
    assert keys == sorted(keys, reverse=True)
    # the perturbed key never loses the weight signal entirely: the
    # selection must differ from plain top-k by weight (gumbel active)
    plain = [
        r["doc_id"]
        for r in dsir_weights(df)
        .orderBy(F.col("log_weight").desc(), "doc_id")
        .limit(100)
        .collect()
    ]
    assert {r["doc_id"] for r in got} != set(plain)


def test_kneser_ney_matches_python_reference(spark):
    """Interpolated-KN bigram score vs an independent plain-Python
    implementation of the textbook formula (Chen & Goodman 1998) on a
    small corpus with repeated and unique bigrams."""
    import math
    from collections import Counter

    from reading_the_unreadable_spark.operators.quality import (
        kneser_ney_logprob,
    )

    texts = {
        "a": "the cat sat on the mat",
        "b": "the dog sat on the rug",
        "c": "a cat and a dog",
        "d": "one",  # single token: no bigrams, no output row
    }
    D = 0.75
    bigrams = []
    for t in texts.values():
        w = t.split()
        bigrams += list(zip(w, w[1:]))
    c_ab = Counter(bigrams)
    c_a = Counter(a for a, _ in bigrams)
    n1p_fwd = Counter(a for a, _ in set(c_ab))
    n1p_rev = Counter(b for _, b in set(c_ab))
    T = len(c_ab)

    def kn(a, b):
        return max(c_ab[(a, b)] - D, 0) / c_a[a] + (
            D * n1p_fwd[a] / c_a[a]
        ) * (n1p_rev[b] / T)

    expected = {}
    for doc, t in texts.items():
        w = t.split()
        lps = [math.log(kn(a, b)) for a, b in zip(w, w[1:])]
        if lps:
            expected[doc] = (round(sum(lps) / len(lps), 4), len(lps))

    df = spark.createDataFrame(
        list(texts.items()), "doc_id string, text string"
    )
    got = {
        r["doc_id"]: (r["avg_kn_logprob"], r["n_bigrams"])
        for r in kneser_ney_logprob(df).collect()
    }
    assert got == expected
    assert "d" not in got


def test_dataset_split_deterministic_and_total(spark):
    """Hash split: every doc lands in exactly one split, assignment is
    run-stable, and fractions are honored in expectation."""
    from reading_the_unreadable_spark.operators.quality import dataset_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {tuple(r) for r in dataset_split(docs).collect()}
    b = {tuple(r) for r in dataset_split(docs).collect()}
    assert a == b  # deterministic
    total = sum(r[2] for r in a)
    assert total == docs.count()  # partition of the corpus
    by_split = {}
    for _, split, n, _ in a:
        by_split[split] = by_split.get(split, 0) + n
    assert set(by_split) <= {"train", "val", "test"}
    assert by_split["train"] / total > 0.8  # 0.9 nominal


def test_source_overlap_hand_computed(spark):
    """Two sources sharing one 8-token run, a third sharing nothing."""
    from reading_the_unreadable_spark.operators.quality import source_overlap

    df = spark.createDataFrame(
        [
            (1, "s1", "the quick brown fox jumps over the lazy dog"),
            (2, "s2", "a the quick brown fox jumps over the lazy cat"),
            (3, "s3", "completely different words here and there and everywhere"),
        ],
        "doc_id long, source string, text string",
    )
    rows = source_overlap(df).collect()
    assert [(r["source_a"], r["source_b"], r["n_shared_shingles"]) for r in rows] == [
        ("s1", "s2", 1)  # only 'the quick brown fox jumps over the lazy'
    ]


def test_zipf_fit_matches_numpy_polyfit(spark):
    import numpy as np

    from reading_the_unreadable_spark.operators.textstats import zipf_fit

    # frequencies 8,4,2,1 by construction
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_fit(df).collect()[0]
    assert r["n_types_fitted"] == 4 and r["n_tokens_fitted"] == 15
    x = np.log(np.arange(1, 5, dtype=float))
    y = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    slope, intercept = np.polyfit(x, y, 1)
    assert r["zipf_slope"] == round(float(slope), 4)
    assert r["zipf_intercept"] == round(float(intercept), 4)
    assert 0.9 < r["r2"] <= 1.0


def test_ngram_novelty_hand_computed(spark):
    """Doc 1 owns all its shingles; doc 2 repeats doc 1 verbatim plus
    one new tail shingle; doc 3 is too short to emit."""
    from reading_the_unreadable_spark.operators.quality import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),
            (2, "a b c d e f g h i j"),  # 'a … h' & 'b … i' seen; 'c … j' novel
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in ngram_novelty(df).collect()
    }
    assert got == {1: (2, 2, 1.0), 2: (3, 1, round(1 / 3, 4))}


def test_cross_split_leakage_bounds(spark):
    """Rates are in [0,1]; totals match the hash split; a corpus where
    every doc is unique text still yields sane rows for val+test."""
    from reading_the_unreadable_spark.operators.quality import (
        cross_split_leakage,
        dataset_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = {r["split"]: r for r in cross_split_leakage(docs).collect()}
    assert set(rows) == {"val", "test"}
    split_docs = {
        (r["source"], r["split"]): r["n_docs"]
        for r in dataset_split(docs).collect()
    }
    for split, r in rows.items():
        expected = sum(v for (s, sp), v in split_docs.items() if sp == split)
        assert r["n_docs"] == expected
        assert 0 <= r["n_contaminated"] <= r["n_docs"]
        assert 0.0 <= r["contamination_rate"] <= 1.0


def test_curriculum_rank_contiguous_and_ordered(spark):
    """Global rank is 0..N-1 contiguous and follows the (score, id)
    total order — including duplicate scores — regardless of how the
    range boundaries fell."""
    from pyspark.sql import functions as F

    from reading_the_unreadable_spark.operators.quality import (
        curriculum_rank,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = docs.select(
        "doc_id", (F.length("text") % 7).cast("long").alias("score")
    )  # heavy ties
    rows = curriculum_rank(scored, "score").orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    keys = [(r["score"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_blocklist_filter_word_boundaries(spark):
    from reading_the_unreadable_spark.operators.quality import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "a SLOW, filter here"),      # case + punct boundary hit
            (2, "slowly is not slow-ness"),  # substrings must NOT hit;
                                             # but "slow-ness" normalizes
                                             # to "slow ness" -> hit
            (3, "a slow scan end to end"),   # word AND phrase hit
            (4, "clean document"),           # no hit
            (5, None),                       # null text survives
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in blocklist_filter(df, ("slow", "slow scan")).collect()
    }
    assert rows[1]["hit_terms"] == "slow" and rows[1]["kept"] == 0
    assert rows[2]["hit_terms"] == "slow" and rows[2]["n_hits"] == 1
    assert rows[3]["hit_terms"] == "slow,slow scan" and rows[3]["n_hits"] == 2
    assert rows[4]["kept"] == 1 and rows[4]["hit_terms"] == ""
    assert rows[5]["kept"] == 1


def test_dedup_lines_within_doc_and_boilerplate(spark):
    from reading_the_unreadable_spark.operators.quality import dedup_lines

    boiler = "Share on Facebook share on Twitter"
    rows = [
        # within-doc repeat of "alpha body" + boilerplate, empty line kept
        ("doc-a", f"alpha body\n{boiler}\n\nalpha body\nalpha tail"),
        # boilerplate twice, case/whitespace variant normalizes to same fp
        ("doc-b", f"SHARE ON FACEBOOK  share on twitter\nbeta body\n{boiler}"),
        ("doc-c", f"gamma body\n{boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    # boiler appears in 3 distinct docs -> dropped from every doc,
    # including the first one that carried it
    assert got["doc-a"]["text"] == "alpha body\n\nalpha tail"
    assert got["doc-a"]["n_lines_total"] == 5
    assert got["doc-a"]["n_dropped_within"] == 1
    assert got["doc-a"]["n_dropped_boiler"] == 1
    # both boiler copies in doc-b count as boiler (not within-doc repeat)
    assert got["doc-b"]["text"] == "beta body"
    assert got["doc-b"]["n_dropped_boiler"] == 2
    assert got["doc-b"]["n_dropped_within"] == 0
    assert got["doc-c"]["text"] == "gamma body"


def test_dedup_lines_below_threshold_kept(spark):
    from reading_the_unreadable_spark.operators.quality import dedup_lines

    rows = [
        ("doc-a", "shared line\nunique a"),
        ("doc-b", "shared line\nunique b"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    # df=2 < 3: the shared line is NOT boilerplate, kept in both docs
    assert got["doc-a"]["text"] == "shared line\nunique a"
    assert got["doc-b"]["text"] == "shared line\nunique b"
    assert got["doc-a"]["n_dropped_boiler"] == 0


def test_dedup_lines_empty_lines_never_collide(spark):
    from reading_the_unreadable_spark.operators.quality import dedup_lines

    df = spark.createDataFrame(
        [("doc-a", "x\n\n\ny"), ("doc-b", "\n\nz"), ("doc-c", "\nw")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    # blank lines normalize to empty -> null fp -> never duplicates,
    # within-doc or corpus-wide
    assert got["doc-a"]["text"] == "x\n\n\ny"
    assert got["doc-b"]["text"] == "\n\nz"
    assert got["doc-a"]["n_dropped_within"] == 0
    assert got["doc-b"]["n_dropped_boiler"] == 0


def test_redact_credit_cards_luhn_gate(spark):
    from reading_the_unreadable_spark.operators.quality import (
        redact_credit_cards,
    )

    rows = [
        # valid Visa (grouped) redacts; Luhn-failing run stays
        ("a", "pay 4111 1111 1111 1111 not 4111111111111112 ok"),
        # dash-grouped Discover and ungrouped 15-digit Amex both redact
        ("b", "x 6011-0009-9013-9424 y 340000000000009 z"),
        # 10-digit phone-shaped run is below the 13-digit floor
        ("c", "call 555-123-4567 now"),
        ("d", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in redact_credit_cards(df).collect()}
    assert got["a"]["text"] == "pay <CC> not 4111111111111112 ok"
    assert got["a"]["n_candidates"] == 2 and got["a"]["n_valid"] == 1
    assert got["b"]["text"] == "x <CC> y <CC> z"
    assert got["b"]["n_valid"] == 2
    assert got["c"]["text"] == "call 555-123-4567 now"
    assert got["c"]["n_candidates"] == 0
    assert got["d"]["text"] == "" and got["d"]["n_candidates"] == 0


def test_blocklist_join_parity_with_literal_path(spark):
    """The broadcast-join scale path must produce exactly the
    literal+HOF path's frame on the same corpus and term list."""
    from reading_the_unreadable_spark.operators.quality import (
        blocklist_filter,
        blocklist_join,
    )

    terms = ("slow", "slow scan", "stale", "broken index")
    rows = [
        ("a", "the slow scan was slow and Slow-Scan again"),
        ("b", "everything fine here"),
        ("c", "STALE! broken index ahead"),
        ("d", ""),
        ("e", None),
        ("f", "scan slow"),  # reversed order: unigram hits, phrase not
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    dim = spark.createDataFrame(
        list(enumerate(terms)), "term_idx long, term string"
    )
    lit_rows = {r["doc_id"]: r.asDict() for r in blocklist_filter(df, terms).collect()}
    join_rows = {r["doc_id"]: r.asDict() for r in blocklist_join(df, dim).collect()}
    assert lit_rows == join_rows
    assert lit_rows["a"]["hit_terms"] == "slow,slow scan"
    assert join_rows["f"]["hit_terms"] == "slow" and join_rows["f"]["kept"] == 0


def test_dedup_lines_host_scoped_verdict(spark):
    """scope_col narrows the df verdict: a line in 4 docs corpus-wide
    but max 2 per host survives with scope_col='host', drops without."""
    from reading_the_unreadable_spark.operators.quality import dedup_lines

    rows = [
        ("a1", "h1", "global line\nbody a1\ntpl one"),
        ("a2", "h1", "global line\nbody a2\ntpl one"),
        ("a3", "h1", "body a3\ntpl one"),
        ("b1", "h2", "global line\nbody b1"),
        ("b2", "h2", "global line\nbody b2"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, host string, text string")
    scoped = {r["doc_id"]: r for r in dedup_lines(df, scope_col="host").collect()}
    # "global line": df=4 corpus-wide, but 2 per host -> kept everywhere
    assert scoped["a1"]["text"] == "global line\nbody a1"
    assert scoped["b1"]["text"] == "global line\nbody b1"
    # "tpl one": 3 distinct docs on h1 -> host template, dropped
    assert scoped["a3"]["text"] == "body a3"
    assert scoped["a1"]["n_dropped_boiler"] == 1
    unscoped = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    # global verdict drops "global line" (df=4 >= 3)
    assert unscoped["a1"]["text"] == "body a1"
    assert unscoped["b1"]["text"] == "body b1"


def test_corpus_drift_properties(spark):
    """JSD: identical snapshots -> 0; disjoint snapshots -> 1e9 nano
    (1.0 bit); only consecutive sid pairs appear."""
    from reading_the_unreadable_spark.operators.textstats import corpus_drift

    rows = [
        (0, "a b a"), (1, "a b a"),       # sid 0 == sid 1
        (2, "x y z"),                      # sid 2 disjoint from sid 1
        (4, "p q"),                        # sid 4: no sid 3 -> no pair
    ]
    df = spark.createDataFrame(rows, "sid int, text string")
    got = {(r["sid_from"], r["sid_to"]): r for r in corpus_drift(df).collect()}
    assert set(got) == {(0, 1), (1, 2)}
    assert got[(0, 1)]["jsd_nano"] == 0
    # per-token quantization is ±0.5 nano: 5 union tokens -> ±3
    assert abs(got[(1, 2)]["jsd_nano"] - 10**9) <= 3
    assert got[(1, 2)]["n_union_tokens"] == 5
    assert got[(0, 1)]["total_from"] == 3 and got[(0, 1)]["total_to"] == 3


def test_text_tiling_boundary_rule(spark):
    """cosine²<0.25 between adjacent blocks cuts: identical blocks
    never, disjoint always; single-block docs have one segment."""
    from reading_the_unreadable_spark.operators.textstats import text_tiling

    rows = [
        ("a", "a a b b"),          # blocks [a a][b b]: sim 0 -> boundary
        ("b", "a b a b"),          # blocks [a b][a b]: sim 1 -> none
        ("c", "x y"),              # one block (w=2): no gaps
        ("d", "a a a b b b"),      # [a a][a b][b b]: sims 0.5 -> cut both
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in text_tiling(df, block_tokens=2).collect()}
    assert got["a"]["boundaries"] == "1" and got["a"]["n_segments"] == 2
    assert got["a"]["gap_sims_ppb"] == "0"
    assert got["b"]["boundaries"] == "" and got["b"]["n_segments"] == 1
    assert got["b"]["gap_sims_ppb"] == "1000000000"
    assert got["c"]["n_blocks"] == 1 and got["c"]["n_segments"] == 1
    assert got["c"]["gap_sims_ppb"] == ""
    # [a a] vs [a b]: dot=2, ssl=4, ssr=2 -> sim2 = 4/8 = 0.5 -> 4*4 >= 8? 16>=8 no boundary
    assert got["d"]["gap_sims_ppb"] == "500000000,500000000"
    assert got["d"]["boundaries"] == "" and got["d"]["n_segments"] == 1


def test_charclass_stats(spark):
    from reading_the_unreadable_spark.operators.textstats import (
        charclass_stats,
    )

    rows = [
        ("a", "abc 12!"),          # 3 alpha, 2 digit, 1 space, 1 punct
        ("b", "1234567890"),       # digit flood -> suspicious
        ("c", "héllo wörld"),      # non-ascii letters count as other
        ("d", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in charclass_stats(df).collect()}
    a = got["a"]
    assert (a["n_alpha"], a["n_digit"], a["n_space"], a["n_punct"]) == (3, 2, 1, 1)
    assert a["n_other"] == 0 and a["suspicious"] == 0
    assert got["b"]["digit_frac"] == 1.0 and got["b"]["suspicious"] == 1
    c = got["c"]
    assert c["n_other"] == 2 and c["n_alpha"] == 8
    assert c["suspicious"] == 1  # 2/11 > 0.1
    assert got["d"]["n_chars_seen"] == 0 and got["d"]["suspicious"] == 0


def test_text_tiling_arrow_equals_hof_spec(spark):
    """The fused Arrow operator is byte-identical to the declarative
    HOF spec: edge cases (empty string, repeated spaces,
    exact-multiple lengths, null text, repeated tokens) plus a slice
    of the real sf0.001 corpus, plus block_tokens=180 — the int64
    exactness ceiling where the ppb value's long→double cast actually
    rounds, so IEEE-754 parity is exercised, not just small-int
    arithmetic."""
    import pyspark.sql.functions as F
    from operator_specs import text_tiling_hof

    from reading_the_unreadable_spark.operators.textstats import text_tiling

    rows = [
        ("a", "a a b b c"),
        ("b", ""),
        ("c", "x  y   z"),        # empty tokens kept by split
        ("d", "t " * 39 + "t"),   # 40 tokens, exact multiple of w=4
        ("e", None),
        ("f", " ".join(f"w{i % 7}" for i in range(97))),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    def canon(out):
        return sorted(tuple(r) for r in out.collect())

    for w in (1, 2, 4):
        assert canon(text_tiling(df, w)) == canon(text_tiling_hof(df, w)), w

    # double-rounding parity at the 180 cap (w^4 * 1e9 > 2^53)
    big = spark.createDataFrame(
        [("g", " ".join(f"t{i % 11}" for i in range(400)))],
        "doc_id string, text string",
    )
    assert canon(text_tiling(big, 180)) == canon(text_tiling_hof(big, 180))

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .limit(200)
    )
    assert canon(text_tiling(docs, 10)) == canon(text_tiling_hof(docs, 10))


def test_text_tiling_block_size_bound(spark):
    import pytest

    from reading_the_unreadable_spark.operators.textstats import text_tiling

    df = spark.createDataFrame([("a", "x y")], "doc_id string, text string")
    with pytest.raises(ValueError):
        text_tiling(df, block_tokens=181)
    with pytest.raises(ValueError):
        text_tiling(df, block_tokens=0)


def test_pack_interleaved_cost_model_and_atomicity(spark):
    """Media spans cost the fixed patch budget, text spans their word
    count; docs pack atomically (an oversized doc still lands in
    exactly one sequence); total cost is conserved."""
    import pyspark.sql.functions as F

    from reading_the_unreadable_spark.operators.quality import pack_interleaved

    rows = []
    for doc in range(40):
        rows.append((doc, "title", "a b c", None, 0))            # 3 tokens
        rows.append((doc, "text", " ".join(["w"] * 10), None, 1))  # 10 tokens
        if doc % 4 == 0:
            rows.append((doc, "figure", "", f"img://{doc}", 2))  # media
    spans = spark.createDataFrame(
        rows, "doc_id long, kind string, text string, media_ref string, order int"
    )
    out = pack_interleaved(spans).collect()

    # cost conservation: 40 docs x 13 text tokens + 10 figures x 32
    assert sum(r["total_cost"] for r in out) == 40 * 13 + 10 * 32
    assert sum(r["n_docs"] for r in out) == 40
    assert sum(r["n_media_spans"] for r in out) == 10
    # doc-atomic: every (shard, seq) holds >= 1 whole doc, and within a
    # shard the doc ranges of consecutive sequences never overlap
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for seqs in by_shard.values():
        seqs.sort(key=lambda r: r["seq_id"])
        for a, b in zip(seqs, seqs[1:]):
            assert a["last_doc"] < b["first_doc"]

    # an oversized doc (cost > budget) still forms/joins exactly one seq
    big = spark.createDataFrame(
        [(1, "text", " ".join(["w"] * 200), None, 0)],
        "doc_id long, kind string, text string, media_ref string, order int",
    )
    bout = pack_interleaved(big).collect()
    assert len(bout) == 1 and bout[0]["n_docs"] == 1 and bout[0]["total_cost"] == 200
