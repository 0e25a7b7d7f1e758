"""Unit tests: the OCR post-correction functions against literal expected
strings (FIXTURES.md §3 case families)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from reading_the_unreadable_spark.functions.text import (
    is_title,
    knit_string_list,
    knit_strings,
    normalize_text,
    strip_fences,
)

NORMALIZE_CASES = [
    ("unread-\nable", "unreadable"),
    ("one\ntwo", "one two"),
    ("para one\n\npara two", "para one\n\npara two"),
    ("para one\n\n\n\npara two", "para one\n\npara two"),
    ("a  b   c", "a b c"),
    ("  padded  ", "padded"),
    ("ﬁne ﬂour aﬀair ſociety diﬃcult", "fine flour affair society difficult"),
    ("mix-\nup\n\nnext\nline", "mixup\n\nnext line"),
    ("", ""),
    ("tail-\n", "tail"),
    # Unicode whitespace (NBSP / thin space — common OCR artifacts) is
    # stripped like str.strip()
    ("\u00a0 nbsp padded \u00a0", "nbsp padded"),
    ("\u2009thin\u3000", "thin"),
]

TITLE_CASES = [
    ("LONDON NEWS", True),
    ("THE GREAT EXHIBITION", True),
    ("BRT KLM", False),  # no 2 vowels
    ("AEIO", False),  # <5 letters
    ("London News", False),
    ("LONDON news", False),
    ("1850 REPORT OF TRADE", True),
    ("", False),
]

FENCE_CASES = [
    ("```tsv\na\tb\n1\t2\n```", "a\tb\n1\t2"),
    ("```\nx\ty\n```", "x\ty"),
    ("no fences", "no fences"),
    ("```tsv\nhas tsv inside\n```", "has tsv inside"),  # first occurrence only
]


@pytest.mark.parametrize("raw,expected", NORMALIZE_CASES)
def test_normalize_pd(raw, expected):
    assert normalize_text(raw) == expected


@pytest.mark.parametrize("raw,expected", TITLE_CASES)
def test_is_title_pd(raw, expected):
    assert is_title(raw) is expected


@pytest.mark.parametrize("raw,expected", FENCE_CASES)
def test_strip_fences_pd(raw, expected):
    assert strip_fences(raw) == expected


def test_knit():
    assert knit_strings("the quick brown fox", "brown fox jumps over") == (
        "the quick brown fox jumps over"
    )
    assert knit_strings("", "abc") == "abc"
    assert knit_strings("abc", "") == "abc"
    # no common substring → direct concatenation, byte-identical to the
    # reference's no-match branch (send_to_lm_functions.py:146-155)
    assert knit_strings("abc", "xyz") == "abcxyz"
    assert (
        knit_string_list(["one two three", "two three four", "three four five"])
        == "one two three four five"
    )
    # pinned reference example (send_to_lm_functions.py docstring contract)
    assert (
        knit_string_list(["Hello world", "world of Python", "Python is great"])
        == "Hello world of Python is great"
    )


def test_bpe_train_matches_scalar_reference(spark):
    """Distributed BPE training == a pure-python transcription of the
    same greedy algorithm (word-freq weighting, (count DESC, pair ASC)
    tie-break, left-to-right non-overlapping merge application)."""
    from collections import Counter

    from reading_the_unreadable_spark.operators.textstats import bpe_train

    texts = [
        "low lower lowest low low newer new",
        "wider wide new newer abab abab",
        "aaaa aaaa aa",  # repeated-pair runs exercise greedy semantics
    ]

    def ref(texts, n):
        wf = Counter(w for t in texts for w in t.split(" ") if w)
        vocab = Counter()
        for w, f in wf.items():
            vocab[" ".join(list(w)) + " </w>"] += f
        rules = []
        for rank in range(n):
            pc = Counter()
            for syms, f in vocab.items():
                t = syms.split(" ")
                for i in range(len(t) - 1):
                    pc[f"{t[i]} {t[i + 1]}"] += f
            if not pc:
                break
            pair, c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            a, b = pair.split(" ", 1)
            rules.append((rank, pair, a + b, c))
            nv = Counter()
            for syms, f in vocab.items():
                out, prev = [], None
                for tok in syms.split(" "):
                    if prev is None:
                        prev = tok
                    elif prev == a and tok == b:
                        out.append(a + b)
                        prev = None
                    else:
                        out.append(prev)
                        prev = tok
                if prev is not None:
                    out.append(prev)
                nv[" ".join(out)] += f
            vocab = nv
        return rules

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["pair"], r["merged"], r["pair_count"])
        for r in bpe_train(df).collect()
    ]
    assert got == ref(texts, 5)  # BPE_MERGES


def test_bpe_encode_applies_learned_rules(spark):
    from reading_the_unreadable_spark.operators.textstats import (
        bpe_encode,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(1, "low lower low"), (2, "newer new lowest")],
        "doc_id long, text string",
    )
    rules = bpe_train(df).collect()
    merges = [tuple(r["pair"].split(" ", 1)) for r in rules]
    got = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert got[1]["n_words"] == 3
    # every word ends with its </w> marker and merges were applied:
    # with rules learned from this corpus, "low" collapses to few tokens
    toks1 = got[1]["bpe_text"].split(" ")
    assert toks1.count("</w>") + sum(
        1 for t in toks1 if t.endswith("</w>")
    ) >= 3  # one word boundary per word survives
    assert got[1]["n_bpe_tokens"] == len(toks1)
    # tokens reassemble to the original characters
    joined = "".join(got[1]["bpe_text"].split(" "))
    assert joined == "low</w>lower</w>low</w>"


def test_pmi_collocations_hand_computed(spark):
    import math

    from reading_the_unreadable_spark.operators.textstats import (
        pmi_collocations,
    )

    # "x y" always adjacent (5x, at PMI_MIN_COUNT); every other bigram
    # occurs at most 3x; fillers break adjacency
    df = spark.createDataFrame(
        [(1, "x y q a b q x y q x y"), (2, "x y q b a q x y")],
        "doc_id long, text string",
    )
    rows = pmi_collocations(df).collect()
    assert [(r["prev"], r["cur"]) for r in rows] == [("x", "y")]
    r = rows[0]
    # bigram stream: doc1 has 10, doc2 has 7 -> N=17; c_xy=5
    # left marginal c_x = 5 (x always precedes y); right c_y = 5
    assert r["c_ab"] == 5
    assert r["pmi"] == round(math.log(5 * 1.0 * 17 / (5 * 1.0 * 5)), 4)


def test_length_quantiles_hand_computed(spark):
    """Lower-rank convention on a known distribution: lengths
    1..10 once each → p50 = 5, p90 = 9, p99 = 10."""
    from reading_the_unreadable_spark.operators.textstats import (
        length_quantiles,
    )

    rows = [(i, "s", " ".join(["w"] * i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    r = length_quantiles(df).collect()[0]
    assert (r["n_docs"], r["p50"], r["p90"], r["p99"]) == (10, 5, 9, 10)


def test_chunk_overlap_invariants(spark):
    """Every token position is covered by at least one chunk; chunk 0
    starts at token 0; consecutive chunks overlap by exactly
    size−stride tokens (except a shorter final chunk); a doc shorter
    than size yields itself as its single chunk."""
    from reading_the_unreadable_spark.operators.textstats import (
        chunk_overlap,
    )

    # CHUNK_TOKENS = 40 every CHUNK_STRIDE = 30
    rows = [
        (1, " ".join(f"t{i}" for i in range(103))),
        (2, " ".join(f"u{i}" for i in range(35))),
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in chunk_overlap(df).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["text"].split(" "))
        )
    for doc_id, text in rows:
        toks = text.split(" ")
        chunks = [t for _, t in sorted(out[doc_id])]
        # coverage: the union of chunk tokens in order == original
        seen = set()
        for ci, ch in enumerate(chunks):
            start = ci * 30
            assert ch == toks[start : start + 40], (doc_id, ci)
            seen.update(range(start, start + len(ch)))
        assert seen == set(range(len(toks))), doc_id
    assert len(out[2]) == 1 and len(out[3]) == 1  # short docs: one chunk


def test_nfc_twins_and_invisible_strip(spark):
    """nfc_col / nfc_pd are byte-identical twins, strip_invisible_col
    drops exactly the INVISIBLES characters, and CPython's NFC agrees
    with DuckDB's nfc_normalize (two independent implementations of
    UAX #15)."""
    import duckdb

    from reading_the_unreadable_spark.functions.text import (
        INVISIBLES,
        nfc_col,
        nfc_pd,
        strip_invisible_col,
    )

    cases = [
        "café",            # decomposed acute
        "Å",               # decomposed ring
        "café",             # already composed (idempotence)
        "ö́ stack",   # multiple combining marks
        "​zero‌width‍ run﻿",
        "plain ascii",
        "가가 hangul mix",
    ]
    pdf = pd.Series(cases)
    clean_pd = pdf.str.replace(f"[{INVISIBLES}]", "", regex=True)
    nfc_series = nfc_pd(clean_pd)
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, s string")
    got = (
        df.select("i", nfc_col(strip_invisible_col(F.col("s"))).alias("n"))
        .orderBy("i")
        .collect()
    )
    for row, want in zip(got, nfc_series):
        assert row["n"] == want, (row["i"], row["n"].encode(), want.encode())
    con = duckdb.connect()
    for want in nfc_series:
        duck = con.execute("select nfc_normalize(?)", [want]).fetchone()[0]
        assert duck == want


def test_nfc_property_random_combining(spark):
    """Hypothesis: on arbitrary mixes of base chars and combining marks,
    the Spark UDF path equals unicodedata.normalize directly."""
    import unicodedata

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from reading_the_unreadable_spark.functions.text import nfc_pd

    marks = st.sampled_from(["́", "̀", "̈", "̊", ""])
    bases = st.sampled_from(list("aeounAEOUN") + ["é", "Å"])
    chunk = st.tuples(bases, marks).map(lambda t: t[0] + t[1])

    @settings(max_examples=150, deadline=None)
    @given(st.lists(chunk, min_size=0, max_size=12).map("".join))
    def check(s):
        assert nfc_pd(pd.Series([s]))[0] == unicodedata.normalize("NFC", s)

    check()


def test_sentence_split_guards(spark):
    from pyspark.sql import functions as F

    from reading_the_unreadable_spark.operators.textstats import sentences_col

    cases = [
        # every guard in one paragraph
        (
            "Dr. Who met Mrs. Smith. Pay $2.50 now! Was fig. 3 right? "
            "U.S. law agrees e.g. here.",
            [
                "Dr. Who met Mrs. Smith.",
                "Pay $2.50 now!",
                "Was fig. 3 right?",
                "U.S. law agrees e.g. here.",
            ],
        ),
        # single-capital initials never split
        ("J. R. R. Tolkien wrote. Then slept.", ["J. R. R. Tolkien wrote.", "Then slept."]),
        # no terminator -> whole text is one sentence
        ("no terminator here", ["no terminator here"]),
        # empty and terminator-only input
        ("", []),
        ("...", ["..."]),
        # documented limitation: sentence ending IN an abbreviation word
        ("the answer is no. Next sentence.", ["the answer is no. Next sentence."]),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = [r["s"] for r in df.select(sentences_col(F.col("text")).alias("s")).collect()]
    for (src, want), have in zip(cases, got):
        assert have == want, src
