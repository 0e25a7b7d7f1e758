"""Coverage raster + CER operators vs hand-computed expectations."""

from __future__ import annotations

from operator_specs import cer, cer_summary
from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.metrics import cer_spans, page_coverage


def test_coverage_simple(spark):
    # page: two 40x40 boxes side by side + one overlapping both
    rows = [
        ("d1", 0.0, 0.0, 40.0, 40.0),
        ("d1", 40.0, 0.0, 80.0, 40.0),
        ("d1", 20.0, 0.0, 60.0, 40.0),
        # d2: one box only, full coverage, zero overlap
        ("d2", 0.0, 0.0, 40.0, 40.0),
    ]
    df = spark.createDataFrame(rows, "doc_id string, x1 double, y1 double, x2 double, y2 double")
    got = {r["doc_id"]: r for r in page_coverage(df).collect()}
    assert got["d1"]["covered_frac"] == 1.0
    assert abs(got["d1"]["overlap_frac"] - 0.5) < 1e-6  # middle box doubles 40/80
    assert got["d2"]["covered_frac"] == 1.0
    assert got["d2"]["overlap_frac"] == 0.0
    assert got["d1"]["n_boxes"] == 3


def test_cer(spark):
    preds = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", "hello wxrld")],
        "doc_id string, text string",
    )
    gt = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", "hello world")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in cer(preds, gt).collect()}
    assert got["a"]["cer"] == 0.0
    assert abs(got["b"]["cer"] - 1 / 11) < 1e-6
    s = cer_summary(cer(preds, gt)).first()
    assert s["n_docs"] == 2
    assert s["median_cer"] < 0.05
    # one span per doc: the span-grain operator equals the whole-doc spec
    one_span = lambda df: df.withColumn("span_idx", F.lit(0))  # noqa: E731
    spans = {r["doc_id"]: r for r in cer_spans(one_span(preds), one_span(gt)).collect()}
    assert {d: (r["cer"], r["gt_len"]) for d, r in spans.items()} == {
        d: (r["cer"], r["gt_len"]) for d, r in got.items()
    }


def test_cer_spans_missing_prediction_counts_as_deletion(spark):
    """Span-grain CER: a ground-truth span the system never produced is
    charged its full length, not silently excluded."""
    gt = spark.createDataFrame(
        [("a", 0, "hello world"), ("a", 1, "gone span")],
        "doc_id string, span_idx int, text string",
    )
    pred = spark.createDataFrame(
        [("a", 0, "hello wxrld")],  # span 1 missing entirely
        "doc_id string, span_idx int, text string",
    )
    got = cer_spans(pred, gt).first()
    # lev: 1 (substitution) + 9 (full deletion of 'gone span'); len 11+9
    assert got["gt_len"] == 20
    assert abs(got["cer"] - 10 / 20) < 1e-9
    # hallucinated prediction-only spans are charged as insertions
    pred2 = pred.union(
        spark.createDataFrame(
            [("a", 7, "extra!")], "doc_id string, span_idx int, text string"
        )
    )
    got2 = cer_spans(pred2, gt).first()
    assert got2["gt_len"] == 20  # gt length unchanged
    assert abs(got2["cer"] - 16 / 20) < 1e-9  # +6 chars of insertion


def test_chunk_spans_grid(spark):
    from reading_the_unreadable_spark.operators.metrics import chunk_spans

    words = [f"w{i}" for i in range(45)]
    d = spark.createDataFrame([("a", " ".join(words))], "doc_id string, text string")
    got = chunk_spans(d).orderBy("span_idx").collect()
    assert [(r["span_idx"], r["text"]) for r in got] == [
        (0, " ".join(words[:20])),
        (1, " ".join(words[20:40])),
        (2, " ".join(words[40:])),
    ]


def test_coverage_on_pipeline_boxes(spark):
    from reading_the_unreadable_spark import synth
    from reading_the_unreadable_spark.operators.geometry import docs_to_boxes
    from reading_the_unreadable_spark.sources.docs import docs_from_rows

    docs = docs_from_rows(spark, synth.make_corpus(12, seed_tag="cov"))
    cov = page_coverage(docs_to_boxes(docs).repartition(4, "doc_id"))
    rows = cov.collect()
    assert len(rows) == 12
    assert all(0 < r["covered_frac"] <= 1.0 for r in rows)
    assert all(0 <= r["overlap_frac"] <= r["covered_frac"] for r in rows)


def test_cer_spans_pure_hallucination_doc_not_null(spark):
    """A doc present ONLY in predictions has gt_len 0; its cer must be a
    finite penalty (the inserted-char count), never NULL/dropped — a
    NULL would silently vanish from cer_summary's percentiles."""
    gt = spark.createDataFrame(
        [("a", 0, "hello")], "doc_id string, span_idx int, text string"
    )
    pred = spark.createDataFrame(
        [("a", 0, "hello"), ("ghost", 0, "made up text")],
        "doc_id string, span_idx int, text string",
    )
    got = {r["doc_id"]: r for r in cer_spans(pred, gt).collect()}
    assert got["a"]["cer"] == 0.0
    assert got["ghost"]["gt_len"] == 0
    assert got["ghost"]["cer"] == float(len("made up text"))
    s = cer_summary(cer_spans(pred, gt)).first()
    assert s["n_docs"] == 2  # hallucinated doc participates in summary


def _py_bleu(pred: str, ref: str, max_n: int = 4):
    """Independent textbook BLEU (Papineni et al. 2002), no smoothing."""
    import math
    from collections import Counter

    p, r = pred.split(), ref.split()
    stats = {}
    for n in range(1, max_n + 1):
        pg = Counter(tuple(p[i : i + n]) for i in range(len(p) - n + 1))
        rg = Counter(tuple(r[i : i + n]) for i in range(len(r) - n + 1))
        match = sum(min(c, rg[g]) for g, c in pg.items())
        stats[n] = (match, sum(pg.values()))
    bp = 1.0 if len(p) >= len(r) else math.exp(1 - len(r) / len(p))
    if any(m == 0 or t == 0 for m, t in stats.values()):
        score = 0.0
    else:
        score = round(
            bp
            * math.exp(
                sum(math.log(m / t) for m, t in stats.values()) / max_n
            ),
            4,
        )
    return stats, round(bp, 4), score


def test_bleu_matches_python_reference(spark):
    from reading_the_unreadable_spark.operators.metrics import bleu

    cases = [
        ("a", "the cat sat on the mat", "the cat sat on the mat"),  # 1.0
        ("b", "the cat the cat on mat", "the cat sat on the mat"),  # clip
        ("c", "cat on mat", "the cat sat on the mat"),  # short → BP
        ("d", "dog barks loud", "the cat sat on the mat"),  # 0 match
        ("e", "x y", "x y z w"),  # fewer than 4 tokens → total_4 = 0
    ]
    gt = spark.createDataFrame(
        [(d, r) for d, _, r in cases], "doc_id string, text string"
    )
    pred = spark.createDataFrame(
        [(d, p) for d, p, _ in cases], "doc_id string, text string"
    )
    got = {r["doc_id"]: r for r in bleu(pred, gt).collect()}
    assert set(got) == {d for d, _, _ in cases}
    for doc_id, p, r in cases:
        stats, bp, score = _py_bleu(p, r)
        row = got[doc_id]
        assert row["len_pred"] == len(p.split())
        assert row["len_ref"] == len(r.split())
        for n in range(1, 5):
            assert (row[f"match_{n}"], row[f"total_{n}"]) == stats[n], (
                doc_id,
                n,
            )
        assert row["brevity_penalty"] == bp, doc_id
        assert row["bleu"] == score, doc_id
    assert got["a"]["bleu"] == 1.0
    assert got["d"]["bleu"] == 0.0 and got["e"]["bleu"] == 0.0


def test_bleu_empty_prediction_drops_doc(spark):
    from reading_the_unreadable_spark.operators.metrics import bleu

    gt = spark.createDataFrame(
        [("a", "some text"), ("b", "more text")],
        "doc_id string, text string",
    )
    pred = spark.createDataFrame(
        [("a", "some text"), ("b", "")], "doc_id string, text string"
    )
    rows = bleu(pred, gt).collect()
    assert [r["doc_id"] for r in rows] == ["a"]  # b has no candidates


def test_rouge_matches_python_reference(spark):
    """ROUGE-1/2 vs an independent plain-Python clipped-overlap
    implementation (Lin 2004), including an empty prediction (scores
    0, doc retained via the full-outer totals join)."""
    from collections import Counter

    from reading_the_unreadable_spark.operators.metrics import rouge_n

    gts = {
        "a": "the cat sat on the mat",
        "b": "hello world",
        "c": "a b a b a",
    }
    preds = {"a": "the cat on the mat", "b": "", "c": "a b a"}

    def grams(t, n):
        w = [x for x in t.split(" ") if x != ""]
        return Counter(
            tuple(w[i : i + n]) for i in range(len(w) - n + 1)
        )

    expected = {}
    for d in gts:
        row = {}
        for n in (1, 2):
            p, g = grams(preds[d], n), grams(gts[d], n)
            m = sum(min(c, g[k]) for k, c in p.items() if k in g)
            pt, rt = sum(p.values()), sum(g.values())
            prec = m / pt if pt else 0.0
            rec = m / rt if rt else 0.0
            f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
            row[n] = (m, pt, rt, round(prec, 4), round(rec, 4), round(f1, 4))
        expected[d] = row

    df_g = spark.createDataFrame(list(gts.items()), "doc_id string, text string")
    df_p = spark.createDataFrame(list(preds.items()), "doc_id string, text string")
    for r in rouge_n(df_p, df_g).collect():
        for n in (1, 2):
            got = (
                r[f"match_{n}"], r[f"p_total_{n}"], r[f"r_total_{n}"],
                r[f"rouge_p_{n}"], r[f"rouge_r_{n}"], r[f"rouge_f_{n}"],
            )
            assert got == expected[r["doc_id"]][n], (r["doc_id"], n, got)


def test_chrf_matches_python_reference(spark):
    """chrF (β=2, n=1..6, whitespace stripped, zero-denominator orders
    contribute 0 with divisor always max_n) vs plain Python."""
    from collections import Counter

    from reading_the_unreadable_spark.operators.metrics import chrf

    gts = {"a": "the cat sat", "b": "ab", "c": "hello world"}
    preds = {"a": "the cat sit", "b": "ab", "c": ""}

    def cgrams(t, n):
        s = "".join(t.split())
        return Counter(s[i : i + n] for i in range(len(s) - n + 1))

    expected = {}
    for d in gts:
        ps, rs = [], []
        for n in range(1, 7):
            p, g = cgrams(preds[d], n), cgrams(gts[d], n)
            m = sum(min(c, g[k]) for k, c in p.items() if k in g)
            pt, rt = sum(p.values()), sum(g.values())
            if pt == 0 and rt == 0:  # effective-order reduction
                continue
            ps.append(m / pt if pt else 0.0)
            rs.append(m / rt if rt else 0.0)
        cp, cr = sum(ps) / len(ps), sum(rs) / len(rs)
        f = 5 * cp * cr / (4 * cp + cr) if cp + cr else 0.0
        expected[d] = (round(cp, 4), round(cr, 4), round(f, 4))

    df_g = spark.createDataFrame(list(gts.items()), "doc_id string, text string")
    df_p = spark.createDataFrame(list(preds.items()), "doc_id string, text string")
    got = {
        r["doc_id"]: (r["chrp"], r["chrr"], r["chrf"])
        for r in chrf(df_p, df_g).collect()
    }
    assert got == expected
    # identical strings score a perfect 1.0
    assert got["b"] == (1.0, 1.0, 1.0)


def test_wer_word_grain(spark):
    from reading_the_unreadable_spark.operators.metrics import wer

    gt = spark.createDataFrame(
        [("a", "the cat sat"), ("b", "a b c"), ("c", "same exact words")],
        "doc_id string, text string",
    )
    pred = spark.createDataFrame(
        [
            ("a", "the dog sat on"),   # 1 sub + 1 ins = 2 edits
            ("b", "b c a"),            # rotation: del+ins = 2, NOT 3 subs
            ("c", "Same  exact words"),  # normalization: 0 edits
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in wer(pred, gt).collect()}
    assert got["a"]["word_edits"] == 2 and got["a"]["wer"] == round(2 / 3, 6)
    assert got["b"]["word_edits"] == 2, "alignment must beat 3 substitutions"
    assert got["c"]["word_edits"] == 0 and got["c"]["wer"] == 0.0
    assert got["a"]["n_gt_words"] == 3
