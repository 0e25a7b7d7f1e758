"""Connected-component duplicate clustering (alternating star contraction).

Oracle: a five-line union-find over the same edge list — the fixed point
of Kiveris-style contraction is exactly min-reachable-id labelling, so
any disagreement is a bug in the distributed rounds, not modelling slack.
"""

from __future__ import annotations

import random

from reading_the_unreadable_spark.operators.dedup import connected_components, dup_clusters


def _uf_labels(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-reachable label per node (roots compress to component min)
    return {x: find(x) for x in range(n_nodes)}


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )


def test_cc_matches_union_find_on_random_graphs(spark):
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(_pairs_df(spark, edges)).collect()
        }
        want = _uf_labels(n, edges)
        # connected_components only labels nodes that touch an edge
        touched = {a for a, b in edges if a != b} | {
            b for a, b in edges if a != b
        }
        assert got == {x: want[x] for x in touched}


def test_cc_resolves_a_long_transitive_chain(spark, monkeypatch):
    # a 40-node path is the adversarial diameter case for plain label
    # propagation; star contraction must fold it within 12 rounds
    from reading_the_unreadable_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 12)
    edges = [(i, i + 1) for i in range(39)]
    got = connected_components(_pairs_df(spark, edges))
    rows = got.collect()
    assert len(rows) == 40
    assert {r["cluster_id"] for r in rows} == {0}


def test_cc_ignores_self_loops_and_duplicate_edges(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2)]
    rows = connected_components(_pairs_df(spark, edges)).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in rows} == {(1, 1), (2, 1)}


def test_dup_clusters_covers_singletons(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    pairs = _pairs_df(spark, [(0, 3), (3, 6), (1, 2)])
    rows = {r["doc_id"]: r for r in dup_clusters(docs, pairs).collect()}
    assert len(rows) == 8
    assert rows[6]["cluster_id"] == 0 and rows[6]["cluster_size"] == 3
    assert rows[0]["is_canonical"] and not rows[3]["is_canonical"]
    for singleton in (4, 5, 7):
        r = rows[singleton]
        assert (
            r["cluster_id"] == singleton
            and r["cluster_size"] == 1
            and r["is_canonical"]
        )


def test_cc_nonconvergence_raises(spark, monkeypatch):
    from reading_the_unreadable_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    edges = [(i, i + 1) for i in range(30)]
    try:
        connected_components(_pairs_df(spark, edges))
    except RuntimeError as e:
        assert "converge" in str(e)
    else:
        raise AssertionError("expected RuntimeError on round exhaustion")


def test_allpairs_jaccard_exact_vs_bruteforce(spark):
    """Prefix-filter all-pairs join is EXACT: every pair with
    Jaccard >= t is found (the no-false-negative theorem) and nothing
    below t leaks in — checked against a plain-Python brute force on
    a corpus mixing near-identical, overlapping, and disjoint docs."""
    from itertools import combinations

    from reading_the_unreadable_spark.operators.dedup import (
        allpairs_jaccard,
    )

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon eta",   # 5/7 with 1
        3: "alpha beta gamma delta epsilon zeta",  # identical to 1
        4: "one two three four five six",          # disjoint
        5: "alpha beta gamma delta epsilon zeta theta",  # 6/7 with 1
        6: "x",                                    # singleton set
        7: "x",                                    # identical singleton
    }
    sets = {k: set(v.split()) for k, v in texts.items()}
    t = 0.7
    expected = {}
    for a, b in combinations(sorted(texts), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if i / u >= t:
            expected[(a, b)] = (i, u, round(i / u, 4))

    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_union"], r["jaccard"])
        for r in allpairs_jaccard(df, threshold=t).collect()
    }
    assert got == expected
    # sanity: the identical pairs are present at jaccard 1.0
    assert got[(1, 3)][2] == 1.0 and got[(6, 7)][2] == 1.0


def test_allpairs_jaccard_random_corpora_exact(spark):
    """Three seeded random corpora (varying vocab size → varying
    similarity density), two thresholds each: prefix-filter +
    positional-filter output equals plain-Python brute force EXACTLY.
    This is the no-false-negative/no-false-positive property under
    corpora the author did not hand-pick."""
    import random
    from itertools import combinations

    from reading_the_unreadable_spark.operators.dedup import (
        allpairs_jaccard,
    )

    # vocab ≤ 61 routes to the small-universe BITSET engine, > 61 to
    # the generic prefix-filter engine — both must be brute-force-exact
    for seed, vocab_n, t in [
        (1, 12, 0.5),
        (2, 40, 0.7),
        (3, 8, 0.9),
        (4, 80, 0.7),   # generic path
        (5, 200, 0.9),  # generic path, sparse similarity
    ]:
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(vocab_n)]
        texts = {
            d: " ".join(rng.choices(vocab, k=rng.randint(3, 20)))
            for d in range(30)
        }
        sets = {d: set(v.split()) for d, v in texts.items()}
        expected = {}
        for a, b in combinations(sorted(texts), 2):
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if i / u >= t:
                expected[(a, b)] = (i, u, round(i / u, 4))
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            (r["doc_a"], r["doc_b"]): (
                r["n_common"], r["n_union"], r["jaccard"],
            )
            for r in allpairs_jaccard(df, threshold=t).collect()
        }
        assert got == expected, (seed, t, len(got), len(expected))


def test_incremental_gate_catches_known_dup(spark):
    """A new doc that is a verbatim copy of a history doc collides on
    every band (is_novel False, first_hit = the copied doc); an
    unrelated new doc passes as novel."""
    from reading_the_unreadable_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_gate,
    )

    hist = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "entirely different historical content about spark plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog tonight"),
            (13, "completely novel words never seen in any prior batch"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_hit_docs"], r["first_hit_doc"], r["is_novel"])
        for r in incremental_minhash_gate(
            new, build_minhash_index(hist)
        ).collect()
    }
    assert got[11] == (1, 0, False)
    assert got[13] == (0, None, True)


def test_incremental_gate_over_snapshot_layer(spark, tmp_path):
    """The production composition: batch 1 lands as snapshot 1 and its
    LSH index is built from a time-travel read; batch 2 arrives via
    incremental_read and is gated against that index — a batch-2 copy
    of a batch-1 doc is caught, fresh batch-2 content passes."""
    from reading_the_unreadable_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_gate,
    )
    from reading_the_unreadable_spark.sources.snapshots import (
        append_snapshot,
        incremental_read,
        read_snapshot,
    )

    root = str(tmp_path / "snap_gate")
    b1 = spark.createDataFrame(
        [
            (1, "historic article about spark window functions today"),
            (2, "another historic piece on shuffle partitioning rules"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (11, "historic article about spark window functions today"),
            (12, "genuinely fresh reporting with brand new wording here"),
        ],
        "doc_id long, text string",
    )
    s1 = append_snapshot(b1, root)
    s2 = append_snapshot(b2, root)
    index = build_minhash_index(read_snapshot(spark, root, snapshot_id=s1))
    new = incremental_read(spark, root, after=s1)
    assert new.count() == 2  # exactly the batch-2 diff
    got = {
        r["doc_id"]: (r["is_novel"], r["first_hit_doc"])
        for r in incremental_minhash_gate(new, index).collect()
    }
    assert got == {11: (False, 1), 12: (True, None)}

def test_ngram_jaccard_bitset_vs_bruteforce(spark):
    """The small-universe bitset route of ngram_jaccard_pairs equals a
    plain-Python brute force (bucketed, rounded-threshold contract) on
    seeded random corpora — including duplicate token sets, which the
    bitset engine collapses and re-expands."""
    import random
    from itertools import combinations

    from reading_the_unreadable_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    for seed, vocab_n, t in [(11, 10, 0.6), (12, 25, 0.9)]:
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(vocab_n)]
        rows = []
        for d in range(40):
            text = " ".join(rng.choices(vocab, k=rng.randint(2, 15)))
            if d % 7 == 0 and d > 0:
                text = rows[d - 1][1]  # exact token-set duplicates
            rows.append((d, text, "en" if d % 3 else "de"))
        sets = {d: set(txt.split()) for d, txt, _ in rows}
        langs = {d: lang for d, _, lang in rows}
        expected = {}
        for a, b in combinations(range(40), 2):
            if langs[a] != langs[b]:
                continue
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            jac = round(i / u, 6)
            if jac >= t:
                expected[(a, b)] = jac
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        }
        assert got == expected, (seed, t, len(got), len(expected))


def test_jaccard_verify_pairs_bitset_matches_array_path(spark):
    """The mask-based verify (small universe) must produce the same
    jaccard values as the token-array path, including the null-text
    doc -> null jaccard contract."""
    from reading_the_unreadable_spark.operators.dedup import (
        jaccard_verify_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c e"),
            (3, "a b"),
            (4, None),
            (5, "a b c d"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 9), (1, 4, 9), (1, 5, 9), (3, 4, 9)],
        "doc_a long, doc_b long, hamming int",
    )
    out = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["hamming"])
        for r in jaccard_verify_pairs(docs, pairs).collect()
    }
    assert out[(1, 2)] == (0.6, 9)
    assert out[(1, 3)] == (0.5, 9)
    assert out[(1, 5)] == (1.0, 9)
    assert out[(1, 4)][0] is None  # null text -> null jaccard
    assert out[(3, 4)][0] is None
    assert len(out) == 5


def test_band_signatures_fused_equals_composed(spark):
    """The fused band_signatures must equal
    lsh_band_signatures(minhash_signatures(sh)) row-for-row."""
    from operator_specs import lsh_band_signatures, minhash_signatures
    from reading_the_unreadable_spark.operators.dedup import (
        band_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),
            (3, "short"),
            (4, "x y z x y z x"),
        ],
        "doc_id long, text string",
    )
    sh = shingles(docs)
    fused = {
        (r["doc_id"], r["band"]): r["band_sig"] for r in band_signatures(sh).collect()
    }
    composed = {
        (r["doc_id"], r["band"]): r["band_sig"]
        for r in lsh_band_signatures(minhash_signatures(sh)).collect()
    }
    assert fused == composed and fused
