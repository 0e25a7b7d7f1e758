"""Link-graph operators: PageRank power steps vs a scalar reference,
dangling-mass handling, anchor-text aggregation."""

from __future__ import annotations

import pytest

from reading_the_unreadable_spark.operators.graph import anchor_texts, pagerank


def _ref_pagerank(edges, damping=0.85, iters=3, ndp=9):
    """Scalar transcription of the same fixed-step update (including the
    per-step rounding) — any disagreement is a distribution bug."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    r = {v: round(1.0 / n, ndp) for v in nodes}
    for _ in range(iters):
        dangling = sum(r[v] for v in nodes if v not in out)
        inflow = {v: 0.0 for v in nodes}
        for a, b in edges:
            inflow[b] += r[a] / out[a]
        base = (1 - damping) / n + damping * dangling / n
        r = {v: round(base + damping * inflow[v], ndp) for v in nodes}
    return r


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )


def test_pagerank_matches_scalar_reference(spark):
    edges = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (4, 3),
        (0, 2),  # parallel edge: double vote
    ]
    # node 5 appears only as a target via 2→5? add a dangling sink
    edges.append((2, 5))
    got = {r["node"]: r["rank"] for r in pagerank(_edges_df(spark, edges)).collect()}
    want = _ref_pagerank(edges)
    assert got == pytest.approx(want, abs=2e-9)
    # probability mass is conserved (within rounding)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_cycle_is_uniform(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    got = {r["node"]: r["rank"] for r in pagerank(_edges_df(spark, edges)).collect()}
    assert got == pytest.approx({0: 1 / 3, 1: 1 / 3, 2: 1 / 3}, abs=1e-9)


def test_pagerank_empty_raises(spark):
    with pytest.raises(ValueError, match="empty"):
        pagerank(_edges_df(spark, []))


def test_anchor_texts_bounded_and_sorted(spark):
    links = spark.createDataFrame(
        [(s, 9, f"w{s % 6}") for s in range(12)] + [(0, 7, "only")],
        "src long, dst long, anchor string",
    )
    rows = {r["dst"]: r for r in anchor_texts(links).collect()}
    hub = rows[9]
    assert hub["n_inlinks"] == 12 and hub["n_src"] == 12
    # distinct, sorted, sliced to MAX_ANCHORS = 4
    assert hub["anchors"] == "w0 | w1 | w2 | w3"
    assert rows[7]["anchors"] == "only" and rows[7]["n_inlinks"] == 1


def test_hits_hand_computed(spark):
    """2 fixed steps on a 3-node chain + hub: a->b, a->c, b->c.
    auth1 = indegree: a:0 b:1 c:2.  hub1: a = auth1(b)+auth1(c) = 3,
    b = auth1(c) = 2, c = 0.  auth2: b = hub1(a) = 3,
    c = hub1(a)+hub1(b) = 5, a = 0.  hub2: a = auth2(b)+auth2(c) = 8,
    b = auth2(c) = 5, c = 0."""
    from reading_the_unreadable_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(edges).collect()
    }
    assert got == {1: (0, 8), 2: (3, 5), 3: (5, 0)}


def test_trustrank_flows_only_from_seeds(spark):
    from reading_the_unreadable_spark.operators.graph import trustrank

    # chain 1->2->3, isolated pair 4->5; seed = 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r for r in trustrank(edges, seeds).collect()}
    # seed keeps teleport mass; 2 and 3 receive down the chain
    assert got[1]["trust"] > 0 and got[1]["suspect"] == 0
    assert got[2]["trust"] > 0 and got[3]["trust"] > 0
    # nothing reaches the disconnected component
    assert got[4]["trust"] == 0.0 and got[4]["suspect"] == 1
    assert got[5]["trust"] == 0.0 and got[5]["suspect"] == 1
    # trust decays with distance from the seed
    assert got[1]["trust"] > got[2]["trust"] > got[3]["trust"]


def test_trustrank_seed_must_touch_graph(spark):
    import pytest

    from reading_the_unreadable_spark.operators.graph import trustrank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError):
        trustrank(edges, seeds)
