"""Link-graph operators for web-corpus curation.

Crawl-scale pipelines rank and weight documents by the hyperlink graph
(quality signals, crawl-frontier priority, spam demotion) and aggregate
anchor text onto link targets (the classic relevance side-channel).
Both are expressed as joins + grouped aggregations on the edge list —
the 100 TB shapes: rank mass shuffles once per iteration on the node
id, anchor aggregation is one groupBy(dst).

Engine-replicability (the k-means / quality-classifier discipline):
fixed iteration count, 9-dp rounding of every per-node rank each
iteration so float summation order can never flip a value — a DuckDB
replica of the same chained iterations reproduces ranks bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
ITERS = 3
NDP = 9  # rounding of every per-node rank, each iteration
MAX_ANCHORS = 4  # anchors kept per link target
HITS_ITERS = 2


def pagerank(edges: DataFrame) -> DataFrame:
    """PageRank over (src, dst) edges, fixed ``ITERS`` power steps.

    Per iteration: contributions = edges ⋈ ranks on src (each node's
    rank split over its out-degree), one groupBy(dst) sum, dangling
    mass (nodes with no out-links) redistributed uniformly, then
    ``rank = (1-d)/N + d·(inflow + dangling/N)`` rounded to ``NDP``.
    Shapes: out-degrees are one groupBy(src); each step shuffles rank
    mass once on the node id; the dangling mass is a single-row
    aggregate.  Plans are lineage-cut per step (an iterative plan left
    uncut grows exponentially).

    Parallel edges are kept (a page linking twice votes twice —
    matches the original formulation over the web multigraph).
    Output: (node, rank) for every node incident to an edge."""
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank over an empty edge set")
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    d = DAMPING
    ranks = nodes.select("node", F.lit(round(1.0 / n, NDP)).alias("rank"))
    for _ in range(ITERS):
        with_deg = ranks.join(
            out_deg, ranks["node"] == out_deg["src"], "left"
        ).select("node", "rank", "deg")
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("s"))
            .first()["s"]
        )
        contribs = (
            e.join(
                with_deg.filter(F.col("deg").isNotNull()),
                e["src"] == F.col("node"),
            )
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        base = (1.0 - d) / n + d * float(dangling) / n
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + d * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    NDP,
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def anchor_texts(links: DataFrame) -> DataFrame:
    """Anchor-text aggregation onto link targets: (src, dst, anchor) →
    per-target distinct anchors, lexicographically first ``MAX_ANCHORS``
    joined with ``" | "`` plus in-degree counts.  One shuffle on dst;
    the per-target anchor list is slice-bounded so a billion-in-link
    hub cannot blow the row.  Deterministic: distinct + sort before the
    slice."""
    return (
        links.groupBy("dst")
        .agg(
            F.count("*").alias("n_inlinks"),
            F.count_distinct("src").alias("n_src"),
            F.array_join(
                F.slice(
                    F.array_sort(F.collect_set("anchor")), 1, MAX_ANCHORS
                ),
                " | ",
            ).alias("anchors"),
        )
    )


def hits(edges: DataFrame) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over (src, dst) edges,
    ``HITS_ITERS`` fixed mutual-reinforcement steps, UNNORMALIZED: with a
    fixed iteration count the normalization constant scales every
    score identically (rankings are invariant), and dropping it makes
    every score an exact INTEGER — authority_k counts the alternating
    in-paths of length 2k−1, hub_k the out-paths of length 2k — so the
    result is engine-exact with no rounding discipline at all (the
    pagerank operator needs 9-dp per-step rounding; this needs
    nothing).

    Shapes: each half-step is one edge⋈scores equi-join on a node id
    plus one groupBy on the other endpoint — rank mass shuffles once
    per half-step, exactly the pagerank pattern; plans are lineage-cut
    per step.  Parallel edges vote multiply (web multigraph).

    Output: (node, authority, hub) for every node incident to an
    edge, both longs."""
    e = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    auth = None
    for _ in range(HITS_ITERS):
        a_in = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
        )
        auth = (
            nodes.join(a_in, nodes["node"] == a_in["dst"], "left")
            .select(
                "node",
                F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("auth"),
            )
            .localCheckpoint()
        )
        h_in = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("s"))
        )
        hub = (
            nodes.join(h_in, nodes["node"] == h_in["src"], "left")
            .select(
                "node",
                F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("hub"),
            )
            .localCheckpoint()
        )
    return auth.join(hub, "node").select(
        "node", F.col("auth").alias("authority"), "hub"
    )


def trustrank(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """TrustRank (Gyöngyi et al. 2004): PageRank with the teleport
    vector concentrated on a trusted seed set — the link-spam gate a
    crawl curation pipeline runs next to raw PageRank.  Trust flows
    ONLY out of seeds; a page unreachable from every seed within
    ``ITERS`` hops keeps trust 0 and is spam-suspect.

    Same fixed-step/rounding discipline as :func:`pagerank` (9-dp
    per-step rounding makes scores engine-replicable; plans lineage-cut
    per step): ``rank = ((1-d) + d·dangling)·t + d·inflow`` where ``t``
    is 1/|seeds∩nodes| on seeds, 0 elsewhere — dangling mass teleports
    back through ``t`` too, per the paper.  Shapes are pagerank's: one
    out-degree groupBy, one rank-mass shuffle per step keyed on the
    node id, a single-row dangling aggregate.

    Output: (node, trust, suspect) for every node incident to an edge,
    suspect = 1 where trust rounds to exactly 0."""
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    seed_nodes = nodes.join(
        seeds.select(F.col("node").cast("long")).distinct(), "node", "semi"
    ).localCheckpoint()
    ns = seed_nodes.count()
    if ns == 0:
        raise ValueError("trustrank needs at least one seed incident to an edge")
    tv = (
        nodes.join(seed_nodes.withColumn("_s", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(
                F.col("_s").isNotNull(), F.lit(round(1.0 / ns, NDP))
            )
            .otherwise(F.lit(0.0))
            .alias("t"),
        )
        .localCheckpoint()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    d = DAMPING
    ranks = tv.select("node", F.col("t").alias("rank"))
    for _ in range(ITERS):
        with_deg = ranks.join(
            out_deg, ranks["node"] == out_deg["src"], "left"
        ).select("node", "rank", "deg")
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("s"))
            .first()["s"]
        )
        contribs = (
            e.join(
                with_deg.filter(F.col("deg").isNotNull()),
                e["src"] == F.col("node"),
            )
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        coef = (1.0 - d) + d * float(dangling)
        ranks = (
            tv.join(contribs, tv["node"] == contribs["dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit(coef) * F.col("t")
                    + d * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    NDP,
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node",
        F.col("rank").alias("trust"),
        (F.col("rank") == 0.0).cast("int").alias("suspect"),
    )
