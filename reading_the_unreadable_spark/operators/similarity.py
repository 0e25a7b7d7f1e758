"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: broadcast the probe vector(s), fold the dot
  product with native ``zip_with``/``aggregate`` (JVM-side, no Python) —
  the baseline that always works.
- sign-LSH bucketed ANN: bucket vectors by the sign pattern of leading
  dimensions (a deterministic random-hyperplane stand-in), equi-join
  probes to candidates on the bucket, then rank within bucket.  This is
  the 100 TB path: the self-join key is the bucket, never a cross join.

All arithmetic is promoted to double with a fixed fold order so the
DuckDB oracle (list_cosine_similarity over DOUBLE[]) matches exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# The brute-force top-k operators rank the TOPK nearest vectors to the
# one with vec_id QUERY_VEC_ID; the bucketed ANN operators rank PROBE_TOPK
# neighbours for each of the probes vec_id < N_PROBES (IVF probes search
# their NPROBE_CELLS closest cells).  The DuckDB oracle texts read the
# same constants.
QUERY_VEC_ID = 0
TOPK = 10
N_PROBES = 10
PROBE_TOPK = 3
NPROBE_CELLS = 2


def cosine_topk(embeddings: DataFrame) -> DataFrame:
    """Brute-force top-``TOPK`` by cosine to the embedding of
    ``QUERY_VEC_ID`` (broadcast single-row probe; excludes the probe
    itself)."""
    q = embeddings.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _as_double(F.col("embedding")).alias("qvec")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    # top-k via TakeOrdered (distributed partial top-k per partition, no
    # single-partition global window); rank is then assigned on k rows.
    topk = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(TOPK)
    # deliberately unpartitioned window over the ≤TOPK post-limit rows —
    # single-partition is correct and size-bounded (warning silenced at
    # the logger, see session.py; invariant pinned by plan test)
    w = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "label", "cos_sim"
    )


def sign_bucket(v: Column) -> Column:
    """Deterministic LSH bucket: sign bits of the first 4 components."""
    parts = [
        F.when(F.element_at(v, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(4)
    ]
    return F.concat(*parts)


def ann_lsh_topk(embeddings: DataFrame) -> DataFrame:
    """Bucketed approximate top-k: probes = vec_id < ``N_PROBES``;
    candidates share the probe's sign bucket.  Output (probe_id, rank,
    vec_id, cos)."""
    base = embeddings.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("vec"),
        sign_bucket(F.col("embedding")).alias("bucket"),
    )
    probes = base.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("vec").alias("pvec"),
        "bucket",
    )
    cand = base.select(F.col("vec_id"), F.col("vec"), "bucket")
    scored = (
        F.broadcast(probes)
        .join(cand, "bucket")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine(F.col("pvec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PROBE_TOPK)
        .select("probe_id", "rank", "vec_id", "cos_sim")
    )


# -------------------------- random-hyperplane LSH with multiprobe (scale ANN)
# Deterministic hyperplane weights shared bit-for-bit with the DuckDB
# oracle: at 2^n_bits buckets the candidate set per probe is ~n/2^bits of
# the corpus, and Hamming-1 multiprobe recovers the recall a single
# bucket loses — the standard production trade (more planes = smaller
# buckets, more probes = recall back).
ANN_BITS = 12
ANN_DIM = 64
_ANN_SEED = 20260816


def _gen_planes(seed: int = _ANN_SEED) -> list[list[float]]:
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    # round to 6dp so the literals embed identically in Spark and SQL
    return [
        [round(float(x), 6) for x in rng.standard_normal(ANN_DIM)]
        for _ in range(ANN_BITS)
    ]


HYPERPLANES = _gen_planes()

# OR-amplification tables for the near-dup gate: T independent 12-bit
# hyperplane tables (table 0 = the ANN table above).  A pair colliding in
# ANY table becomes a candidate: recall at angle θ is 1-(1-p^12)^T with
# p = 1-θ/π per bit — at cos 0.95 (θ≈18.2°) a single table catches 28% of
# qualifying pairs and T=6 catches ~86%; at cos 0.98, ~97%.  Replication
# is exactly T per side (no Hamming-flip explosion), so the join stays a
# (table, bucket) equi-join with Σ|bucket|² pair cost.
ANN_TABLES = 6
HYPERPLANE_TABLES = [HYPERPLANES] + [
    _gen_planes(seed=_ANN_SEED + t) for t in range(1, ANN_TABLES)
]


def hyperplane_buckets_udf(tables: list[list[list[float]]] | None = None):
    """Arrow-vectorized bucket computation for CORPUS-side hashing: one
    pandas_udf returning the per-table bucket array.

    Bit-identical to the SQL oracles' bucket expression: elementwise
    products are IEEE-exact either way, and the summation uses
    ``np.add.accumulate`` — strictly sequential left-to-right
    association, the same fold order as the oracle's explicit ``+``
    chain — so every projection SIGN matches bit-for-bit.
    (``np.dot``/``einsum`` would use pairwise/SIMD association and
    could flip near-zero signs.)

    Why a UDF here when the engine rule is expressions-first: Catalyst
    evaluates higher-order functions (aggregate/zip_with) INTERPRETED,
    outside whole-stage codegen — 72 plane folds × 64 dims per row ran
    ~8× slower than this single Arrow batch matmul-shaped loop.  The
    north rule's prescribed shape is exactly this: vectorized
    pandas/Arrow UDFs, no per-row Python."""
    import numpy as np

    tables = tables or HYPERPLANE_TABLES
    flat = np.array(
        [plane for table in tables for plane in table], dtype=np.float64
    )  # (T*bits, dim)
    n_tables, n_bits = len(tables), len(tables[0])

    @F.pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        e = np.vstack(emb.to_numpy()).astype(np.float64)  # float32→64 exact
        n = e.shape[0]
        buckets = np.zeros((n, n_tables), dtype=np.int64)
        for idx in range(flat.shape[0]):
            proj = np.add.accumulate(e * flat[idx], axis=1)[:, -1]
            t, i = divmod(idx, n_bits)
            buckets[:, t] += (proj >= 0).astype(np.int64) << i
        return pd.Series(list(buckets.astype(np.int32)))

    return _buckets


def ann_multiprobe_topk(embeddings: DataFrame) -> DataFrame:
    """ANN top-k via random-hyperplane LSH + Hamming-1 multiprobe:
    candidates live in ONE bucket each; every probe searches its own
    bucket plus the ``ANN_BITS`` buckets one bit-flip away (explode on
    the probe side — the small side — never the corpus side).  The join
    is a bucket equi-join with the probe side broadcast: per-probe work
    is ~(bits+1)·n/2^bits candidates, independent of corpus pair count."""
    base = embeddings.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("vec"),
        F.element_at(
            hyperplane_buckets_udf([HYPERPLANES])(F.col("embedding")), 1
        ).alias("bucket"),
    )
    flips = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(ANN_BITS)],
    )
    probes = (
        base.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("vec").alias("pvec"),
            F.explode(flips).alias("bucket"),
        )
    )
    scored = (
        F.broadcast(probes)
        .join(base, "bucket")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine(F.col("pvec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PROBE_TOPK)
        .select("probe_id", "rank", "vec_id", "cos_sim")
    )


def ann_multiprobe_oracle_sql() -> str:
    """DuckDB replica: identical plane literals, identical left-to-right
    projection sums, identical multiprobe bucket list."""
    projs = []
    for p in HYPERPLANES:
        terms = " + ".join(
            f"(embedding[{j + 1}]::DOUBLE * ({w!r}))" for j, w in enumerate(p)
        )
        projs.append(f"({terms})")
    bucket = " + ".join(
        f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, proj in enumerate(projs)
    )
    flip_list = ", ".join(f"xor(bucket, {1 << i})" for i in range(ANN_BITS))
    return f"""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec, ({bucket}) AS bucket
          FROM embeddings),
        probes AS (
          SELECT vec_id AS probe_id, vec AS pvec,
                 unnest([bucket, {flip_list}]) AS bucket
          FROM base WHERE vec_id < {N_PROBES}),
        scored AS (
          SELECT p.probe_id, c.vec_id,
                 round(list_cosine_similarity(p.pvec, c.vec), 6) AS cos_sim
          FROM probes p JOIN base c ON p.bucket = c.bucket
          WHERE p.probe_id != c.vec_id)
        SELECT probe_id, rank::INT AS rank, vec_id, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {PROBE_TOPK}
    """


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid, one row per (label, dim) — IVF coarse-quantizer
    training step expressed as posexplode + groupBy."""
    return (
        embeddings.select(
            "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x")
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("centroid"), F.count("*").alias("n_vecs"))
    )


# Cosine gate of the near-dup pairs.  The synthetic embeddings are
# near-orthogonal random vectors, so it sits at 0.3 to keep the result
# non-trivial; on a real near-dup corpus it would be ~0.9.
NEAR_DUP_COS = 0.3


def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space dedup
    variant: candidates are generated by OR-amplified hyperplane LSH
    (``ANN_TABLES`` independent 12-bit tables; a pair sharing a bucket in
    ANY table is a candidate — see the recall math at
    ``HYPERPLANE_TABLES``), then gated by exact cosine ≥ ``NEAR_DUP_COS``.

    Join key is (table, bucket) — pair space is Σ over (table, bucket)
    of |bucket|², never n²; per-side replication is exactly T (an
    earlier revision probed Hamming-1 flips instead: 13× replication for
    LOWER recall — 65% vs 86% at cos 0.95).  The multi-table match dedup
    is a (vec_a, vec_b) groupBy, which doubles as a pushdown barrier so
    the threshold filter cannot be pushed into the join and re-evaluate
    the bucket folds at the scan (the simhash lesson, dedup.py)."""
    base = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
    keyed = base.select(
        "vec_id",
        "vec",
        F.posexplode(hyperplane_buckets_udf()(F.col("vec"))).alias("t", "bucket"),
    )
    a = keyed.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("vec_a_v"), "t", "bucket"
    )
    b = keyed.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vec_b_v"), "t", "bucket"
    )
    cos = F.round(cosine(F.col("vec_a_v"), F.col("vec_b_v")), 6)
    return (
        a.join(b, ["t", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cos_sim").alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
    )


def _bucket_sql(planes: list[list[float]]) -> str:
    projs = []
    for p in planes:
        terms = " + ".join(
            f"(embedding[{j + 1}]::DOUBLE * ({w!r}))" for j, w in enumerate(p)
        )
        projs.append(f"({terms})")
    return " + ".join(
        f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, proj in enumerate(projs)
    )


def embedding_near_dup_oracle_sql() -> str:
    buckets = ", ".join(
        f"({_bucket_sql(p)}) AS b{t}" for t, p in enumerate(HYPERPLANE_TABLES)
    )
    cand = "\n            UNION\n".join(
        f"            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b "
        f"FROM base a JOIN base b ON a.b{t} = b.b{t} AND a.vec_id < b.vec_id"
        for t in range(ANN_TABLES)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec, {buckets}
          FROM embeddings),
        cand AS (
{cand}
        )
        SELECT c.vec_a, c.vec_b,
               round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
        FROM cand c JOIN base a ON c.vec_a = a.vec_id
                    JOIN base b ON c.vec_b = b.vec_id
        WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= {NEAR_DUP_COS}
    """


def centroid_dendrogram(embeddings: DataFrame) -> DataFrame:
    """F17 (reference ``comparative_analysis.py:279-305``): agglomerative
    dendrogram over the per-label centroid vectors, cosine distance,
    average linkage.

    Same scale shape as the reference: the matrix is label×label (tiny,
    bounded by the label vocabulary), so the centroids are computed
    distributed (:func:`label_centroids` — one shuffle), collected, and
    the O(k³) linkage runs driver-side in pure numpy (scipy absent from
    this image; the reference feeds scipy the same collected matrix).
    Output is the scipy-style merge table: one row per merge step with
    the two cluster names, the linkage distance, and the merged size."""
    import numpy as np

    spark = embeddings.sparkSession
    # sort by label: collect() order is partitioning-dependent, and the
    # enumeration order decides which side of a merge is cluster_a —
    # without this the output is run-to-run nondeterministic
    rows = sorted(
        _cell_vectors(embeddings).collect(), key=lambda r: str(r["label"])
    )
    names = [r["label"] for r in rows]
    vecs = np.array([r["cvec"] for r in rows], dtype=np.float64)
    n = len(names)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    dist = 1.0 - vn @ vn.T
    # active clusters: name, member indices
    clusters: list[tuple[str, list[int]]] = [(names[i], [i]) for i in range(n)]
    out = []
    step = 0
    while len(clusters) > 1:
        best = None
        for i in range(len(clusters)):
            for j in range(i + 1, len(clusters)):
                mi, mj = clusters[i][1], clusters[j][1]
                block = dist[np.ix_(mi, mj)]
                d = float(block.mean())
                # deterministic tie-break on the (sorted) name pair
                key = (round(d, 12), clusters[i][0], clusters[j][0])
                if best is None or key < best[0]:
                    best = (key, i, j, d)
        _, i, j, d = best
        (na, ma), (nb, mb) = clusters[i], clusters[j]
        step += 1
        out.append((step, na, nb, round(d, 6), len(ma) + len(mb)))
        clusters = [c for k, c in enumerate(clusters) if k not in (i, j)]
        clusters.append((f"merge_{step}", ma + mb))
    return spark.createDataFrame(
        out, "step int, cluster_a string, cluster_b string, distance double, size int"
    )


# ----------------------------------------------------------------- IVF ANN
def _cell_vectors(embeddings: DataFrame) -> DataFrame:
    """Coarse-quantizer cells: per-label centroid VECTORS (label, cvec).
    6dp-rounded per dimension so Spark's partial-agg averaging and the
    oracle's single-pass averaging agree exactly."""
    return (
        label_centroids(embeddings)
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("cvec")
        )
    )


def ann_ivf_topk(embeddings: DataFrame) -> DataFrame:
    """IVF approximate top-k — the inverted-file scale path:

    1. train the coarse quantizer (per-label centroid cells — at real
       scale a k-means loop over a sample; cells stay tiny and are
       BROADCAST);
    2. assign every vector to its nearest cell (broadcast join + rank,
       one pass over the corpus);
    3. probes search only their ``NPROBE_CELLS`` closest cells' inverted
       lists — the classic recall/cost dial.

    Per-probe work is NPROBE_CELLS/n_cells of the corpus, never all of
    it; the big side is touched by exactly one broadcast-join pass for
    assignment and one bucket equi-join for search."""
    cells = _cell_vectors(embeddings).select(
        F.col("label").alias("cell"), "cvec"
    )
    base = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("vec"))
    sim_to_cell = F.round(cosine(F.col("vec"), F.col("cvec")), 6)
    scored_cells = base.join(F.broadcast(cells)).select(
        "vec_id", "vec", "cell", sim_to_cell.alias("cell_sim")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cell_sim"), F.asc("cell")
    )
    ranked = scored_cells.withColumn("cell_rank", F.row_number().over(w_assign))
    assigned = ranked.filter(F.col("cell_rank") == 1).select(
        "vec_id", "vec", "cell"
    )
    probe_cells = (
        ranked.filter(
            (F.col("vec_id") < N_PROBES) & (F.col("cell_rank") <= NPROBE_CELLS)
        )
        .select(F.col("vec_id").alias("probe_id"), F.col("vec").alias("pvec"), "cell")
    )
    scored = (
        F.broadcast(probe_cells)
        .join(assigned, "cell")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine(F.col("pvec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PROBE_TOPK)
        .select("probe_id", "rank", "vec_id", "cos_sim")
    )


def ann_ivf_oracle_sql() -> str:
    return f"""
        WITH cents AS (
          SELECT label, d,
                 round(avg(embedding[d]::DOUBLE), 6) AS c
          FROM embeddings, (SELECT unnest(generate_series(1, {ANN_DIM})) AS d)
          GROUP BY label, d),
        cells AS (
          SELECT label AS cell, list(c ORDER BY d) AS cvec
          FROM cents GROUP BY label),
        scored_cells AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, c.cell,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6)
                   AS cell_sim
          FROM embeddings e, cells c),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cell_sim DESC, cell) AS cell_rank
          FROM scored_cells),
        assigned AS (
          SELECT vec_id, vec, cell FROM ranked WHERE cell_rank = 1),
        probe_cells AS (
          SELECT vec_id AS probe_id, vec AS pvec, cell
          FROM ranked WHERE vec_id < {N_PROBES} AND cell_rank <= {NPROBE_CELLS}),
        scored AS (
          SELECT p.probe_id, a.vec_id,
                 round(list_cosine_similarity(p.pvec, a.vec), 6) AS cos_sim
          FROM probe_cells p JOIN assigned a ON p.cell = a.cell
          WHERE p.probe_id != a.vec_id)
        SELECT probe_id, rank::INT AS rank, vec_id, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {PROBE_TOPK}
    """


# -------------------------------------------------- int8-quantized ANN
def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = round(x_i / scale) ∈ [-127, 127].

    The 100 TB lever: embedding columns dominate shuffle and scan bytes
    in every ANN/near-dup stage; int8 cuts them 4× (further with
    dictionary/byte-packing at the parquet layer) while cosine — which
    is SCALE-INVARIANT, so the per-vector scale cancels exactly —
    degrades only by the rounding error.  Pure higher-order functions
    (transform/aggregate), no UDF, fully pushdown-friendly."""
    maxabs = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.greatest(maxabs / F.lit(127.0), F.lit(1e-12))
    qvec = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") / scale).cast("int")
    )
    return embeddings.select(
        "vec_id",
        "label",
        scale.alias("scale"),
        qvec.alias("qvec"),
    )


def ann_quantized_topk(embeddings: DataFrame) -> DataFrame:
    """Brute-force top-k by cosine over int8-QUANTIZED vectors —
    the same shape as :func:`cosine_topk` (broadcast probe,
    TakeOrdered) but every shuffled/compared byte is quantized.  The
    per-vector scales cancel in the cosine, so the score is simply the
    cosine of the integer vectors, rounded to 6 dp."""
    q = quantize_embeddings(embeddings)
    probe = q.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _as_double(F.col("qvec")).alias("pvec")
    )
    scored = (
        q.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.round(
                cosine(_as_double(F.col("qvec")), F.col("pvec")), 6
            ).alias("qcos_sim"),
        )
    )
    topk = scored.orderBy(F.desc("qcos_sim"), F.asc("vec_id")).limit(TOPK)
    w = Window.orderBy(F.desc("qcos_sim"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "label", "qcos_sim"
    )


def ann_quantized_oracle_sql() -> str:
    """DuckDB replica: identical quantization formula (round half away
    from zero matches Spark's HALF_UP on these values), identical
    tie-break."""
    return f"""
        WITH q AS (
          SELECT vec_id, label,
                 list_transform(
                   embedding,
                   x -> round(x::DOUBLE /
                        greatest(list_max(list_transform(embedding,
                                 y -> abs(y::DOUBLE))) / 127.0, 1e-12))
                 ) AS qvec
          FROM embeddings),
        probe AS (SELECT qvec AS pvec FROM q WHERE vec_id = {QUERY_VEC_ID}),
        scored AS (
          SELECT q.vec_id, q.label,
                 round(list_cosine_similarity(q.qvec, p.pvec), 6) AS qcos_sim
          FROM q, probe p WHERE q.vec_id != {QUERY_VEC_ID})
        SELECT rank::INT AS rank, vec_id, label, qcos_sim FROM (
          SELECT *, row_number() OVER (
            ORDER BY qcos_sim DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {TOPK}
    """


KMEANS_K = 4
KMEANS_ITERS = 2
SEMDEDUP_TAU = 0.9


def kmeans_fixed(embeddings: DataFrame) -> DataFrame:
    """Distributed Lloyd k-means (``KMEANS_K`` clusters) with
    DETERMINISTIC seeding and a fixed iteration count
    (``KMEANS_ITERS``), so the whole run is an engine-replicable pure
    function: centroids initialize to the vectors with ``vec_id <
    KMEANS_K``, assignments break distance ties toward the lower cluster id,
    and both distances and intermediate centroids round (9 dp) so
    float summation order can never flip an assignment across engines.

    Scale shape per iteration (the real distributed-k-means layout):
    centroids are k×64 doubles — broadcast as LITERALS into a JVM
    ``zip_with``/``aggregate`` fold (no UDF, no shuffle for the
    assignment); the re-estimate is posexplode + groupBy with partial
    aggregation.  Only the k×64 centroid table ever reaches the
    driver (same driver-side grain as the reference's dendrogram
    step).  Output: one row per (cluster, dim) with the final
    centroid (6 dp) and the cluster's vector count."""
    assigned = kmeans_assignments(embeddings)
    return (
        assigned.select("cluster", F.posexplode("vec").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(
            F.round(F.avg("x"), 6).alias("centroid"),
            F.count("*").cast("long").alias("n_vecs"),
        )
    )


def kmeans_assignments(embeddings: DataFrame) -> DataFrame:
    """The per-vector cluster assignment after :func:`kmeans_fixed`'s
    deterministic Lloyd iterations — (vec_id, vec, cluster), the input
    SemDeDup-style semantic dedup consumes.  Same seeding, rounding,
    and tie-break discipline; see :func:`kmeans_fixed`."""
    base = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )

    def centroid_rows_to_lists(rows: list) -> list[list[float]]:
        by_c: dict[int, dict[int, float]] = {}
        for r in rows:
            by_c.setdefault(r["cluster"], {})[r["dim"]] = r["c"]
        return [
            [by_c[c][d] for d in sorted(by_c[c])] for c in sorted(by_c)
        ]

    cents = [
        list(r["vec"])
        for r in base.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    ]
    if len(cents) < KMEANS_K:
        raise ValueError(f"need vec_id 0..{KMEANS_K - 1} to seed the clusters")

    def assign(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
        dists = [
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("vec"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                9,
            )
            for c in centroids
        ]
        arr = F.array(*dists)
        # array_position returns the FIRST index of the min: ties break
        # toward the lower cluster id, deterministically
        return df.withColumn(
            "cluster",
            (F.array_position(arr, F.array_min(arr)) - 1).cast("int"),
        )

    for _it in range(KMEANS_ITERS - 1):
        assigned = assign(base, cents)
        agg = (
            assigned.select("cluster", F.posexplode("vec").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("x"), 9).alias("c"))
        )
        cents = centroid_rows_to_lists(agg.collect())
    return assign(base, cents)


def semdedup(embeddings: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cluster the embeddings,
    then within each cluster drop every vector that has a LOWER-vec_id
    neighbor at cosine ≥ ``SEMDEDUP_TAU`` — semantic dedup whose pair work is
    bounded by cluster size instead of n² (the paper's point: at scale
    k grows with n, keeping clusters near-constant).

    Determinism: the deterministic :func:`kmeans_assignments` + the
    lower-id-wins keeper rule + 9-dp cosine rounding make the output
    an engine-replicable pure function.  Shuffle shape: one equi-join
    on the cluster id; within-cluster pairs are the algorithm's own
    bound.  Output: (vec_id, cluster, keep)."""
    a = kmeans_assignments(embeddings)
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    n = a.withColumn("nrm", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    x, y = n.alias("x"), n.alias("y")
    cos = F.round(
        dot(F.col("x.vec"), F.col("y.vec"))
        / (F.col("x.nrm") * F.col("y.nrm")),
        9,
    )
    dropped = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("y.vec_id") < F.col("x.vec_id")),
        )
        .where(cos >= SEMDEDUP_TAU)
        .select(F.col("x.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        n.join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("__d").isNull().alias("keep"),
        )
    )


# Power iteration: PCA_ITERS steps over the ANN_DIM embedding
# dimensions, every cross-row sum rounded to PCA_NDP decimals.
PCA_ITERS = 3
PCA_NDP = 9


def power_iteration_top_component(embeddings: DataFrame) -> DataFrame:
    """Top principal component of the (mean-centered) embedding cloud
    via fixed-step power iteration — the whitening/decorrelation
    primitive ANN and SemDeDup pipelines run before indexing (project
    out the dominant direction, or rescale along it).

    Engine-exact by the iterative-algorithm discipline (k-means /
    pagerank / GD classifier): fixed iteration count from a fixed
    start (1/√ANN_DIM everywhere), every cross-row sum rounded to
    ``PCA_NDP`` decimals, every per-row dot product a strictly
    LEFT-ASSOCIATIVE ``ANN_DIM``-term expression chain (so the fold
    order is identical in Spark and the SQL oracle — no list_sum whose
    summation order is the engine's choice), and the normalization
    arithmetic (norm², sqrt, divide) done on the ROUNDED component sums
    in both engines.

    Scale shape: per iteration ONE aggregation pass over the data —
    the per-row dot is a single projected column reused by all
    ``ANN_DIM`` component sums (never ``ANN_DIM`` copies of the dot
    expression), the result is an ANN_DIM-sized driver vector (tiny
    collect by design, like pagerank's dangling mass), and the next
    step's vector re-enters as literals.  Cost: ``PCA_ITERS`` passes,
    zero shuffles beyond each agg's.

    Convergence is data-dependent — error shrinks as
    (λ2/λ1)^PCA_ITERS, so a planted dominant direction is recovered in
    3 steps (pinned by
    test) while a spectral-gap-free isotropic cloud moves slowly by
    MATH, not by bug (the sf0.01 synthetic embeddings have
    λ2/λ1 = 0.987; the test therefore pins same-step equality against
    a numpy reference, not full convergence).  A flat spectrum needs
    more steps (cost: one agg pass each).

    Output: (pos, component, eigenvalue) — ANN_DIM rows; ``eigenvalue`` is
    the final pre-normalization norm (the Rayleigh estimate), repeated
    per row for a flat hashable schema."""
    n_total = embeddings.count()
    if n_total == 0:
        raise ValueError("power iteration over an empty embedding table")
    x = lambda i: F.col("embedding")[i].cast("double")  # noqa: E731
    means = [F.round(F.sum(x(i)) / n_total, PCA_NDP) for i in range(ANN_DIM)]
    mean_row = embeddings.agg(*[m.alias(f"m{i}") for i, m in enumerate(means)]).first()
    mean = [mean_row[f"m{i}"] for i in range(ANN_DIM)]
    v = [round(1.0 / ANN_DIM**0.5, PCA_NDP)] * ANN_DIM
    eigenvalue = 0.0
    for _ in range(PCA_ITERS):
        dot = (x(0) - mean[0]) * v[0]
        for i in range(1, ANN_DIM):
            dot = dot + (x(i) - mean[i]) * v[i]
        with_dot = embeddings.withColumn("_dot", F.round(dot, PCA_NDP))
        comp_row = with_dot.agg(
            *[
                F.round(F.sum(F.col("_dot") * (x(i) - mean[i])), PCA_NDP).alias(
                    f"c{i}"
                )
                for i in range(ANN_DIM)
            ]
        ).first()
        comps = [comp_row[f"c{i}"] for i in range(ANN_DIM)]
        norm_sq = comps[0] * comps[0]
        for c in comps[1:]:
            norm_sq = norm_sq + c * c
        eigenvalue = norm_sq**0.5
        v = [round(c / eigenvalue, PCA_NDP) for c in comps]
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, v[i], round(eigenvalue, PCA_NDP)) for i in range(ANN_DIM)],
        "pos int, component double, eigenvalue double",
    )
