"""HLL sketch: rho string math, accuracy bands, merge-by-max property."""

from __future__ import annotations

from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.sketches import (
    _rho,
    approx_distinct,
    hll_registers,
)


def test_rho_nibble_table(spark):
    cases = {
        "8000000000000000": 1,   # high bit set
        "4000000000000000": 2,
        "2000000000000000": 3,
        "1000000000000000": 4,
        "0800000000000000": 5,
        "00f0000000000000": 9,   # two zero nibbles, then f
        "0000000000000001": 64,  # only the lowest bit
        "0000000000000000": 65,  # all-zero tail
    }
    df = spark.createDataFrame([(s,) for s in cases], "h string")
    got = {
        r["h"]: r["rho"]
        for r in df.select("h", _rho(F.col("h"), 64).alias("rho")).collect()
    }
    assert got == cases


def test_accuracy_standard_and_small_range(spark):
    rows = [("big", f"val{i}") for i in range(5000)] + [
        ("small", f"v{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        r["g"]: r
        for r in approx_distinct(df, "v", ["g"]).collect()
    }
    assert got["big"]["n_exact"] == 5000
    # HLL standard error at m=64 is ~13%; 35% is a generous determinism-
    # safe band (the estimate is a FIXED number for this fixed input)
    assert got["big"]["rel_err"] < 0.35
    # linear counting regime: near-exact for tiny cardinalities
    assert abs(got["small"]["hll_estimate"] - 10) <= 2


def test_registers_merge_by_max(spark):
    a = spark.createDataFrame(
        [("g", f"a{i}") for i in range(300)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("g", f"b{i}") for i in range(300)] + [("g", "a5")],
        "g string, v string",
    )
    both = hll_registers(a.union(b), "v", ["g"])
    merged = (
        hll_registers(a, "v", ["g"])
        .union(hll_registers(b, "v", ["g"]))
        .groupBy("g", "bucket")
        .agg(F.max("r").alias("r"))
    )
    assert {
        (r["bucket"], r["r"]) for r in both.collect()
    } == {(r["bucket"], r["r"]) for r in merged.collect()}


def test_cms_upper_bound_and_exactness_at_low_load(spark):
    from reading_the_unreadable_spark.operators.sketches import (
        cms_counts,
        cms_estimate,
    )

    rows = [("hot",)] * 50 + [(f"cold{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, "v string")
    cms = cms_counts(df, "v")
    probes = spark.createDataFrame(
        [("hot",), ("cold3",), ("absent",)], "v string"
    )
    got = {r["v"]: r["cms_count"] for r in cms_estimate(cms, probes, "v").collect()}
    # CMS never under-counts
    assert got["hot"] >= 50 and got["cold3"] >= 1 and got["absent"] >= 0
    # 31 distinct values in 4x256 cells: collisions vanishingly unlikely
    assert got["hot"] == 50 and got["cold3"] == 1 and got["absent"] == 0
    # sketch table is bounded by its geometry
    assert cms.count() <= 4 * 256


def test_bloom_no_false_negatives(spark):
    from reading_the_unreadable_spark.operators.sketches import (
        bloom_bits,
        bloom_contains,
    )

    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(200)], "v string"
    )
    bits = bloom_bits(members, "v")
    assert bits.count() <= 4096
    probes = spark.createDataFrame(
        [(f"m{i}",) for i in range(200)] + [(f"x{i}",) for i in range(50)],
        "v string",
    )
    got = {r["v"]: r["maybe_present"] for r in bloom_contains(bits, probes, "v").collect()}
    assert all(got[f"m{i}"] for i in range(200))  # no false negatives
    fp = sum(1 for i in range(50) if got[f"x{i}"])
    # k=5, n=200, m=4096 → fp rate ~1e-5; a deterministic input set
    # cannot plausibly hit even one
    assert fp == 0


def test_power_iteration_matches_numpy_same_steps(spark):
    """The operator is a FIXED-STEP power iteration, value-exact per
    step — so the ground truth is numpy running the SAME three rounded
    steps from the same start, not the fully-converged eigenvector
    (on a spectral-gap-free isotropic cloud k steps provably move
    slowly: error ~ (l2/l1)^k; the sf0.01 embeddings have
    l2/l1 = 0.987).  Also pins that on data WITH a dominant
    direction the same 3 steps do converge."""
    import numpy as np

    from reading_the_unreadable_spark.operators.similarity import (
        power_iteration_top_component,
    )

    def reference(X, iters=3, ndp=9):
        n, dim = X.shape
        mean = np.round(X.sum(0) / n, ndp)
        v = np.full(dim, round(1.0 / dim**0.5, ndp))
        for _ in range(iters):
            Xc = X - mean
            dots = np.round(Xc @ v, ndp)
            comps = np.round(dots @ Xc, ndp)
            nrm = float(np.sqrt((comps * comps).sum()))
            v = np.round(comps / nrm, ndp)
        return v, round(nrm, ndp)

    # case 1: the isotropic test table — exact same-step agreement
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    X = np.array(
        emb.select("embedding").toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    rows = power_iteration_top_component(emb).orderBy("pos").collect()
    v_ref, ev_ref = reference(X)
    v_got = np.array([r["component"] for r in rows])
    assert np.allclose(v_got, v_ref, atol=1e-6)
    assert abs(rows[0]["eigenvalue"] - ev_ref) < 1e-5

    # case 2: planted dominant direction -> 3 steps recover it
    rng = np.random.RandomState(7)
    base = rng.normal(size=(200, 64))
    planted = np.zeros(64)
    planted[0] = 3.0
    Xp = base + rng.normal(size=(200, 1)) * planted * 4
    dfp = spark.createDataFrame(
        [(i, [float(x) for x in Xp[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    rp = power_iteration_top_component(dfp).orderBy("pos").collect()
    vp = np.array([r["component"] for r in rp])
    Xc = Xp - Xp.mean(0)
    true_top = np.linalg.eigh(Xc.T @ Xc)[1][:, -1]
    cos = abs(vp @ true_top) / (
        np.linalg.norm(vp) * np.linalg.norm(true_top)
    )
    assert cos > 0.99, cos
