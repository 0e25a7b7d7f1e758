"""Unit tests for operators/temporal.py (as-of join, binned range
join) and operators/encoding.py (mojibake repair): semantics on
hand-built edge cases, plus physical-plan audits — the as-of join is
ONE keyed exchange, the range join never falls back to a nested-loop
cartesian."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from operator_specs import range_point_join
from reading_the_unreadable_spark.operators.encoding import fix_mojibake
from reading_the_unreadable_spark.operators.temporal import asof_join


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ts(s):
    return F.to_timestamp(F.lit(s))


def test_asof_semantics_ties_and_no_match(spark):
    left = spark.createDataFrame(
        [
            (1, "2020-01-05 00:00:00", "a"),  # after r2 -> picks ts 01-04
            (1, "2020-01-04 00:00:00", "b"),  # EXACT tie with r2 -> matches it
            (1, "2020-01-01 00:00:00", "c"),  # before everything -> null
            (2, "2020-06-01 00:00:00", "d"),  # other key
            (3, "2020-06-01 00:00:00", "e"),  # key with no right rows -> null
        ],
        "k long, ts string, tag string",
    ).select("k", F.to_timestamp("ts").alias("ts"), "tag")
    right = spark.createDataFrame(
        [
            (1, "2020-01-02 00:00:00", 10),
            (1, "2020-01-04 00:00:00", 20),
            (2, "2020-05-01 00:00:00", 30),
        ],
        "k long, rts string, v int",
    ).select("k", F.to_timestamp("rts").alias("rts"), "v")
    out = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", value_cols=("v",)
        ).collect()
    }
    assert out == {"a": 20, "b": 20, "c": None, "d": 30, "e": None}


def test_asof_tiebreak_deterministic(spark):
    """Two right rows at the same (key, ts): the max-tiebreak row wins."""
    left = spark.createDataFrame([(1, "2020-01-02 00:00:00")], "k long, ts string")
    left = left.select("k", F.to_timestamp("ts").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 7, 100), (1, "2020-01-01 00:00:00", 9, 200)],
        "k long, rts string, pri long, v int",
    ).select("k", F.to_timestamp("rts").alias("rts"), "pri", "v")
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="ts",
        right_ts="rts",
        value_cols=("v",),
        tiebreak="pri",
    ).collect()
    assert [r["v"] for r in out] == [200]


def test_asof_plan_single_keyed_exchange(spark):
    """The whole as-of join is one hash exchange on the key (plus the
    union's inputs) and one window sort — no BroadcastNestedLoopJoin,
    no CartesianProduct, no sort-merge range join."""
    ev = spark.range(1000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 50).alias("k"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*97)").alias(
            "ts"
        ),
    )
    od = spark.range(200).select(
        (F.col("id") % 50).alias("k"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*403)").alias(
            "rts"
        ),
        F.col("id").alias("v"),
    )
    plan = _plan(
        asof_join(ev, od, on="k", left_ts="ts", right_ts="rts", value_cols=("v",))
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan[:2000]}"


def test_range_join_boundaries_and_exactly_once(spark):
    """start inclusive, end exclusive; an interval spanning a bucket
    boundary still yields each qualifying pair exactly once."""
    iv = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", "2020-01-11 00:00:00")],
        "iid long, s string, e string",
    ).select("iid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    pts = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00"),  # == start -> in
            (2, "2020-01-10 23:59:59"),  # just before end -> in
            (3, "2020-01-11 00:00:00"),  # == end -> OUT (exclusive)
            (4, "2019-12-31 23:59:59"),  # before start -> out
            (5, "2020-01-05 12:00:00"),  # middle, other side of a
            #   3-day bucket boundary than the start -> still once
        ],
        "pid long, ts string",
    ).select("pid", F.to_timestamp("ts").alias("ts"))
    out = range_point_join(iv, pts, "s", "e", "ts", bucket_seconds=3 * 86400)
    got = sorted(r["pid"] for r in out.collect())
    assert got == [1, 2, 5]


def test_fix_mojibake_classes_and_idempotence(spark):
    rows = spark.createDataFrame(
        [
            (0, "cafÃ© crÃ¨me"),
            (1, "rÃ©sumÃ© Â© 2024"),
            (2, "plain ascii only"),
            (3, "already café fixed"),  # real é -> gate must not fire
            (4, "â€” cp1252 dash"),  # unrepairable dialect
            (5, None),
        ],
        "id long, text string",
    )
    fixed = fix_mojibake(rows)
    got = {r["id"]: (r["text"], r["was_mojibake"]) for r in fixed.collect()}
    assert got[0] == ("café crème", 1)
    assert got[1] == ("résumé © 2024", 1)
    assert got[2] == ("plain ascii only", 0)
    assert got[3] == ("already café fixed", 0)
    assert got[4] == ("â€” cp1252 dash", 0)
    assert got[5] == (None, 0)

    # idempotent: a second application changes nothing and flags nothing
    again = fix_mojibake(fixed.drop("was_mojibake"))
    got2 = {r["id"]: (r["text"], r["was_mojibake"]) for r in again.collect()}
    assert all(got2[i] == (got[i][0], 0) for i in got2)

    # zero shuffles: pure projection
    assert "Exchange" not in _plan(fixed)


def test_asof_forward_and_nearest(spark):
    left = spark.createDataFrame(
        [
            (1, "2020-01-05 00:00:00", "a"),
            (1, "2020-01-02 00:00:00", "b"),  # exact tie with r1 (fwd + back)
            (1, "2020-01-10 00:00:00", "c"),  # after everything -> fwd null
            (1, "2020-01-03 00:00:00", "d"),  # equidistant 01-02/01-04 -> back
        ],
        "k long, ts string, tag string",
    ).select("k", F.to_timestamp("ts").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2020-01-02 00:00:00", 10), (1, "2020-01-04 00:00:00", 20)],
        "k long, rts string, v int",
    ).select("k", F.to_timestamp("rts").alias("rts"), "v")

    def run(direction):
        return {
            r["tag"]: r["v"]
            for r in asof_join(
                left,
                right,
                on="k",
                left_ts="ts",
                right_ts="rts",
                value_cols=("v",),
                direction=direction,
            ).collect()
        }

    assert run("forward") == {"a": None, "b": 10, "c": None, "d": 20}
    assert run("nearest") == {"a": 20, "b": 10, "c": 20, "d": 10}
    # nearest still plans as ONE keyed exchange
    plan = _plan(
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            value_cols=("v",), direction="nearest",
        )
    )
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, plan[:2000]


def test_asof_num_partitions_single_exchange(spark):
    """The explicit exchange-width pin is absorbed by the window (same
    hash distribution) — still exactly ONE exchange, at the pinned
    width."""
    ev = spark.range(1000).select(
        (F.col("id") % 50).alias("k"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*97)").alias(
            "ts"
        ),
    )
    od = spark.range(200).select(
        (F.col("id") % 50).alias("k"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*403)").alias(
            "rts"
        ),
        F.col("id").alias("v"),
    )
    plan = _plan(
        asof_join(
            ev, od, on="k", left_ts="ts", right_ts="rts", value_cols=("v",),
            num_partitions=24,
        )
    )
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, plan[:2000]
    assert re.search(r"Exchange hashpartitioning\(__asof_key#\d+[L]?, 24\b", plan), (
        plan[:2000]
    )


def test_asof_strict_and_tolerance(spark):
    """allow_exact_matches=False excludes the exact-tie row in every
    direction; tolerance_seconds nulls matches beyond the (inclusive)
    bound — both per pandas ``merge_asof`` semantics."""
    left = spark.createDataFrame(
        [(1, "2020-01-04 00:00:00", "a")], "k long, ts string, tag string"
    ).select("k", F.to_timestamp("ts").alias("ts"), "tag")
    right = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00", 5),
            (1, "2020-01-04 00:00:00", 20),  # exact tie with the left row
            (1, "2020-01-05 00:00:00", 25),
        ],
        "k long, rts string, v int",
    ).select("k", F.to_timestamp("rts").alias("rts"), "v")

    def run(**kw):
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            value_cols=("v",), **kw,
        ).collect()
        return out[0]["v"]

    # inclusive mode: the exact tie wins in every direction
    assert run(direction="backward") == 20
    assert run(direction="forward") == 20
    assert run(direction="nearest") == 20
    # strict mode: tie excluded -> strictly-before / strictly-after
    assert run(direction="backward", allow_exact_matches=False) == 5
    assert run(direction="forward", allow_exact_matches=False) == 25
    # nearest strict: 01-05 (1 day) beats 01-01 (3 days)
    assert run(direction="nearest", allow_exact_matches=False) == 25
    # tolerance: strict-backward match is 3 days away -> null under a
    # 1-day bound; strict-forward is exactly 1 day -> inclusive match
    day = 86400
    assert run(direction="backward", allow_exact_matches=False,
               tolerance_seconds=day) is None
    assert run(direction="forward", allow_exact_matches=False,
               tolerance_seconds=day) == 25
    assert run(direction="forward", allow_exact_matches=False,
               tolerance_seconds=day - 1) is None
    # nearest + tolerance: backward candidate pruned by the bound, the
    # in-bound forward candidate still matches
    assert run(direction="nearest", allow_exact_matches=False,
               tolerance_seconds=day) == 25
    assert run(direction="nearest", allow_exact_matches=False,
               tolerance_seconds=3600) is None


def test_asof_merge_asof_parity(spark):
    """Randomized parity sweep against pandas ``merge_asof`` across
    direction x allow_exact_matches x tolerance.  Right (key, ts) pairs
    are unique (no tiebreak ambiguity); left timestamps mix a
    never-colliding residue class with exact copies of right
    timestamps so the exact-match path is exercised."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    n_keys = 6
    r_ts = rng.choice(np.arange(1, 5000), size=150, replace=False) * 8
    r_keys = rng.randint(0, n_keys, r_ts.size)
    l_odd = rng.randint(0, 5000, 120) * 8 + 1  # never equals a right ts
    l_exact = rng.choice(r_ts, 60)
    l_ts = np.concatenate([l_odd, l_exact])
    l_keys = rng.randint(0, n_keys, l_ts.size)

    pdl = pd.DataFrame(
        {"k": l_keys, "t": l_ts, "rowid": np.arange(l_ts.size)}
    ).sort_values("t").reset_index(drop=True)
    pdr = pd.DataFrame({"k": r_keys, "t": r_ts, "v": r_ts * 3 + r_keys}) \
        .sort_values("t").reset_index(drop=True)

    sl = spark.createDataFrame(pdl).select(
        "k", F.timestamp_seconds("t").alias("ts"), "rowid"
    )
    sr = spark.createDataFrame(pdr).select(
        "k", F.timestamp_seconds("t").alias("rts"), "v"
    )

    for direction in ("backward", "forward", "nearest"):
        for exact in (True, False):
            for tol in (None, 400):
                expect = pd.merge_asof(
                    pdl, pdr, on="t", by="k", direction=direction,
                    allow_exact_matches=exact,
                    tolerance=tol,
                )
                want = {
                    int(r.rowid): (None if pd.isna(r.v) else int(r.v))
                    for r in expect.itertuples()
                }
                got = {
                    r["rowid"]: r["v"]
                    for r in asof_join(
                        sl, sr, on="k", left_ts="ts", right_ts="rts",
                        value_cols=("v",), direction=direction,
                        allow_exact_matches=exact, tolerance_seconds=tol,
                    ).collect()
                }
                assert got == want, (direction, exact, tol)


def test_asof_broadcast_equivalence_sweep(spark):
    """broadcast_right=True must agree with the shuffle path (itself
    pandas merge_asof-certified above) on every direction x
    allow_exact_matches x tolerance combination, including exact-tie
    and no-match rows."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    r_ts = rng.choice(np.arange(1, 4000), size=120, replace=False) * 8
    r_keys = rng.randint(0, 5, r_ts.size)
    l_ts = np.concatenate(
        [rng.randint(0, 4000, 90) * 8 + 1, rng.choice(r_ts, 40)]
    )
    l_keys = rng.randint(0, 6, l_ts.size)  # key 5 may miss entirely

    sl = spark.createDataFrame(
        pd.DataFrame({"k": l_keys, "t": l_ts, "rowid": np.arange(l_ts.size)})
    ).select("k", F.timestamp_seconds("t").alias("ts"), "rowid")
    sr = spark.createDataFrame(
        pd.DataFrame({"k": r_keys, "t": r_ts, "v": r_ts * 3 + r_keys})
    ).select("k", F.timestamp_seconds("t").alias("rts"), "v")

    for direction in ("backward", "forward", "nearest"):
        for exact in (True, False):
            for tol in (None, 400):
                def run(bcast):
                    return {
                        r["rowid"]: r["v"]
                        for r in asof_join(
                            sl, sr, on="k", left_ts="ts", right_ts="rts",
                            value_cols=("v",), direction=direction,
                            allow_exact_matches=exact, tolerance_seconds=tol,
                            broadcast_right=bcast,
                        ).collect()
                    }

                assert run(True) == run(False), (direction, exact, tol)


def test_asof_broadcast_plan_no_left_exchange(spark):
    """The broadcast path never shuffles or sorts the left (fact) side:
    the only hash exchange in the plan is the dimension's own
    collect_list aggregation, the join is a BroadcastHashJoin, and no
    window/Sort appears at all."""
    ev = spark.range(100000).select(
        (F.col("id") % 50).alias("k"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*97)").alias(
            "ts"
        ),
    )
    od = spark.range(200).select(
        (F.col("id") % 50).alias("k"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*403)").alias(
            "rts"
        ),
        F.col("id").alias("v"),
    )
    plan = _plan(
        asof_join(
            ev, od, on="k", left_ts="ts", right_ts="rts", value_cols=("v",),
            direction="nearest", broadcast_right=True,
        )
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 1, f"{n} exchanges:\n{plan[:2000]}"


def test_range_interval_join_exactly_once_and_boundaries(spark):
    """Overlap is half-open (touching intervals do NOT overlap); a pair
    co-occupying many buckets is emitted exactly once (owner-bucket
    rule); plan stays an equi-join."""
    from reading_the_unreadable_spark.operators.temporal import (
        range_interval_join,
    )

    a = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00", "2020-01-20 00:00:00"),  # long: 19d
            (2, "2020-02-01 00:00:00", "2020-02-02 00:00:00"),
        ],
        "aid long, s string, e string",
    ).select("aid", F.to_timestamp("s").alias("a_s"), F.to_timestamp("e").alias("a_e"))
    b = spark.createDataFrame(
        [
            (10, "2020-01-05 00:00:00", "2020-01-18 00:00:00"),  # spans many
            #   3-day buckets inside a -> must appear ONCE
            (11, "2020-01-20 00:00:00", "2020-01-25 00:00:00"),  # touches a's
            #   end exactly -> NOT an overlap (half-open)
            (12, "2019-12-30 00:00:00", "2020-01-01 00:00:01"),  # 1s overlap
            (13, "2020-02-01 12:00:00", "2020-02-03 00:00:00"),  # overlaps aid 2
        ],
        "bid long, s string, e string",
    ).select("bid", F.to_timestamp("s").alias("b_s"), F.to_timestamp("e").alias("b_e"))
    out = range_interval_join(
        a, b, "a_s", "a_e", "b_s", "b_e", bucket_seconds=3 * 86400
    )
    pairs = sorted((r["aid"], r["bid"]) for r in out.collect())
    assert pairs == [(1, 10), (1, 12), (2, 13)]

    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_point_prefix_agg_equivalence(spark):
    """The aggregation-level prefix-sum form must equal the pair-join +
    groupBy form row-for-row: randomized day-aligned intervals x
    second-grain points, including empty windows (emit no row), points
    outside every window, null timestamps (never match), and
    before/after-span windows (clamped lookups)."""
    from reading_the_unreadable_spark.operators.temporal import (
        range_point_prefix_agg,
    )

    iv = spark.range(200).select(
        F.col("id").alias("iid"),
        F.expr(
            "timestamp'2020-01-01' + make_interval(0,0,0,0,0,0,"
            " ((id * 37) % 500 - 120) * 86400)"
        ).alias("s"),
        F.expr(
            "timestamp'2020-01-01' + make_interval(0,0,0,0,0,0,"
            " ((id * 37) % 500 - 120 + 1 + id % 40) * 86400)"
        ).alias("e"),
    )
    pts = spark.range(5000).select(
        F.col("id").alias("pid"),
        F.when(
            F.col("id") % 97 != 0,
            F.expr(
                "timestamp'2020-01-01' + make_interval(0,0,0,0,0,0,"
                " (id * 7919) % 25920000)"
            ),
        ).alias("ts"),  # nulls every 97th row
        (F.col("id") % 1000).cast("long").alias("v"),
    )
    expected = {
        (r["iid"]): (r["n"], r["s2"])
        for r in range_point_join(iv, pts, "s", "e", "ts", bucket_seconds=40 * 86400)
        .groupBy("iid")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s2"))
        .collect()
    }
    got = {
        r["iid"]: (r["n_points"], r["sum_value"])
        for r in range_point_prefix_agg(iv, pts, "s", "e", "ts", "v").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_range_point_prefix_agg_no_pair_materialization(spark):
    """The prefix-sum plan must never materialize the (interval, point)
    pair set: the interval side joins only broadcast lookups — two
    broadcast hash joins against the span-bounded cumulative table and
    one single-row bounds attach (a 1-row BroadcastNestedLoopJoin the
    optimizer makes of the constant-key join) — never a sort-merge /
    shuffled join and never a cartesian over data rows."""
    from reading_the_unreadable_spark.operators.temporal import (
        range_point_prefix_agg,
    )

    iv = spark.range(100).select(
        F.col("id").alias("iid"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0, cast(id % 50 as int))").alias("s"),
        F.expr(
            "timestamp'2020-01-01' + make_interval(0,0,0, cast(id % 50 + 30 as int))"
        ).alias("e"),
    )
    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        F.expr("timestamp'2020-01-01' + make_interval(0,0,0,0,0,0, id*9000)").alias("ts"),
        F.lit(1).cast("long").alias("v"),
    )
    plan = _plan(range_point_prefix_agg(iv, pts, "s", "e", "ts", "v"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:3000]
    # two span-bounded lookups; the bounds attach may plan as a 1-row BNL
    assert plan.count("BroadcastHashJoin") == 2, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1
