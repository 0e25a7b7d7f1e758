"""Temporal joins Spark's optimizer has no native operator for: as-of
join and interval/range join, both expressed as compositions of
exchanges Spark CAN plan well (single keyed shuffle + window; bounded
bucket equi-join) instead of the inequality-join fallback (broadcast
nested loop / unbounded sort-merge range scan) a naive ``ON a.ts >=
b.ts`` condition triggers.

Reference context: the reference pipeline is batch-only pandas and
does ``merge_asof``-style alignment implicitly by sorting whole frames
in memory (e.g. ordering content rows before the knit fold,
``function_modules/knit_functions.py``); at cluster scale the same
alignment must be a keyed shuffle, never a global sort.

``asof_join`` — for every left row, the single latest right row with
the same key and ``right_ts <= left_ts`` (backward direction, the
``pandas.merge_asof`` default and DuckDB ``ASOF JOIN`` semantics).
Implementation: union the two sides into one frame tagged with a sort
sequence (right rows first within a timestamp tie), shuffle ONCE on
the key, and run ``last(value_struct, ignorenulls=True)`` over a
window ordered by (ts, seq, tiebreak) — each left row picks up the
most recent right payload carried forward.  No inequality join, no
per-key collect, no range explosion: cost is one exchange + one
per-partition sort, identical to a plain windowed aggregation, and
AQE's skew split applies to hot keys as usual.

``range_point_prefix_agg`` — per-interval count/sum over the points
with ``start <= ts < end``, with NO equi-key.  Naive Spark plans the
pair join as a cartesian/BNL join; here a count/sum per half-open
interval is a difference of two prefix sums over a span-bounded cell
table, so the cost is O(points + intervals) and no pair row exists.

``range_interval_join`` — all overlapping (interval, interval) pairs,
no equi-key.  Both sides are mapped onto fixed-width time buckets
(intervals explode to the bucket ids they overlap, ``sequence``) and
the candidate set is the bucket equi-join, bounded by bucket
co-occupancy (replication factor = interval_len/bucket + 1, chosen by
the caller to match the interval-length distribution).  Each pair is
kept only in the bucket holding its overlap start, so every qualifying
pair is produced exactly once — no post-join dedup.  The exact
predicate is applied AFTER the bucket join prunes candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..execution import pin_fanout


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: tuple[str, ...],
    tiebreak: str | None = None,
    direction: str = "backward",
    num_partitions: int | None = None,
    allow_exact_matches: bool = True,
    tolerance_seconds: int | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """As-of join: every ``left`` row joined to the single ``right``
    row with equal ``on`` key chosen by ``direction``:

    - ``backward`` (default): latest right row with ``right_ts <=
      left_ts`` — DuckDB ``ASOF JOIN`` / ``merge_asof`` default;
    - ``forward``: earliest right row with ``right_ts >= left_ts``;
    - ``nearest``: whichever of the two is closer in absolute time,
      ties going to the backward match (deterministic; pandas leaves
      this case unspecified).

    ``allow_exact_matches`` (default True): whether an exactly-equal
    timestamp qualifies — with False, backward means strictly-before
    and forward strictly-after (``merge_asof`` parity).  Implemented
    purely in the tie-ordering: strict mode re-tags right rows so they
    sort on the EXCLUDED side of same-timestamp left rows in both
    window directions — no extra pass, no predicate.

    ``tolerance_seconds``: maximum allowed |left_ts - right_ts| for a
    match (inclusive, like ``merge_asof(tolerance=...)``); matches
    beyond it become nulls.  For ``nearest`` the bound applies to each
    direction BEFORE the closer-of-the-two pick.

    Left rows with no qualifying right row keep null values
    (left-join semantics).

    ``tiebreak``: when several right rows share (key, ts), the row
    with the greatest tiebreak value wins deterministically; pass None
    only when (key, right_ts) is unique.

    Returns all ``left`` columns plus ``value_cols`` from ``right``.
    One shuffle on ``on``; window sort per key partition (``nearest``
    runs both carry directions over the SAME sorted partition — still
    one exchange, plan-asserted in tests/test_temporal.py).

    ``num_partitions``: explicit width for the keyed exchange.  The
    as-of rows are BYTE-small but the downstream sort+carry is the
    job's entire cost, so AQE's byte-based coalescing can collapse the
    exchange well below the core count and cap parallelism (measured:
    8→16-core scaling 0.56 coalesced vs 0.77 pinned on a 16M-row
    input — the same Generate/coalesce lesson as the eval-core
    pin, SURVEY §10).  Pass an explicit count for large inputs; the
    window reuses the repartition's hash distribution, so this does
    NOT add a second exchange (plan-asserted).

    ``broadcast_right``: the dimension-sized scale path.  When the
    right side is small (a rate table, a config history, a calendar —
    anything that fits per-key in a broadcast hash map), the union +
    keyed-shuffle plan above still EXCHANGES THE ENTIRE LEFT SIDE,
    which at 10^12 fact rows is the whole job cost.  With
    ``broadcast_right=True`` the right side collapses to one sorted
    per-key match array (one tiny shuffle of the dimension only), is
    broadcast, and each left row resolves its match with JVM
    higher-order functions — the fact table never shuffles and never
    sorts (plan-asserted: zero exchanges over the left input).
    Semantics are identical across every direction / strict /
    tolerance combination (equivalence-swept in tests).  The per-key
    arrays live in executor memory; use the default shuffle path when
    the right side is fact-sized.  ``num_partitions`` is ignored here
    (there is no left exchange to widen).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    if broadcast_right:
        return _asof_join_broadcast(
            left, right, on, left_ts, right_ts, value_cols,
            tiebreak=tiebreak, direction=direction,
            allow_exact_matches=allow_exact_matches,
            tolerance_seconds=tolerance_seconds,
        )
    payload = F.struct(
        F.col(right_ts).cast("timestamp").alias("__asof_rts"),
        *[F.col(c) for c in value_cols],
    ).alias("__asof_payload")
    tb = F.col(tiebreak) if tiebreak else F.lit(0)
    # Tie-ordering tag for right rows: 0 sorts on the INCLUDED side of
    # same-timestamp left rows (seq 1) under BOTH window orderings
    # (backward sorts seq ascending, forward descending), 2 on the
    # EXCLUDED side of both — which is exactly strict-inequality mode.
    r_seq = 0 if allow_exact_matches else 2
    r = right.select(
        F.col(on).alias("__asof_key"),
        F.col(right_ts).alias("__asof_ts"),
        F.lit(r_seq).alias("__asof_seq"),
        tb.cast("long").alias("__asof_tb"),
        payload,
        *[F.lit(None).cast(f.dataType).alias(f"__l_{f.name}") for f in left.schema.fields],
    )
    l_payload_t = r.schema["__asof_payload"].dataType
    l = left.select(
        F.col(on).alias("__asof_key"),
        F.col(left_ts).alias("__asof_ts"),
        F.lit(1).alias("__asof_seq"),
        F.lit(0).cast("long").alias("__asof_tb"),
        F.lit(None).cast(l_payload_t).alias("__asof_payload"),
        *[F.col(f.name).alias(f"__l_{f.name}") for f in left.schema.fields],
    )
    u = r.unionByName(l)
    if num_partitions is not None:
        u = u.repartition(num_partitions, "__asof_key")
    # Backward: right rows sort BEFORE left rows at an equal timestamp
    # (seq 0 < 1) so last() over the preceding frame includes the tie;
    # larger tiebreak sorts later -> carried value is the max-tiebreak
    # row of the latest timestamp.  Forward: the mirror — right rows
    # must sort AFTER left rows at an equal timestamp, and among equal
    # (ts, seq) the max tiebreak must come FIRST so first() picks it.
    w_back = (
        Window.partitionBy("__asof_key")
        .orderBy("__asof_ts", "__asof_seq", "__asof_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("__asof_key")
        .orderBy("__asof_ts", F.col("__asof_seq").desc(), F.col("__asof_tb").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    def _tol(match):
        """Null out a carried match whose |left_ts - right_ts| exceeds
        the tolerance (inclusive bound, merge_asof parity)."""
        if tolerance_seconds is None:
            return match
        delta = F.abs(
            F.unix_micros(F.col("__asof_ts"))
            - F.unix_micros(match["__asof_rts"])
        )
        return F.when(
            match.isNotNull()
            & (delta <= F.lit(int(tolerance_seconds) * 1_000_000)),
            match,
        )

    if direction == "backward":
        carried = u.withColumn(
            "__asof_match",
            _tol(F.last("__asof_payload", ignorenulls=True).over(w_back)),
        )
    elif direction == "forward":
        carried = u.withColumn(
            "__asof_match",
            _tol(F.first("__asof_payload", ignorenulls=True).over(w_fwd)),
        )
    else:  # nearest
        carried = (
            u.withColumn(
                "__asof_b",
                _tol(F.last("__asof_payload", ignorenulls=True).over(w_back)),
            )
            .withColumn(
                "__asof_f",
                _tol(F.first("__asof_payload", ignorenulls=True).over(w_fwd)),
            )
            .withColumn(
                "__asof_match",
                F.when(F.col("__asof_b").isNull(), F.col("__asof_f"))
                .when(F.col("__asof_f").isNull(), F.col("__asof_b"))
                .when(
                    # tie -> backward (<=)
                    F.unix_micros(F.col("__asof_ts"))
                    - F.unix_micros(F.col("__asof_b.__asof_rts"))
                    <= F.unix_micros(F.col("__asof_f.__asof_rts"))
                    - F.unix_micros(F.col("__asof_ts")),
                    F.col("__asof_b"),
                )
                .otherwise(F.col("__asof_f")),
            )
        )
    out = carried.filter(F.col("__asof_seq") == 1).select(
        *[F.col(f"__l_{f.name}").alias(f.name) for f in left.schema.fields],
        *[F.col("__asof_match")[c].alias(c) for c in value_cols],
    )
    return out


def _asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: tuple[str, ...],
    tiebreak: str | None,
    direction: str,
    allow_exact_matches: bool,
    tolerance_seconds: int | None,
) -> DataFrame:
    """Broadcast physical strategy for :func:`asof_join` (see its
    docstring for the semantics contract).  Right rows fold to ONE
    sorted array per key — ascending (ts, tiebreak), so the last
    element of any filtered prefix is the latest-timestamp /
    max-tiebreak match, mirroring the shuffle path's window ordering —
    then a broadcast hash join hands each left row its key's array and
    ``filter``/``try_element_at`` higher-order functions resolve the
    match entirely inside codegen.  No Python, no window, no left-side
    exchange."""
    tb = (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long")
    elem = F.struct(
        F.col(right_ts).cast("timestamp").alias("__asof_rts"),
        tb.alias("__asof_tb"),
        F.struct(
            F.col(right_ts).cast("timestamp").alias("__asof_rts"),
            *[F.col(c) for c in value_cols],
        ).alias("__asof_payload"),
    )
    dim = (
        right.select(F.col(on).alias("__asof_key"), elem.alias("__asof_e"))
        .groupBy("__asof_key")
        .agg(F.sort_array(F.collect_list("__asof_e")).alias("__asof_arr"))
    )
    lts = F.col("__asof_lts")
    joined = left.withColumn(
        "__asof_lts", F.col(left_ts).cast("timestamp")
    ).join(F.broadcast(dim), F.col(on) == F.col("__asof_key"), "left")

    def _match_backward(strict: bool):
        pred = (
            (lambda e: e["__asof_rts"] < lts)
            if strict
            else (lambda e: e["__asof_rts"] <= lts)
        )
        return F.try_element_at(F.filter(F.col("__asof_arr"), pred), F.lit(-1))

    def _match_forward(strict: bool):
        pred = (
            (lambda e: e["__asof_rts"] > lts)
            if strict
            else (lambda e: e["__asof_rts"] >= lts)
        )
        cand = F.filter(F.col("__asof_arr"), pred)
        first_ts = F.try_element_at(cand, F.lit(1))["__asof_rts"]
        # earliest qualifying timestamp, max tiebreak among its ties —
        # exactly the shuffle path's (ts asc, seq desc, tb desc) first()
        return F.try_element_at(
            F.filter(cand, lambda e: e["__asof_rts"] == first_ts), F.lit(-1)
        )

    def _tol(match):
        payload = match["__asof_payload"]
        if tolerance_seconds is None:
            return payload
        delta = F.abs(
            F.unix_micros(lts) - F.unix_micros(payload["__asof_rts"])
        )
        return F.when(
            match.isNotNull()
            & (delta <= F.lit(int(tolerance_seconds) * 1_000_000)),
            payload,
        )

    strict = not allow_exact_matches
    if direction == "backward":
        joined = joined.withColumn("__asof_match", _tol(_match_backward(strict)))
    elif direction == "forward":
        joined = joined.withColumn("__asof_match", _tol(_match_forward(strict)))
    else:  # nearest: closer of the two, ties backward
        joined = (
            joined.withColumn("__asof_b", _tol(_match_backward(strict)))
            .withColumn("__asof_f", _tol(_match_forward(strict)))
            .withColumn(
                "__asof_match",
                F.when(F.col("__asof_b").isNull(), F.col("__asof_f"))
                .when(F.col("__asof_f").isNull(), F.col("__asof_b"))
                .when(
                    F.unix_micros(lts)
                    - F.unix_micros(F.col("__asof_b.__asof_rts"))
                    <= F.unix_micros(F.col("__asof_f.__asof_rts"))
                    - F.unix_micros(lts),
                    F.col("__asof_b"),
                )
                .otherwise(F.col("__asof_f")),
            )
        )
    return joined.select(
        *[F.col(f.name) for f in left.schema.fields],
        *[F.col("__asof_match")[c].alias(c) for c in value_cols],
    )


GRAIN_SECONDS = 86400  # range_point_prefix_agg's cell: one day


def range_point_prefix_agg(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-interval ``count``/``sum`` over points in ``[start, end)``,
    for callers that never need the pair rows themselves.

    A bucketed range join + groupBy materializes every qualifying
    (interval, point) pair before collapsing it; with dense overlapping
    windows that pair set is O(intervals x points-per-window) — it grew
    quadratically with scale factor in the bench.  A count/sum per
    half-open interval is a difference of two PREFIX SUMS, so this
    operator is O(points + intervals):

    1. points pre-aggregate to ``GRAIN_SECONDS`` cells (one map-side-
       combined shuffle; output is bounded by the corpus TIME SPAN /
       grain, not by data size);
    2. a single-row higher-order fold turns the sorted cell array into
       a dense cumulative lookup table (cell -> points/sum at or before
       cell) — the global step touches only the span-bounded cell
       table, never data rows, and uses no unpartitioned window;
    3. the lookup table broadcast-hash-joins back to the intervals
       twice (end-1 and start-1 cells, clamped to the observed span).

    Intervals with zero qualifying points emit no row — exactly the
    inner-join + groupBy contract.  Null point timestamps never match
    (predicate semantics).

    PRECONDITION: interval bounds aligned to ``GRAIN_SECONDS`` (date
    bounds: the grain is one day).  Point timestamps are
    arbitrary.  Equivalence against the join+groupBy form
    (``range_point_join`` in tests/operator_specs.py) is pinned in
    tests/test_temporal.py.

    Output: all ``intervals`` columns + ``n_points`` (long) +
    ``sum_value`` (same type family as ``sum(value_col)``).
    """
    g = F.lit(GRAIN_SECONDS).cast("long")
    cell = lambda c: F.floor(F.unix_timestamp(F.col(c)) / g).cast("long")  # noqa: E731
    cells = (
        points.filter(F.col(ts_col).isNotNull())
        .select(cell(ts_col).alias("c"), F.col(value_col).alias("v"))
        .groupBy("c")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    # ONE row holding the sorted populated-cell array; every global
    # step below runs inside this row over span/grain entries.
    arr = cells.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("c", "n", "s"))).alias("a")
    )
    zero = F.expr(
        "array(struct(cast(0 as long) as c, cast(0 as long) as n,"
        " cast(0 as long) as s))"
    )
    # running sums over the sorted array (seeded with a zero struct the
    # filter drops again via its position — we keep it: it becomes the
    # lo-1 row of the dense table)
    cum = F.aggregate(
        "a",
        zero,
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.struct(
                    x["c"].alias("c"),
                    (F.element_at(acc, -1)["n"] + x["n"]).alias("n"),
                    (F.element_at(acc, -1)["s"] + x["s"]).alias("s"),
                )
            ),
        ),
    )
    lo = F.element_at("a", 1)["c"]
    hi = F.element_at("a", -1)["c"]
    folded = arr.select(
        lo.alias("__rpa_lo"), hi.alias("__rpa_hi"), cum.alias("cum")
    )
    # dense gap-fill: entry i of cum covers cells [c_i, c_{i+1} - 1]
    # (the seed zero row is re-labelled lo-1 and covers up to the first
    # populated cell); explode to one row per covered cell so interval
    # lookups are plain broadcast hash equi-joins.
    lut = (
        folded.select(
            F.explode(
                F.expr(
                    "transform(cum, (e, i) -> struct("
                    " sequence(if(i = 0, __rpa_lo - 1, e.c),"
                    "          if(i = size(cum) - 1, e.c,"
                    "             cum[i + 1].c - 1)) as cs,"
                    " e.n as n, e.s as s))"
                )
            ).alias("sp")
        )
        .select(
            F.explode("sp.cs").alias("k"),
            F.col("sp.n").alias("n"),
            F.col("sp.s").alias("s"),
        )
    )
    bounds = folded.select("__rpa_lo", "__rpa_hi").withColumn(
        "__rpa_one", F.lit(1)
    )
    iv = intervals.withColumn("__rpa_one", F.lit(1)).join(
        F.broadcast(bounds), "__rpa_one"
    )
    clamp = lambda c: F.greatest(  # noqa: E731
        F.least(c, F.col("__rpa_hi")), F.col("__rpa_lo") - 1
    )
    iv = iv.withColumn("__rpa_k0", clamp(cell(start_col) - 1)).withColumn(
        "__rpa_k1", clamp(cell(end_col) - 1)
    )
    lut0 = lut.select(
        F.col("k").alias("__rpa_k0"),
        F.col("n").alias("__rpa_n0"),
        F.col("s").alias("__rpa_s0"),
    )
    lut1 = lut.select(
        F.col("k").alias("__rpa_k1"),
        F.col("n").alias("__rpa_n1"),
        F.col("s").alias("__rpa_s1"),
    )
    out = (
        iv.join(F.broadcast(lut0), "__rpa_k0")
        .join(F.broadcast(lut1), "__rpa_k1")
        .withColumn("n_points", F.col("__rpa_n1") - F.col("__rpa_n0"))
        .withColumn("sum_value", F.col("__rpa_s1") - F.col("__rpa_s0"))
        .filter(F.col("n_points") > 0)
    )
    return out.select(*intervals.columns, "n_points", "sum_value")


def range_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int,
) -> DataFrame:
    """All (left row, right row) pairs whose half-open intervals
    OVERLAP (``l_start < r_end AND r_start < l_end``), no equi-key.

    Both sides reduce to their DISTINCT (start, end) intervals first,
    the distinct intervals explode to the fixed-width buckets they
    touch, and the candidate set is the bucket equi-join at that
    grain.  Overlapping interval pairs can co-occupy MANY buckets, so
    each is emitted exactly once by keeping it only in the bucket that
    contains the overlap's start (``greatest(l_start, r_start)``) — a
    deterministic single owner per pair, no ``distinct`` shuffle.  The
    exact overlap predicate is applied after the bucket prune.
    Qualifying interval pairs then expand back to row pairs through
    two hash joins on the endpoint columns — output-bounded by
    construction.

    Why the distinct grain: rows sharing an interval are
    interchangeable for the join decision, so with duplication factor
    k per side the candidate join runs k² cheaper; with fully unique
    intervals the distinct/expansion steps add only endpoint-sized
    shuffles while the candidate join cost is unchanged.  Replication
    factor per distinct interval = interval_len/bucket + 1 (pick
    ``bucket_seconds`` near the typical interval length).  Column
    names must not collide.
    """
    b = F.lit(int(bucket_seconds)).cast("long")

    ld = left.select(
        F.col(left_start).alias("__rng_ls"), F.col(left_end).alias("__rng_le")
    ).distinct()
    rd = right.select(
        F.col(right_start).alias("__rng_rs"),
        F.col(right_end).alias("__rng_re"),
    ).distinct()

    def explode_side(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "__rng_bucket",
            F.explode(
                F.sequence(
                    (F.unix_timestamp(F.col(s)) / b).cast("long"),
                    (F.unix_timestamp(F.col(e)) / b).cast("long"),
                )
            ),
        )

    lv = explode_side(ld, "__rng_ls", "__rng_le")
    rv = explode_side(rd, "__rng_rs", "__rng_re")
    overlap = (F.col("__rng_ls") < F.col("__rng_re")) & (
        F.col("__rng_rs") < F.col("__rng_le")
    )
    owner = (
        F.unix_timestamp(
            F.greatest(F.col("__rng_ls"), F.col("__rng_rs"))
        ) / b
    ).cast("long")
    dpairs = (
        lv.join(rv, "__rng_bucket")
        .filter(overlap & (F.col("__rng_bucket") == owner))
        .drop("__rng_bucket")
    )
    # the expansion joins are byte-SMALL in but output-HUGE (row pairs):
    # left to AQE's byte heuristic they coalesce to a handful of tasks
    # (the Generate/coalesce trap, SURVEY §10) — pin the fan-out on both
    # sides of each join; the joins reuse the pinned hash distribution
    dpairs = pin_fanout(dpairs, "__rng_ls", "__rng_le")
    lkeyed = pin_fanout(left, left_start, left_end)
    step1 = dpairs.join(
        lkeyed,
        (F.col(left_start) == F.col("__rng_ls"))
        & (F.col(left_end) == F.col("__rng_le")),
    )
    step1 = pin_fanout(step1, "__rng_rs", "__rng_re")
    rkeyed = pin_fanout(right, right_start, right_end)
    out = step1.join(
        rkeyed,
        (F.col(right_start) == F.col("__rng_rs"))
        & (F.col(right_end) == F.col("__rng_re")),
    )
    return out.select(*left.columns, *right.columns)
