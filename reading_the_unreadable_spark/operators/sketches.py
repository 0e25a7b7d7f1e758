"""Cardinality sketches with cross-engine-exact register math.

HyperLogLog (Flajolet et al. 2007) re-expressed so every register value
is a pure function of md5 hex strings: bucket = 16-bit hash prefix mod
m, rho = leading-zero BITS of the next 64 hash bits + 1 — counted with
string operations (leading-'0' run length × 4 + a nibble table), so
Spark and DuckDB compute IDENTICAL registers, and the estimator's
2^-rho sum is a sum of exact dyadics (order-independent in IEEE
double).  The only true floats are the final α·m²/Σ division and the
linear-counting ln, both 4-dp rounded.

Why this matters at 100 TB: exact distinct counts need a shuffle of
every distinct value; the sketch shuffles AT MOST m rows per group
(map-side partial max collapses the Zipf head), and sketches merge by
register max — the standard way to count distinct tokens / URLs /
fingerprints across a corpus without moving them.

Spark's built-in ``approx_count_distinct`` is the production choice;
this operator exists because its registers are ENGINE-PORTABLE — the
DuckDB oracle replays them bit-for-bit, which no built-in sketch
offers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# HLL: 2^HLL_P = 64 registers per group, whose bias constant α is 0.709.
HLL_P = 6
HLL_ALPHA = 0.709
CMS_DEPTH = 4
CMS_WIDTH = 256
# Bloom filter geometry: BLOOM_K hashes into BLOOM_M_BITS bits.
BLOOM_K = 5
BLOOM_M_BITS = 4096


def _rho(tail_hex: Column, bits: int) -> Column:
    """Leading-zero bits of a hex string + 1, via string ops only:
    (leading-'0' nibbles)·4 + a 15-way nibble table."""
    zeros_nibbles = F.length(F.regexp_extract(tail_hex, "^(0*)", 1))
    first_nz = F.substring(F.regexp_replace(tail_hex, "^0*", ""), 1, 1)
    extra = (
        F.when(first_nz == "1", 3)
        .when(first_nz.isin("2", "3"), 2)
        .when(first_nz.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return (
        F.when(first_nz == "", F.lit(bits + 1))  # all-zero tail
        .otherwise(zeros_nibbles * 4 + extra + 1)
        .cast("int")
    )


def hll_registers(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL registers: (group..., bucket, r) with
    r = max rho over the group's values in that bucket.  One shuffle on
    (group, bucket); partial aggregation collapses duplicates map-side,
    so the network carries ≤ m rows per group regardless of input
    size."""
    m = 1 << HLL_P
    h = F.md5(F.col(value_col).cast("string"))
    bucket = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % m
    ).cast("int")
    return (
        df.select(*group_cols, bucket.alias("bucket"),
                  _rho(F.substring(h, 5, 16), 64).alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def approx_distinct(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL cardinality estimate (4-dp rounded), with the
    standard small-range linear-counting correction (E ≤ 2.5m with
    empty registers → m·ln(m/V)), next to the true distinct count and
    the estimate's relative error — the accuracy evidence; the exact
    count costs the value shuffle the sketch alone avoids."""
    m = 1 << HLL_P
    regs = hll_registers(df, value_col, group_cols)
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    # absent registers contribute 2^0 = 1 each; V = count of empties
    s = F.col("s_present") + (F.lit(m) - F.col("n_present"))
    v = F.lit(m) - F.col("n_present")
    raw = F.lit(HLL_ALPHA * m * m) / s
    est = F.round(
        F.when(
            (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(m) / v)
        ).otherwise(raw),
        4,
    )
    out = agg.select(
        *group_cols,
        F.col("n_present").alias("n_registers_hit"),
        est.alias("hll_estimate"),
    )
    exact = df.groupBy(*group_cols).agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    return out.join(exact, group_cols).select(
        *group_cols,
        "n_exact",
        "n_registers_hit",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.greatest(F.col("n_exact"), F.lit(1)),
            4,
        ).alias("rel_err"),
    )


def cms_counts(df: DataFrame, value_col: str) -> DataFrame:
    """Count-min sketch table (Cormode & Muthukrishnan 2005): ``CMS_DEPTH``
    md5-seeded hash rows × ``CMS_WIDTH`` columns of exact integer counts —
    (d, col, c).  One shuffle of at most depth·width rows (map-side
    partial sums collapse the Zipf head); integer arithmetic end to
    end, so a DuckDB replica is EXACT, not approximately equal.

    The table IS the sketch: merge = cell-wise sum, point query = min
    over the value's depth cells (:func:`cms_estimate`)."""
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
            lambda d: F.struct(
                d.alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    d.cast("string"),
                                    F.lit("|"),
                                    F.col(value_col).cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % CMS_WIDTH
                ).cast("int").alias("col"),
            ),
        )
    )
    return (
        df.select(rows.alias("cell"))
        .select("cell.d", "cell.col")
        .groupBy("d", "col")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(cms: DataFrame, probes: DataFrame, value_col: str) -> DataFrame:
    """Point queries against a CMS table: each probe value hashes to
    one cell per row; the estimate is the min — an upper bound on the
    true count (classic CMS guarantee).  Probes are a small frame; the
    join broadcasts them against the ≤ depth·width-row sketch."""
    probe_cells = probes.select(
        F.col(value_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
                lambda d: F.struct(
                    d.alias("d"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        d.cast("string"),
                                        F.lit("|"),
                                        F.col(value_col).cast("string"),
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % CMS_WIDTH
                    ).cast("int").alias("col"),
                ),
            )
        ).alias("cell"),
    ).select(value_col, "cell.d", "cell.col")
    return (
        probe_cells.join(cms, ["d", "col"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_count"))
    )


def _bloom_positions(value_col: str) -> Column:
    """The ``BLOOM_K`` md5-seeded bit positions of each value, one row
    per position."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
            lambda i: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                i.cast("string"),
                                F.lit("#"),
                                F.col(value_col).cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % BLOOM_M_BITS
            ).cast("int"),
        )
    )


def bloom_bits(df: DataFrame, value_col: str) -> DataFrame:
    """Bloom filter bit set as a table of distinct set-bit positions —
    (bit).  ``BLOOM_K`` md5-seeded hashes per value; one
    distinct-shuffle of at most ``BLOOM_M_BITS`` rows.  Integer
    positions only → exact DuckDB parity.  Membership = all k positions
    present (:func:`bloom_contains`): no false negatives, false
    positives at the standard (1 - e^{-kn/m})^k rate."""
    return df.select(_bloom_positions(value_col).alias("bit")).distinct()


def bloom_contains(bits: DataFrame, probes: DataFrame, value_col: str) -> DataFrame:
    """Membership verdict per probe: present ⟺ all ``BLOOM_K`` bit
    positions are set.  The bit table is ≤ ``BLOOM_M_BITS`` rows —
    broadcast it; probes never shuffle."""
    probe_bits = probes.select(
        F.col(value_col), _bloom_positions(value_col).alias("bit")
    )
    from pyspark.sql.functions import broadcast

    hit = broadcast(bits.withColumn("present", F.lit(1)))
    return (
        probe_bits.join(hit, "bit", "left")
        .groupBy(value_col)
        .agg(
            (F.count("*") == F.sum(F.coalesce(F.col("present"), F.lit(0))))
            .alias("maybe_present")
        )
    )
