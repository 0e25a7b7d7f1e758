"""Execution-policy helpers: the conditional rebalance, the pinned
fan-out width and the stage boundary's per-call scratch paths."""

from __future__ import annotations

import re

from reading_the_unreadable_spark.execution import (
    pin_fanout,
    spread,
    stage_boundary,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_skips_well_split_scan_and_balances_in_memory(spark, tmp_path):
    dp = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "scan")
    spark.range(dp * 4).repartition(dp).write.parquet(path)
    scan = spark.read.parquet(path)
    assert len(scan.inputFiles()) >= dp
    assert "RoundRobinPartitioning" not in _plan(spread(scan))

    in_memory = spark.createDataFrame([(i,) for i in range(10)], "v long")
    assert _plan(spread(in_memory)).count("RoundRobinPartitioning") == 1


def test_pin_fanout_width(spark):
    dp = spark.sparkContext.defaultParallelism
    plan = _plan(pin_fanout(spark.range(10).withColumnRenamed("id", "k"), "k"))
    widths = re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\), REPARTITION_BY_NUM", plan)
    assert widths == [str(max(2 * dp, 8))], plan


def test_stage_boundary_same_tag_independent(spark):
    first = stage_boundary(spark.range(10), "same_tag")
    second = stage_boundary(spark.range(20, 25), "same_tag")
    assert not set(first.inputFiles()) & set(second.inputFiles())
    assert sorted(r.id for r in first.collect()) == list(range(10))
    assert sorted(r.id for r in second.collect()) == list(range(20, 25))
