"""operators.sequence: dense surrogate ids without a global window.

The contract: identical VALUES to ``row_number() OVER (ORDER BY k)``,
but the fact table only crosses a range shuffle - the one
single-partition Exchange in the plan carries the k-row per-partition
counts, never the data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window, functions as F

from formula1_etl_analytics_project_spark.operators.sequence import (
    distributed_sequence,
)


@pytest.fixture(scope="module")
def scattered(spark):
    # 10k rows, deliberately scattered across 16 partitions in a
    # non-key order so the range shuffle has real work to do.
    rows = [Row(k=(i * 7919) % 10_000, payload=f"p{i}") for i in range(10_000)]
    return spark.createDataFrame(rows).repartition(16)


def test_matches_global_row_number(spark, scattered):
    got = distributed_sequence(scattered, "k", "seq")
    want = scattered.withColumn(
        "seq", F.row_number().over(Window.orderBy("k")).cast("long")
    )
    assert got.count() == 10_000
    diff = got.select("k", "seq").exceptAll(want.select("k", "seq"))
    assert diff.count() == 0


def test_dense_and_unique(spark, scattered):
    got = distributed_sequence(scattered, "k", "seq")
    agg = got.agg(
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
        F.count_distinct("seq").alias("n"),
    ).first()
    assert (agg["lo"], agg["hi"], agg["n"]) == (1, 10_000, 10_000)


def test_no_fact_scale_single_partition_exchange(spark, scattered):
    """The fact path goes Exchange rangepartitioning -> a native stamp
    (no Python worker); the only SinglePartition exchange sits directly
    over the k-row count aggregate (k = #partitions), so no full-data
    all-to-one funnel exists anywhere in the plan."""
    got = distributed_sequence(scattered, "k", "seq")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    lines = plan.splitlines()
    single = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert single, "expected the k-row offsets exchange"
    for i in single:
        # the exchange's child (next tree line) must be the partial/
        # final count aggregate - k rows - never a scan or the stamp
        assert "HashAggregate" in lines[i + 1], lines[i : i + 2]
    # and the partition/index stamp runs in the JVM: no Python exec node
    python_nodes = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
    assert not [l for l in lines if any(n in l for n in python_nodes)], plan


def test_build_pit_stop_plan_has_no_global_window(spark, tmp_path):
    """Regression for the round-1 scale finding: build_pit_stop must
    not compile to row_number over an unpartitioned window (an
    all-to-one Exchange of the whole pit-stop fact)."""
    from formula1_etl_analytics_project_spark.plans.star import build_pit_stop
    from formula1_etl_analytics_project_spark.sources.readers import read_wide_csv
    from formula1_etl_analytics_project_spark.sources.fixture import write_csv

    wide = read_wide_csv(spark, write_csv(str(tmp_path / "wide.csv")))
    df = build_pit_stop(wide)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            assert "HashAggregate" in lines[i + 1], lines[i : i + 2]
    assert "rangepartitioning" in plan


def test_composite_order_key_matches_multi_column_row_number(spark):
    """order_col as a list must rank lexicographically over the
    composite key, matching row_number() OVER (ORDER BY a, b) - ties
    on the first key are broken by the second, and the range shuffle
    partitions on both columns."""
    rows = [
        Row(a=(i * 31) % 50, b=i, payload=f"p{i}") for i in range(5_000)
    ]
    df = spark.createDataFrame(rows).repartition(16)
    got = distributed_sequence(df, ["a", "b"], "seq")
    want = df.withColumn(
        "seq", F.row_number().over(Window.orderBy("a", "b")).cast("long")
    )
    assert got.select("a", "b", "seq").exceptAll(
        want.select("a", "b", "seq")
    ).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
