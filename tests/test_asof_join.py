"""operators.joins.asof_join: both compositions agree (each forced
through the size-gate budget), the tie rule, and the no-fact-shuffle
plan property of the array composition."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.operators import joins
from formula1_etl_analytics_project_spark.operators.joins import asof_join


def _sides(spark):
    left = spark.createDataFrame(
        [
            (1, 10, datetime.datetime(2024, 1, 5)),
            (2, 10, datetime.datetime(2024, 1, 1)),   # before any order
            (3, 10, datetime.datetime(2024, 1, 10)),  # exactly at an order
            (4, 20, datetime.datetime(2024, 6, 1)),
            (5, 30, datetime.datetime(2024, 6, 1)),   # key with no orders
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, datetime.datetime(2024, 1, 2), 100),
            (10, datetime.datetime(2024, 1, 10), 200),
            (10, datetime.datetime(2024, 1, 10), 250),  # tie: max wins
            (10, datetime.datetime(2024, 2, 1), 300),
            (20, datetime.datetime(2024, 1, 1), 400),
        ],
        "k long, t timestamp, v long",
    )
    return left, right


EXPECTED = {1: 100, 2: None, 3: 250, 4: 400, 5: None}

# Size-gate budget that selects each composition: any estimate fits under
# the first, none under the second. The sides are in-memory RDD scans,
# which Catalyst sizes at spark.sql.defaultSizeInBytes (Long.MaxValue), so
# the default budget would pick the union.
BUDGET = {"array": float("inf"), "union": -1}
PLAN_NODE = {"array": "BroadcastHashJoin", "union": "Window"}


@pytest.mark.parametrize("strategy", ["array", "union"])
def test_asof_semantics_and_tie_rule(spark, monkeypatch, strategy):
    monkeypatch.setattr(joins, "_BOUNDED_DIM_BYTES", BUDGET[strategy])
    left, right = _sides(spark)
    out = asof_join(
        left, right,
        left_on="user_id", right_on="k",
        left_time="ts", right_time="t",
        value_col="v", out_col="last_v",
    )
    got = {r["event_id"]: r["last_v"] for r in out.collect()}
    assert got == EXPECTED, strategy
    assert set(out.columns) == {"event_id", "user_id", "ts", "last_v"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert PLAN_NODE[strategy] in plan, strategy


def test_auto_falls_back_to_union_over_budget(spark, monkeypatch):
    monkeypatch.setattr(joins, "_BOUNDED_DIM_BYTES", 1)  # force the fallback
    left, right = _sides(spark)
    out = asof_join(
        left, right,
        left_on="user_id", right_on="k",
        left_time="ts", right_time="t",
        value_col="v", out_col="last_v",
    )
    got = {r["event_id"]: r["last_v"] for r in out.collect()}
    assert got == EXPECTED
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "BroadcastHashJoin" not in plan


def test_array_strategy_never_shuffles_the_left_side(spark, monkeypatch):
    """The 100 TB property: the left (fact) side reaches the result
    through a broadcast hash join only — every Exchange in the plan
    belongs to the right side's group-to-array aggregation."""
    monkeypatch.setattr(joins, "_BOUNDED_DIM_BYTES", BUDGET["array"])
    left, right = _sides(spark)
    out = asof_join(
        left, right,
        left_on="user_id", right_on="k",
        left_time="ts", right_time="t",
        value_col="v",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # left side is a LocalTableScan feeding straight into the join —
    # no Exchange between them (exchanges exist only under the
    # broadcast build side)
    import re

    bhj = re.findall(r"BroadcastHashJoin.*", plan)
    assert bhj, plan[:1500]

