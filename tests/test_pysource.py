"""Custom Python DataSource tests: determinism, partitioned reads,
schema contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.sources.pysource import SyntheticEventsDataSource


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    spark.dataSource.register(SyntheticEventsDataSource)


def _read(spark, **opts):
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_row_count_and_schema(spark):
    df = _read(spark, rows=500, partitions=4)
    assert df.count() == 500
    assert [f.name for f in df.schema.fields] == [
        "event_id", "user_id", "event_type", "ts", "value",
    ]
    assert df.select("event_id").distinct().count() == 500


def test_partitioned_read(spark):
    df = _read(spark, rows=1000, partitions=5)
    assert df.rdd.getNumPartitions() == 5


def test_deterministic_across_layouts(spark):
    """Same (seed, rows) must yield identical content regardless of
    partition count - the replayability contract."""
    a = sorted(map(tuple, _read(spark, rows=300, partitions=3).collect()))
    b = sorted(map(tuple, _read(spark, rows=300, partitions=7).collect()))
    assert a == b


def test_composes_with_engine_ops(spark):
    """The custom source is a first-class scan: aggregations and joins
    run over it like any table."""
    df = _read(spark, rows=400, partitions=4)
    agg = df.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    assert sum(r["n"] for r in agg) == 400
    assert all(r["n"] > 0 for r in agg)
