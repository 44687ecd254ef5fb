"""Source/sink format breadth beyond parquet: JDBC write construction,
line-oriented text reads, small-file compaction and observed write
metrics. Complements the CSV sentinel and JSONL entries in the oracle
gate."""

from __future__ import annotations

from formula1_etl_analytics_project_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def test_jdbc_write_construction(spark):
    """S4/S5 construction-only (no JDBC driver/DB in this container):
    the batch-size property and the connection-count cap must be in
    place before the terminal .jdbc() call - each partition is one
    connection streaming prepared-statement batches, the distributed
    replacement for the reference's per-row INSERT loop."""
    import pytest as _pytest

    from formula1_etl_analytics_project_spark.sources.sinks import (
        prepare_jdbc_write,
    )

    df = spark.range(1000)
    writer_df, props = prepare_jdbc_write(
        df, batch_size=500, num_partitions=4, properties={"user": "etl"}
    )
    assert props["batchsize"] == "500"
    assert props["user"] == "etl"
    assert writer_df.rdd.getNumPartitions() == 4
    # no cap requested -> input partitioning untouched (no extra shuffle)
    same_df, _ = prepare_jdbc_write(df, batch_size=500)
    assert same_df.rdd.getNumPartitions() == df.rdd.getNumPartitions()
    with _pytest.raises(ValueError):
        prepare_jdbc_write(df, batch_size=0)


def test_text_line_source(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("txt") / "lines")
    docs = read_table(spark, SF, "documents").select("text").limit(20)
    docs.coalesce(1).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    assert lines.columns == ["value"]
    assert lines.count() == sum(r.text.count("\n") + 1 for r in docs.collect())


def test_compact_parquet_merges_small_files(spark, tmp_path_factory):
    """Many tiny files -> one right-sized file; values unchanged."""
    import glob
    import os

    from formula1_etl_analytics_project_spark.sources.sinks import compact_parquet

    path = str(tmp_path_factory.mktemp("compact") / "t")
    spark.range(10_000).repartition(64).write.parquet(path)
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before >= 32
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    after = glob.glob(os.path.join(path, "*.parquet"))
    assert n == 1 and len(after) == 1
    assert spark.read.parquet(path).count() == 10_000
    got = spark.read.parquet(path).agg({"id": "sum"}).collect()[0][0]
    assert got == sum(range(10_000))


def test_compact_staging_invisible_to_partitioned_readers(spark, tmp_path_factory):
    """ADVICE r02: compacting a Hive partition dir '.../part=A' must not
    stage under a sibling that parses as another partition value - a
    crash would leave it and the parent-table read would double-count.
    The staging dir is underscore-prefixed (readers skip it), and stale
    leftovers from a crashed run are cleaned by the next compact."""
    import glob
    import os

    from formula1_etl_analytics_project_spark.sources.sinks import compact_parquet

    root = str(tmp_path_factory.mktemp("compactpart") / "t")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B") for i in range(1000)], ["id", "part"]
    )
    df.repartition(8).write.partitionBy("part").parquet(root)
    part_a = os.path.join(root, "part=A")

    # simulate a crashed earlier compaction: leftover staging with data
    stale = os.path.join(root, "_compact_tmp_part-A_deadbeef0000")
    spark.read.parquet(part_a).write.parquet(stale)
    # underscore prefix: parent-table reads must NOT see the leftover
    assert spark.read.parquet(root).count() == 1000

    n = compact_parquet(spark, part_a, target_file_bytes=1 << 30)
    assert n == 1
    # stale staging cleaned, no new visible sibling left behind
    siblings = {os.path.basename(p) for p in glob.glob(os.path.join(root, "*"))}
    assert {s for s in siblings if not s.startswith("_")} == {"part=A", "part=B"}
    assert not any(s.startswith("_compact_tmp_") for s in siblings), siblings
    assert not os.path.exists(stale)
    assert spark.read.parquet(root).count() == 1000
    assert spark.read.parquet(part_a).count() == 500


def test_observed_write_metrics(spark, tmp_path_factory):
    """Data-quality counters piggyback the write job (Observation API):
    row and non-null counts come back with ZERO extra passes over the
    data - at 100 TB the alternative is a second full scan per metric."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("quality")
    df = spark.range(100).withColumn(
        "v", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
    )
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n"), F.count("v").alias("n_nonnull")
    )
    path = str(tmp_path_factory.mktemp("obs") / "t")
    observed.write.mode("overwrite").parquet(path)
    got = obs.get
    assert got["n"] == 100 and got["n_nonnull"] == 90
