"""Structured Streaming tests: the stateful, dedup and join operators
match their batch twins, and the foreachBatch upsert converges to the
batch upsert. The windowed aggregation is checked against DuckDB by the
``stream_windowed_counts`` catalog entry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.sources.readers import read_table
from formula1_etl_analytics_project_spark.streaming.pipeline import (
    dedup_event_stream,
    incremental_upsert_stream,
    read_event_stream,
    stateful_user_totals,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Stage the events table as micro-second parquet files (several
    files so the stream sees multiple micro-batches)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, SF, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def test_stateful_user_totals_match_batch(spark, event_dir):
    """The applyInPandasWithState accumulator, after consuming every
    micro-batch, must agree with the batch groupBy - state carried
    across batches, not recomputed per batch."""
    stream = read_event_stream(spark, event_dir)
    totals = stateful_user_totals(stream)
    q = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update-mode memory sink appends one row per key per batch; the
    # final state per user is its row with the highest n_events.
    rows = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY n_events DESC) AS rn
          FROM user_totals) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in rows}
    batch = (
        spark.read.parquet(event_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    )
    expected = {r["user_id"]: (r["n"], round(r["tv"], 6)) for r in batch}
    assert set(got) == set(expected)
    for uid in expected:
        assert got[uid][0] == expected[uid][0], uid
        assert abs(got[uid][1] - expected[uid][1]) < 1e-4, uid


def test_stream_dedup_within_watermark(spark, event_dir, tmp_path_factory):
    """Each event written twice (two file copies) must survive exactly
    once through dropDuplicatesWithinWatermark."""
    dup_dir = str(tmp_path_factory.mktemp("events_dup"))
    src = spark.read.parquet(event_dir)
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)

    stream = read_event_stream(spark, dup_dir)
    deduped = dedup_event_stream(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_stream").collect()[0]
    assert got["n"] == src.count()
    assert got["d"] == src.count()


def test_incremental_upsert_stream(spark, event_dir, tmp_path_factory):
    """The sink is the commit-log store: every micro-batch merge lands
    as one commit carrying its epoch and is read back through
    read_committed_snapshot."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        read_committed,
        read_committed_snapshot,
    )

    snap = str(tmp_path_factory.mktemp("snap") / "events_snapshot")
    stream = read_event_stream(spark, event_dir)
    q = incremental_upsert_stream(stream, snap)
    q.awaitTermination()

    n_commits, _, epoch = read_committed(snap)
    assert epoch == n_commits - 1  # one commit per micro-batch, epochs from 0
    merged = read_committed_snapshot(spark, snap)
    source = spark.read.parquet(event_dir)
    assert merged.count() == source.count()
    assert merged.select("event_id").distinct().count() == source.count()


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path_factory):
    """The watermark CONTRACT, not just its syntax: after the
    watermark has advanced past a window, a late row for that window
    must be discarded (append mode) - the state-eviction property
    that bounds memory on an unbounded stream. Two file-source
    micro-batches make it deterministic: batch 1 advances the
    watermark to max(ts) - 1h; batch 2's straggler lands 10 hours
    before that and must not appear in the emitted counts."""
    import datetime as dt

    path = str(tmp_path_factory.mktemp("late_events"))
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows1 = [
        (i, base + dt.timedelta(hours=h, minutes=5), 100 + i, "click", 1.0)
        for i, h in enumerate([0, 0, 1, 12])
    ]
    spark.createDataFrame(
        rows1, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.parquet(f"{path}/b1")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop")
        .start()
    )
    q.processAllAvailable()  # batch 1: watermark -> 12:05 - 1h = 11:05

    # straggler at 01:10 - far behind the 11:05 watermark, its window
    # (01:00) is already finalized and its state evicted
    late = [(99, base + dt.timedelta(hours=1, minutes=10), 999, "click", 1.0)]
    spark.createDataFrame(
        late, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.parquet(f"{path}/b2")
    q.processAllAvailable()
    # one more empty-ish pass lets the final window (12:00) emit
    spark.createDataFrame(
        [(100, base + dt.timedelta(hours=20), 1, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).coalesce(1).write.parquet(f"{path}/b3")
    q.processAllAvailable()
    q.stop()

    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM late_drop").collect()
    }
    h0 = base
    h1 = base + dt.timedelta(hours=1)
    # hour-0 window: both on-time rows, emitted once finalized
    assert got.get((h0, "click")) == 2
    # hour-1 window: ONLY the on-time row - the straggler was dropped
    assert got.get((h1, "click")) == 1


def test_replayed_epoch_is_skipped(spark, tmp_path_factory):
    """Exactly-once contract of the streaming upsert: a micro-batch
    replayed with an already-committed epoch id (crash between
    snapshot commit and checkpoint advance) must be a no-op, even when
    its contents differ - the snapshot is the one the first commit
    produced, and the epoch survives in the commit file."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        read_committed,
        read_committed_snapshot,
    )
    from formula1_etl_analytics_project_spark.streaming.pipeline import (
        merge_epoch_batch,
    )

    path = str(tmp_path_factory.mktemp("eo_snap") / "store")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert merge_epoch_batch(b0, 0, path, ["k"]) is True
    assert read_committed(path)[2] == 0

    # replay of epoch 0 with MUTATED content (worst case) -> skipped
    b0_replay = spark.createDataFrame([(1, "CORRUPT")], "k long, v string")
    assert merge_epoch_batch(b0_replay, 0, path, ["k"]) is False
    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert snap == {1: "a", 2: "b"}

    # next epoch applies normally
    b1 = spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string")
    assert merge_epoch_batch(b1, 1, path, ["k"]) is True
    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}
    assert read_committed(path)[2] == 1

    # epoch REGRESSION (restarted query, reset checkpoint counter) is
    # neither replay nor progress: refuse loudly, never drop silently
    import pytest as _pytest

    with _pytest.raises(ValueError, match="epoch regression"):
        merge_epoch_batch(b0, 0, path, ["k"])


def test_malformed_head_epoch_raises_and_keeps_the_store(spark, tmp_path_factory):
    """A head commit whose epoch token does not parse must stop the
    merge loudly: treating it as "no epoch" would re-apply a replayed
    batch without a sign."""
    import os

    import pytest as _pytest

    from formula1_etl_analytics_project_spark.sources.sinks import (
        commit_log_upsert,
    )
    from formula1_etl_analytics_project_spark.streaming.pipeline import (
        merge_epoch_batch,
    )

    path = str(tmp_path_factory.mktemp("eo_bad") / "store")
    commit_log_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path,
        ["k"],
    )
    head = f"{path}/_log/00000001.commit"
    with open(head) as f:
        snap_dir = f.read().split()[0]
    with open(head, "w") as f:
        f.write(f"{snap_dir} epoch=x1\n")

    replay = spark.createDataFrame([(1, "CORRUPT")], "k long, v string")
    with _pytest.raises(ValueError, match="malformed commit file"):
        merge_epoch_batch(replay, 1, path, ["k"])
    assert sorted(os.listdir(f"{path}/_log")) == ["00000001.commit"]
    kept = spark.read.parquet(f"{path}/{snap_dir}")
    assert {r["k"]: r["v"] for r in kept.collect()} == {1: "a", 2: "b"}


def test_plain_upsert_keeps_the_committed_epoch(spark, tmp_path_factory):
    """A plain ``commit_log_upsert`` into a streaming store carries the
    head's epoch forward: a later replay of that epoch is still skipped
    and does not overwrite the plain upsert's value."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        commit_log_upsert,
        read_committed,
        read_committed_snapshot,
    )
    from formula1_etl_analytics_project_spark.streaming.pipeline import (
        merge_epoch_batch,
    )

    path = str(tmp_path_factory.mktemp("eo_plain") / "store")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert merge_epoch_batch(b0, 0, path, ["k"]) is True
    plain = spark.createDataFrame([(1, "plain")], "k long, v string")
    assert commit_log_upsert(spark, plain, path, ["k"]) == 2
    assert read_committed(path)[2] == 0

    replay = spark.createDataFrame([(1, "REPLAY")], "k long, v string")
    assert merge_epoch_batch(replay, 0, path, ["k"]) is False
    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert snap == {1: "plain", 2: "b"}
