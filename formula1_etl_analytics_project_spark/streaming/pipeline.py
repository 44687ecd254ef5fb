"""Structured Streaming layer (SURVEY.md section 2.9 + M6).

The reference is batch-only (daily full reload), but its orphaned
``MERGE INTO`` experiment shows intended incremental load. Here both
shapes are first-class:

  * ``read_event_stream`` - the file-source stream over events-shaped
    parquet that the streaming catalog entries read. The watermarked
    operators below (dedup, per-user state, stream-stream join) and the
    catalog's tumbling-window aggregate run over it.
  * ``incremental_upsert_stream`` - ``foreachBatch`` merge of each
    micro-batch into the commit-log snapshot store via the same
    anti-join+union upsert the batch layer uses
    (sources.sinks.commit_log_upsert). The micro-batch epoch is
    written into the commit file with the snapshot it produced, so a
    replayed batch is skipped: exactly-once on plain parquet.

Scale notes: watermarks bound state store size (without one, a
groupBy-window over an unbounded stream grows state forever). The
foreachBatch upsert rewrites the snapshot per batch - fine for
dimension-sized sinks; a 100 TB fact sink would use Delta/Iceberg
MERGE (row-level) instead, same logical plan.

Tests drive these with a file source over the events testdata +
``processAllAvailable()`` so a batch of rows runs the streaming query
to completion synchronously.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from formula1_etl_analytics_project_spark.schemas import TESTDATA_SCHEMAS
from formula1_etl_analytics_project_spark.sources.sinks import (
    commit_log_upsert,
    read_committed,
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events-shaped parquet. The testdata
    events file stores TIMESTAMP(NANOS) which file streaming cannot
    read directly; callers stage a micro-second copy first (the catalog's
    ``_event_stream`` and the tests do), or point this at any
    events-schema directory."""
    return (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def dedup_event_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop ``event_id`` duplicates arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``) -
    the streaming form of the D1/D2 dedup family, with state bounded by
    the watermark instead of growing with the whole key history (which
    plain ``dropDuplicates`` on a stream would). The watermark is 10
    years, so every testdata event is on time and the result equals
    the batch dedup."""
    return events.withWatermark("ts", "10 years").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals
    carried across micro-batches via ``applyInPandasWithState``.

    This is the escape hatch for stateful semantics Spark's built-in
    windowed aggregates can't express (per-key accumulators, custom
    eviction, decaying counters): user-defined state (a counter + sum
    here) lives in the state store, each micro-batch's rows arrive as
    Arrow batches, and the operator emits one updated row per key per
    batch (output mode ``update``).

    Scale notes: state is partitioned by the grouping key across the
    cluster and checkpointed incrementally; per-key state is O(1) here
    so total state grows with distinct users, not events. An
    unbounded-key stream would add a timeout
    (``GroupStateTimeout.EventTimeTimeout``) to evict idle keys.
    """
    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_upsert_stream(events: DataFrame, snapshot_path: str):
    """foreachBatch incremental load: merge each micro-batch into the
    commit-log snapshot store at ``snapshot_path`` on ``event_id`` (new
    keys insert, existing keys update). Returns the StreamingQuery; caller
    awaits/stops it. Read the result with
    ``sinks.read_committed_snapshot``.

    Durability: each merge goes through ``merge_epoch_batch`` and
    ``sinks.commit_log_upsert`` - the merged snapshot is written to a
    new dir and published by one atomically linked commit file - so a
    reader NEVER sees a missing or partial snapshot, even if the job
    dies mid-batch. A replayed interrupted batch is SKIPPED entirely:
    the micro-batch epoch id is written into the commit file, and
    ``merge_epoch_batch`` compares the incoming epoch against the
    committed one before touching anything - EXACTLY-once for this
    single-writer sink (one streaming query per store), even for
    non-idempotent merges (tested by
    tests/test_streaming.py::test_replayed_epoch_is_skipped)."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_epoch_batch(batch, epoch_id, snapshot_path, ["event_id"])

    return (
        events.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )


def merge_epoch_batch(
    batch: DataFrame,
    epoch_id: int,
    snapshot_path: str,
    keys: list[str],
) -> bool:
    """One exactly-once foreachBatch merge: skip if ``epoch_id`` IS the
    committed epoch (checkpoint replay after a crash BETWEEN the
    snapshot commit and the streaming checkpoint advance - the only
    epoch Structured Streaming ever re-delivers for one checkpoint),
    else merge and write the epoch into the commit file that
    publishes the merged snapshot. Returns True when the batch was
    applied, False skipped. A head commit whose epoch token is
    malformed raises ``ValueError`` before anything is merged.

    An epoch LOWER than the committed one is neither a replay nor
    progress - it means the query restarted against a DIFFERENT (or
    wiped) checkpoint whose epoch counter reset, and silently skipping
    would discard genuinely new data until the counter caught up.
    That is refused loudly: pair each store with one checkpoint for
    its lifetime, or start a fresh store for a fresh checkpoint.
    """
    head = read_committed(snapshot_path)
    committed = head[2] if head else None
    if committed is not None:
        if epoch_id == committed:
            return False
        if epoch_id < committed:
            raise ValueError(
                f"epoch regression: store {snapshot_path} committed "
                f"epoch {committed} but received epoch {epoch_id}; the "
                "stream's checkpoint was reset or a different query is "
                "writing - refusing to silently drop batches. Use a "
                "fresh snapshot store for a fresh checkpoint."
            )
    commit_log_upsert(
        batch.sparkSession, batch, snapshot_path, keys, epoch_id=epoch_id
    )
    return True


def stream_stream_user_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Watermarked stream-stream INNER join: each left event pairs with
    right events of the SAME user whose timestamp falls within the
    trailing 10 minutes.

    Both sides carry event-time watermarks, and the join condition
    bounds the time skew, so the state store provably evicts: a
    buffered right row can only match left rows within the 10-minute
    horizon, and once the left watermark passes that bound the row is
    dropped. This is THE unbounded-state hazard of stream-stream joins
    - without the time bound the state grows forever. The watermark is
    10 years (all testdata "on time"), so the result equals the batch
    join exactly.
    """
    l = left.withWatermark("ts", "10 years").alias("l")
    r = right.withWatermark("ts", "10 years").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("r.ts") <= F.col("l.ts"))
    )
    return l.join(r, cond).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("event_a"),
        F.col("r.event_id").alias("event_b"),
    )
