"""Custom Python data source (Spark 4 DataSource API).

The extension surface for sources Spark has no built-in reader for
(internal feeds, bespoke formats, synthetic generators). This one
generates deterministic synthetic telemetry events - the shape of the
driver's ``events`` table - split across N partitions, demonstrating:

  * schema declaration on the source (``schema()``)
  * PARTITIONED reads: each ``InputPartition`` is generated
    independently on an executor - the same mechanism that lets a
    custom source scale out over a cluster instead of funneling
    through the driver
  * option passing (``rows``, ``partitions``, ``seed``)

Register + use:

    spark.dataSource.register(SyntheticEventsDataSource)
    spark.read.format("synthetic_events").option("rows", 1000).load()

Determinism: row i is a pure function of (seed, i), so any executor
layout produces the same table - the property every replayable
training-data source needs.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_EVENT_TYPES = ("click", "view", "purchase", "error", "scroll")


class SyntheticEventsDataSource(DataSource):
    """spark.read.format("synthetic_events") - deterministic event rows."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("event_id", LongType(), False),
                StructField("user_id", LongType(), False),
                StructField("event_type", StringType(), False),
                StructField("ts", TimestampType(), False),
                StructField("value", DoubleType(), False),
            ]
        )

    def reader(self, schema: StructType) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)


class _Slice(InputPartition):
    def __init__(self, start: int, end: int, seed: int):
        self.start = start
        self.end = end
        self.seed = seed


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 4))
        self.seed = int(options.get("seed", 42))

    def partitions(self) -> list[_Slice]:
        per = max(1, self.rows // self.n_parts)
        slices = []
        start = 0
        while start < self.rows:
            end = min(start + per, self.rows)
            slices.append(_Slice(start, end, self.seed))
            start = end
        return slices

    def read(self, partition: _Slice):
        # Pure function of (seed, i): same rows on any executor layout.
        import datetime
        import hashlib

        base = datetime.datetime(2024, 1, 1)
        for i in range(partition.start, partition.end):
            h = int.from_bytes(
                hashlib.md5(f"{partition.seed}|{i}".encode()).digest()[:8], "big"
            )
            yield (
                i,
                h % 150,
                _EVENT_TYPES[h % len(_EVENT_TYPES)],
                base + datetime.timedelta(seconds=(h % 2_592_000)),
                round((h % 1_000_000) / 1000.0, 3),
            )
