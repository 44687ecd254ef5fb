"""Skew-safe aggregation shapes.

Algebraic aggregates (sum/count/min/max/avg) need no help at scale:
Spark's HashAggregate already runs a partial pass map-side, so a hot
group collapses to one row per map task before the shuffle - salting
them only adds a second shuffle for nothing.

The problem children are HOLISTIC aggregates, where the partial pass
cannot collapse the group. ``COUNT(DISTINCT x) GROUP BY k`` is the
canonical case: Catalyst rewrites it as a two-level aggregate whose
first level groups by ``(k, x)`` - that level spreads fine - but the
SECOND level must move one row per surviving ``(k, x)`` pair to the
single reducer owning ``k``. A hot key with 100M distinct values
concentrates 100M rows on one task at exactly the moment the rest of
the stage finishes.

``salted_distinct_count`` breaks that concentration by bucketing on a
HASH OF THE VALUE, not a random salt: distinct-value sets in different
value-buckets are disjoint by construction, so per-bucket distinct
counts are additive and the merge is an exact integer SUM of
``buckets`` rows per key - no re-union of sets, no approximation.
(A random salt would NOT work here: the same value could land in two
salt groups and be double-counted. Bucketing by value hash is what
makes the partial counts disjoint.)

Reference scope note: the reference computes its distinct counts
row-loop-side in pandas (CompleteETL.py drop_duplicates/nunique
idioms); this module is the scale-shaped twin of that surface.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F


def salted_distinct_count(
    df: DataFrame,
    keys: list[str],
    value: str,
    buckets: int = 16,
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT value) as ``n_distinct``, skew-safe.

    Phase 1 groups by ``(keys..., crc32(value) % buckets)`` and counts
    distinct values inside each bucket - a hot key's distinct set is
    now spread over ``buckets`` reducers, and within a bucket the
    count is exact because the bucket partitions the VALUE space.
    Phase 2 sums the per-bucket counts per key: ``buckets`` rows per
    key cross the final shuffle instead of one row per distinct value.

    Semantically identical to
    ``df.groupBy(*keys).agg(F.countDistinct(value))``, including NULL
    handling: NULL values hash to a NULL bucket whose count_distinct
    is 0, so they are never counted but an all-NULL key still yields
    its 0 row, exactly like the plain form.

    Pick ``buckets`` ~ executor-count for full spread; the phase-2
    cost is keys x buckets rows, negligible at any setting.
    """
    bucket = F.pmod(F.crc32(F.col(value).cast("string")), F.lit(buckets))
    partial = df.groupBy(*keys, bucket.alias("_vbucket")).agg(
        F.count_distinct(F.col(value)).alias("_partial")
    )
    return partial.groupBy(*keys).agg(
        F.sum("_partial").alias("n_distinct")
    )


def exact_heavy_hitters(df: DataFrame, key: str, k: int) -> DataFrame:
    """EXACT keys with frequency > N/(k+1), in O(k) state per task.
    Returns (key, cnt).

    The naive ``groupBy(key).count()`` keeps one hash-map entry per
    DISTINCT key in every map task - at 100 TB a high-cardinality key
    (URL, doc fingerprint) spills the partial aggregate long before
    the reduce starts. Heavy hitters don't need that: Misra-Gries with
    ``k`` counters per partition undercounts any key by at most
    ``n_p/(k+1)``, so a key whose GLOBAL count exceeds ``N/(k+1)``
    must survive in at least one partition's summary (pigeonhole over
    the per-partition bounds). Two passes make the answer exact and
    partitioning-independent:

      pass 1  mapInPandas Misra-Gries -> candidate keys
              (<= k rows per partition; merge rule from Agarwal et
              al., "Mergeable Summaries": combine counts, subtract
              the (k+1)-st largest, drop non-positive)
      pass 2  broadcast-semi-join the candidates, count exactly,
              keep count*(k+1) > N

    Pass 2 filters any spurious pass-1 survivors against the exact
    global threshold, so the result set is deterministic even though
    the intermediate candidate set depends on the partition layout.

    Reference scope note: the reference's closest surface is pandas
    ``value_counts`` over the wide frame (single-node, unbounded
    state); this is its bounded-state cluster twin.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def _mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for batch in batches:
            vc = batch[key].value_counts()
            for val, c in vc.items():
                counters[val] = counters.get(val, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    v: c - cut for v, c in counters.items() if c > cut
                }
        yield pd.DataFrame({key: list(counters.keys())})

    candidates = (
        df.select(key).mapInPandas(_mg, schema=df.select(key).schema).distinct()
    )
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    exact = (
        df.join(F.broadcast(candidates), on=key, how="left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (k + 1) > F.col("_total"))
        .drop("_total")
    )


def table_fingerprint(df, cols: list[str], table_name: str):
    """Order-insensitive table checksum for replication / migration
    validation (the "did the copy arrive intact" primitive every
    100 TB backfill needs: compare one 3-column row per table instead
    of 100 TB of rows).

    Each row is canonicalized to ``concat_ws('|', cols)`` with an
    explicit ``'\\N'`` null sentinel applied BEFORE concat (concat_ws
    silently skips nulls, which would make ``(NULL,'x')`` collide
    with ``('x',)``), hashed with md5 (engine-portable, unlike
    murmur3 ``hash()``), and the low 60 bits are folded two
    independent ways - a DECIMAL(38,0) sum and a BIT_XOR - plus an
    exact row count. Both folds are commutative+associative, so the
    fingerprint is identical at any parallelism and any row order,
    and the pair (sum, xor) makes accidental cancellation
    astronomically unlikely. Callers must pre-render non-string
    columns deterministically (dates via date_format, doubles via a
    decimal cast) - the catalog entry ``table_checksum``
    (plans/catalog_r7.py) shows the canonical recipe and its DuckDB
    oracle restates it bit-for-bit.
    """
    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return df.select(h.alias("h")).agg(
        F.lit(table_name).alias("table_name"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("hash_sum"),
        F.expr("bit_xor(h)").alias("hash_xor"),
    )
