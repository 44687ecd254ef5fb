"""Per-partition key Bloom index: a moved-key probe that reads a sidecar
instead of the table.

``upsert_parquet_partitioned`` must reject an incoming row whose key
already lives under a DIFFERENT partition value (dynamic partition
overwrite would otherwise leave the old row in place — a silent
cross-partition duplicate). It does so with one exact check, a
(keys, partition) projection scan of the whole table per merge;
SCALING.md ("Moved-key check at scale") records why that is its only
check.

This module answers the same question from a Bloom-filter index over
each partition's key set, kept as a parquet sidecar under
``<table>/_key_blooms``. The sidecar is built once
(``build_key_bloom_index``) and read by ``probe_moved_keys``; no merge
maintains it, so a probe is only as current as its last build. The
catalog entry ``bloom_moved_key_probe`` runs it. A probe checks
moved keys by:

1. Bloom probe of every partition's filter, merged into one "seen
   anywhere?" filter (distributed OR — no bitmap ever visits the
   driver). Honest inserts are negative and cost O(|incoming keys| x k)
   expression work, no table IO;
2. positives re-probe the PER-PARTITION filters of every partition
   except the row's own to name their suspect partitions (input is
   only the positives, so the fan-out is small);
3. an exact, PARTITION-PRUNED verification scan of just the suspect
   partitions confirms or clears each candidate (false positives cost
   one small pruned scan, never the table).

Representation: a filter is stored SPARSELY as (partition, word_idx,
word) rows — 64-bit words with at least one set bit — so empty space
costs nothing, "OR the filters" is ``bit_or`` grouped by word_idx, and
both build and probe are plain md5/shift/join expressions inside
whole-stage codegen. No UDFs, no driver-side bitmaps, nothing that
grows with partition count on the driver.

Hashing: double hashing h1 + i*h2 (mod nbits) with h1/h2 from disjoint
halves of md5(key) — the same md5-derived-key idiom the dedup operators
ship through shuffles (operators/dedup.py). k = nhashes, classic
Kirsch-Mitzenmacher construction.

Reference parity note: the reference app has no partitioned MERGE at
all (its MERGE INTO experiment is orphaned — SURVEY.md §2 J3); this
index is not reference behavior.
"""

from __future__ import annotations

import math
import posixpath as _pp

from pyspark.sql import Column, DataFrame, functions as F

from formula1_etl_analytics_project_spark.sources.sinks import in_partitions

BLOOM_DIR = "_key_blooms"
META_DIR = "_key_blooms_meta"


def _bloom_path(path: str) -> str:
    return _pp.join(path.rstrip("/"), BLOOM_DIR)


def _meta_path(path: str) -> str:
    return _pp.join(path.rstrip("/"), META_DIR)


def bloom_params(expected_keys: int, fpp: float = 0.001) -> tuple[int, int]:
    """Classic sizing: m = -n ln p / (ln 2)^2 bits, k = m/n ln 2,
    with m rounded up to a multiple of 64 (whole words)."""
    if expected_keys <= 0:
        raise ValueError(f"expected_keys must be > 0, got {expected_keys}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = int(-expected_keys * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, round(m / expected_keys * math.log(2)))
    return m, k


def _key_digest(keys: list[str]) -> Column:
    """md5 of the unit-separator-joined key columns (nulls sentineled:
    upsert keys should not be null, but a null must not collide with
    the empty string)."""
    parts = [
        F.coalesce(F.col(k).cast("string"), F.lit("\x00null")) for k in keys
    ]
    return F.md5(F.concat_ws("\x1f", *parts))


def bit_positions(keys: list[str], nbits: int, nhashes: int) -> Column:
    """array<long> of the nhashes bit positions for this row's key.

    h1 = first 15 md5 hex chars, h2 = next 15 forced odd — two
    independent 60-bit values; position_i = (h1 + i*h2) mod nbits.
    """
    d = _key_digest(keys)
    # reduce both hashes mod nbits BEFORE the i*h2 multiply: the raw
    # 60-bit values would overflow int64 under ANSI arithmetic at
    # i >= 8, and (h1 + i*h2) mod m == (h1%m + i*(h2%m)) mod m. h2 is
    # forced odd and nbits is a multiple of 64, so h2 % nbits != 0 and
    # the double-hash stride never degenerates.
    h1 = F.pmod(
        F.conv(F.substring(d, 1, 15), 16, 10).cast("long"), F.lit(nbits)
    )
    h2 = F.pmod(
        F.conv(F.substring(d, 17, 15), 16, 10)
        .cast("long")
        .bitwiseOR(F.lit(1).cast("long")),
        F.lit(nbits),
    )
    return F.array(
        *[
            F.pmod(h1 + F.lit(i).cast("long") * h2, F.lit(nbits))
            for i in range(nhashes)
        ]
    )


def _position_rows(
    df: DataFrame, keys: list[str], nbits: int, nhashes: int
) -> DataFrame:
    """One row per (input row, hash): word_idx + single-bit mask."""
    pos = df.select(
        *df.columns,
        F.explode(bit_positions(keys, nbits, nhashes)).alias("__pos"),
    )
    return pos.select(
        *df.columns,
        (F.col("__pos") / 64).cast("long").alias("word_idx"),
        # pyspark's F.shiftleft only takes a literal shift; the SQL
        # form shifts by a column
        F.expr("shiftleft(1L, cast(pmod(__pos, 64) as int))").alias("mask"),
    )


def bloom_words(
    df: DataFrame,
    keys: list[str],
    partition_col: str,
    nbits: int,
    nhashes: int,
) -> DataFrame:
    """Sparse Bloom filters: (partition_col, word_idx, word) with word =
    bit_or of every key's masks — a map-side-combinable aggregation, so
    the shuffle carries at most nbits/64 words per partition however
    many rows feed it."""
    rows = _position_rows(
        df.select(partition_col, *keys), keys, nbits, nhashes
    )
    return rows.groupBy(partition_col, "word_idx").agg(
        F.bit_or("mask").alias("word")
    )


def read_meta(spark, path: str) -> tuple[int, int] | None:
    """(nbits, nhashes) persisted beside the index, or None if the
    index has never been built."""
    try:
        row = spark.read.parquet(_meta_path(path)).head(1)[0]
    except Exception:
        return None
    return int(row["nbits"]), int(row["nhashes"])


def build_key_bloom_index(
    spark,
    path: str,
    keys: list[str],
    partition_col: str,
    expected_keys_per_partition: int,
    fpp: float = 0.001,
) -> tuple[int, int]:
    """Full build of the sidecar index for an existing table (one
    full-table key scan). Persists (nbits, nhashes) so later probes
    agree on the hash geometry. Returns (nbits, nhashes)."""
    nbits, nhashes = bloom_params(expected_keys_per_partition, fpp)
    snapshot = spark.read.parquet(path).select(partition_col, *keys)
    words = bloom_words(snapshot, keys, partition_col, nbits, nhashes)
    words.write.mode("overwrite").partitionBy(partition_col).parquet(
        _bloom_path(path)
    )
    spark.createDataFrame(
        [(nbits, nhashes)], "nbits long, nhashes int"
    ).write.mode("overwrite").parquet(_meta_path(path))
    return nbits, nhashes


def _all_bits_present(
    probes: DataFrame,
    words: DataFrame,
    join_cols: list[str],
    group_cols: list[str],
) -> DataFrame:
    """Keys of ``probes`` whose EVERY (word_idx, mask) hits a set bit
    in ``words``: left-join each probe position to the sparse words
    (a missing word row means the whole 64-bit word is zero — a miss)
    and keep groups where every position hit. Robust to two hashes
    landing on the same position: both probe rows just hit the same
    bit. The join is null-safe: the null partition is a partition."""
    words = words.select(
        *[F.col(c).alias(f"__w_{c}") for c in join_cols], "word"
    )
    joined = probes.join(
        words,
        on=[F.col(c).eqNullSafe(F.col(f"__w_{c}")) for c in join_cols],
        how="left",
    )
    hit = F.when(
        F.col("word").isNotNull()
        & (F.col("mask").bitwiseAND(F.col("word")) == F.col("mask")),
        1,
    ).otherwise(0)
    return (
        joined.groupBy(*group_cols)
        .agg(F.min(hit).alias("__all_hit"))
        .filter(F.col("__all_hit") == 1)
        .drop("__all_hit")
    )


def probe_moved_keys(
    spark,
    path: str,
    incoming: DataFrame,
    keys: list[str],
    partition_col: str,
) -> DataFrame:
    """Moved-key candidates for an incoming batch, via the sidecar
    index: rows of (keys..., partition_col, suspect_partition) where
    the key's incoming partition differs from a partition whose EXACT
    partition-pruned scan confirms it holds the key. Empty result ==
    no incoming key lives under a partition other than its own.

    Stage 1 of the module docstring runs against the OR of every
    partition's filter; only its positives (keys already in the table,
    plus FPP-bounded false positives) fan out to the per-partition
    probe and the pruned verification scan.
    """
    meta = read_meta(spark, path)
    if meta is None:
        raise FileNotFoundError(
            f"no Bloom index under {path}; run build_key_bloom_index first"
        )
    nbits, nhashes = meta
    ikeys = incoming.select(*keys, partition_col).distinct()
    probes = _position_rows(ikeys, keys, nbits, nhashes)
    words = spark.read.parquet(_bloom_path(path))
    # stage 1: one merged "seen anywhere?" filter (distributed OR)
    merged_words = words.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    positives = _all_bits_present(
        probes, merged_words, ["word_idx"], [*keys, partition_col]
    )
    # stage 2: name suspect partitions — re-probe the PER-PARTITION
    # filters with ONLY the positives. Each positive must test all its
    # positions against EVERY partition but its own (an absent word row
    # is a miss for that partition, so the partition axis has to be
    # made explicit before the left join — a positives x partitions
    # cross join). The own-partition test is null-safe: the null
    # partition is a partition.
    old_parts = words.select(F.col(partition_col).alias("__old_part")).distinct()
    pos_probes = (
        _position_rows(positives, keys, nbits, nhashes)
        .withColumnRenamed(partition_col, "__new_part")
        .crossJoin(F.broadcast(old_parts))
        .filter(~F.col("__old_part").eqNullSafe(F.col("__new_part")))
    )
    suspect = _all_bits_present(
        pos_probes,
        words.select(
            F.col(partition_col).alias("__old_part"), "word_idx", "word"
        ),
        ["__old_part", "word_idx"],
        [*keys, "__new_part", "__old_part"],
    )
    # stage 3: exact, partition-pruned verification
    suspect_parts = [
        r[0] for r in suspect.select("__old_part").distinct().collect()
    ]
    if not suspect_parts:
        return suspect.select(
            *keys,
            F.col("__new_part").alias(partition_col),
            F.col("__old_part").alias("suspect_partition"),
        )
    confirmed = (
        spark.read.parquet(path)
        .filter(in_partitions(partition_col, suspect_parts))
        .select(*keys, F.col(partition_col).alias("__found_part"))
        .join(suspect, on=keys, how="inner")
        .filter(F.col("__found_part").eqNullSafe(F.col("__old_part")))
    )
    return confirmed.select(
        *keys,
        F.col("__new_part").alias(partition_col),
        F.col("__old_part").alias("suspect_partition"),
    )
