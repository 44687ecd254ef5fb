"""Join-layer operators (SURVEY.md section 2.4).

The reference executes zero runtime joins - its input CSV is the
materialized result of a 10-way join - but join semantics are declared
in its DDL (FK equi-joins J1, the integrity anti-join J2) and in the
orphaned MERGE experiment (J3, implemented in sources.sinks.upsert).

Scale notes: only GENUINELY BOUNDED dimensions (nation/region/date -
fixed by the data model, independent of scale factor) get pinned
``broadcast()`` hints. customer/part/supplier grow linearly with scale
factor (TPC-H customer at sf10000 is 1.5B rows), so a pinned hint on
them is right at sf0.1 and OOMs the driver at sf10000 - those sides go
through :func:`broadcast_if_small`, which consults Catalyst's size
estimate and otherwise leaves the strategy to AQE. The same estimate,
against the same ``_BOUNDED_DIM_BYTES`` budget, is the only thing that
picks :func:`asof_join`'s composition. Fact-fact joins rely on AQE for
sort-merge vs shuffled-hash and skew splitting; pre-bucketing both facts
on the join key removes that shuffle entirely when the tables are
co-bucketed at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Pinned-broadcast budget: well under any sane driver/executor memory,
# well over every bounded dim (nation is 25 rows at any sf).
_BOUNDED_DIM_BYTES = 64 << 20

# Memoized size-gate decisions. Evaluating optimizedPlan().stats() forces
# a file listing (~0.3 s cold, measured at sf0.1) and sat inside the timed
# path of every star query, costing +10-23% in BENCH_r02. The gate
# decision is a pure function of the (session, logical plan) pair, so it
# is cached on DataFrame.semanticHash() - canonicalized-plan hashing, no
# file listing. Staleness caveat: a plan re-read after its underlying
# files were rewritten reuses the old decision; the gate is a coarse
# 64 MB threshold so this only matters if a table crosses it mid-session.
_SIZE_CACHE: dict[tuple[int, int], int] = {}
_SIZE_CACHE_MAX = 1024


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Size-gated broadcast hint for join sides that GROW with scale.

    nation/region/date are bounded by the data model and can carry an
    unconditional ``broadcast()``. customer/part/supplier grow linearly
    with scale factor, so a hint that is right at sf0.1 OOMs the driver
    (or is silently demoted) at sf10000. This helper consults Catalyst's
    own logical-plan size estimate: under ``_BOUNDED_DIM_BYTES`` the hint
    is pinned (guaranteeing the no-fact-shuffle star plan); above it the
    side is returned unhinted and AQE picks broadcast vs shuffled join
    from runtime statistics. If no estimate is available the hint is
    NOT forced - the conservative failure mode. Decisions are memoized
    per (session, canonical plan) - see _SIZE_CACHE.
    """
    size = plan_size_bytes(df)
    if size is None:
        return df
    return F.broadcast(df) if size <= _BOUNDED_DIM_BYTES else df


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's logical-plan size estimate for ``df``, memoized per
    (session, canonical plan) — see _SIZE_CACHE. None when no estimate
    is available (the conservative answer for any size gate)."""
    try:
        key = (id(df.sparkSession), df.semanticHash())
    except Exception:
        key = None
    size = _SIZE_CACHE.get(key) if key is not None else None
    if size is None:
        try:
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            size = int(str(stats.sizeInBytes()))
        except Exception:
            return None
        if key is not None and len(_SIZE_CACHE) < _SIZE_CACHE_MAX:
            _SIZE_CACHE[key] = size
    return size


def salted_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Skew-defeating inner equi-join: left rows get a seeded random salt
    in [0, 8), the right side is replicated 8 times, and the join key
    becomes (key, salt) - a single hot key's rows now spread across 8
    reducer partitions instead of landing on one straggler.

    Semantically identical to ``left.join(right, on)`` (each left row
    still matches exactly the right rows of its key, via exactly one
    salt copy). Cost: right side shuffled/broadcast x 8. Inner joins
    only - the replicated right side makes outer null-matching
    ambiguous.

    WHEN TO SALT vs TRUST AQE (measured, sf-independent synthetic:
    20M rows, one key carrying 90%, local[32], sort-merge forced):

    * AQE's skew split (``spark.sql.adaptive.skewJoin``) only fires
      when the hot partition exceeds BOTH ``skewedPartitionFactor`` x
      median AND ``skewedPartitionThresholdInBytes`` (default 256 MB).
      Our ~200 MB hot partition was silently NOT split at defaults -
      the straggler stays. Pin the thresholds down (e.g. 16 MB) before
      concluding AQE "handles" a skewed join.
    * With thresholds tuned so the split fires (plan shows
      ``SortMergeJoin(skew=true)`` + ``AQEShuffleRead ... skewed``):
      5.18s unsplit -> 4.70s split.
    * Explicit salt=8: 2.03s - 2.3x faster than AQE's split, because
      the salted key spreads the SHUFFLE WRITE of the hot key across
      reducers (AQE can only re-chunk the already-written hot
      partition on the read side, and its splits still serialize
      through one mapper's output).

    Rule of thumb: AQE skew split is the zero-code answer for moderate
    organic skew ABOVE its size thresholds in plain shuffle joins;
    salt explicitly when one key dominates (>50%), when the skewed
    side feeds a window/groupBy on the same key (AQE cannot split
    those - duplicate groups would be wrong), or when the hot
    partition sits under the split threshold. Verified in
    tests/test_plan_quality.py::test_aqe_skew_split_fires_only_when_tuned.
    """
    salt = 8
    salted_left = left.withColumn("_salt", (F.rand(42) * salt).cast("int"))
    salted_right = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_left.join(salted_right, on=[on, "_salt"], how="inner").drop("_salt")


def integrity_violations(
    child: DataFrame, parent: DataFrame, on: str | list[str]
) -> DataFrame:
    """J2: FK-integrity check - child rows whose key has no parent
    (the reference's commented-out trigger, DDL Final.sql:140-162).
    Empty result == constraint holds."""
    return child.join(parent, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """As-of join: every left row picks the right row of the same key
    with the greatest ``right_time`` <= ``left_time``; several right
    rows at that same time resolve deterministically to the greatest
    ``value_col`` (so the right side needs NO pre-dedup pass — one
    fewer shuffle). Spark has no native as-of join; two compositions,
    chosen by the ``_BOUNDED_DIM_BYTES`` size gate on the keyed right
    side:

    * ``array`` — the small-right fast path: the right side collapses
      to one row per key holding a time-sorted array of (time, value)
      structs, which a size-gated broadcast hash join attaches to the
      left; the as-of lookup is ``try_element_at(filter(arr, x.t <=
      t), -1)`` — pure codegen expressions. THE LEFT SIDE IS NEVER
      SHUFFLED — at 100 TB the fact stream stays put and only the
      keyed right arrays move, the same no-fact-shuffle property the
      star joins pin. Guarded by the same Catalyst size estimate as
      :func:`broadcast_if_small`; per-key array width is bounded by
      the right side's per-key row count (orders per customer), not
      table size.
    * ``union`` — the general form: tag both sides, union, per-key
      time-ordered window, ``last(value, ignorenulls)`` carries the
      latest right value forward. One shuffle+sort of left+right on
      the key — the right answer when the right side is itself
      fact-scale, or when it has no size estimate (both sides shuffle
      once; no memory bound).

    At equal timestamps the right row is visible to the left row
    (<= semantics) in both forms: the array filter uses ``<=``, and
    the union window sorts the right tag first. The max-value tie rule
    is likewise structural in both: the sorted struct array ends with
    the greatest (time, value) pair, and the union window's ordering
    ends each equal-time run at the greatest ``__v``.
    """
    out_col = out_col or value_col
    keyed = right.groupBy(F.col(right_on).alias("__k")).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(right_time), F.col(value_col)))
        ).alias("__arr")
    )
    size = plan_size_bytes(keyed)
    if size is not None and size <= _BOUNDED_DIM_BYTES:
        looked = left.join(
            F.broadcast(keyed),
            left[left_on] == keyed["__k"],
            "left",
        ).withColumn(
            out_col,
            F.try_element_at(
                F.filter(
                    "__arr",
                    lambda x: x[right_time] <= F.col(left_time),
                ),
                F.lit(-1),
            )[value_col],
        )
        return looked.drop("__k", "__arr")
    tagged_left = left.select(
        F.col(left_on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__row"),
        F.lit(None).cast(
            right.schema[value_col].dataType
        ).alias("__v"),
    )
    tagged_right = right.select(
        F.col(right_on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"{f.name}:{f.dataType.simpleString()}"
                for f in left.schema.fields
            ) + ">"
        ).alias("__row"),
        F.col(value_col).alias("__v"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__is_left", "__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = tagged_left.unionByName(tagged_right).withColumn(
        out_col, F.last("__v", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__row.{c}").alias(c) for c in left.columns], out_col
    )
