"""Distributed deterministic sequences (P5 surrogate keys at fact
scale).

The reference takes surrogate ids from a DB sequence over pandas insert
order (``DDL Final.sql:75-87``); the naive Spark translation is
``row_number() OVER (ORDER BY _row_id)`` - a window with NO partition
key, which Catalyst executes as a single-partition Exchange: the whole
fact table funnels through one task. Fine for a 1000-row dimension,
fatal for a 100 TB fact.

:func:`distributed_sequence` keeps the exact same semantics (dense ids
1..N in ``order_col`` order) with no single-partition stage, the
classic ``zipWithIndex`` design expressed DataFrame-first:

1. ``repartitionByRange(order_col)`` - one range shuffle; partition i
   holds an ordered, non-overlapping slice of the key space.
2. ``sortWithinPartitions(order_col)`` - local sort, no shuffle.
3. ``monotonically_increasing_id()`` over the sorted partitions is
   ``(partition id << 33) + index within the partition``, so one native
   projection stamps the partition id and the LOCAL index (no Python
   worker).
4. Per-partition row counts (a k-row aggregate, k = #partitions) turn
   into cumulative offsets on the driver-side-sized window, then
   broadcast-join back: ``seq = offset + local_idx``.

Total cost: one range shuffle over the fact + one broadcast join -
the minimum any global ordering can cost - instead of one
all-to-one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_PID = "__seq_pid"
_LOCAL = "__seq_local"


def distributed_sequence(
    df: DataFrame,
    order_col: str | list[str],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add dense sequence ids 1..N ordered by ``order_col`` without a
    single-partition window.

    ``order_col`` may be one column name or a composite list (ordered
    lexicographically, like a multi-key ORDER BY); the combination
    must be unique per row (the builders' ``_row_id`` is; composite
    callers append a PK tiebreak). Ties would make the sequence
    nondeterministic, exactly as in any ORDER BY. Output rows keep all
    input columns plus ``out_col`` (long). Row order of the result is
    not defined - sequences are values, not physical order.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    ranged = ranged.sortWithinPartitions(*order_cols)

    # Two consumers read `stamped` (the k-row counts aggregate and the
    # final join probe). Persist so (a) the range shuffle and sort run
    # once per action instead of twice over the full fact, and (b) both
    # consumers are guaranteed the SAME pid/local assignment rather
    # than relying on shuffle-reuse determinism. No explicit unpersist:
    # the API is lazy, so the earliest safe point is after the caller's
    # action - Spark's ContextCleaner drops the blocks when the plan is
    # garbage-collected.
    stamped = (
        ranged.withColumn(_LOCAL, F.monotonically_increasing_id())
        .withColumn(_PID, F.shiftright(_LOCAL, 33).cast("int"))
        .withColumn(_LOCAL, F.col(_LOCAL).bitwiseAND((1 << 33) - 1))
        .persist()
    )

    # k rows (k = #partitions): cumulative count of everything in
    # partitions BEFORE mine. The single-partition window here is over
    # k rows, not N - that is the whole point.
    counts = stamped.groupBy(_PID).agg(F.count("*").alias("__n"))
    offsets = counts.select(
        _PID,
        (
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy(_PID).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("__offset"),
    )

    return (
        stamped.join(F.broadcast(offsets), _PID)
        .withColumn(
            out_col, (F.col("__offset") + F.col(_LOCAL) + 1).cast("long")
        )
        .drop(_PID, _LOCAL, "__offset")
    )
