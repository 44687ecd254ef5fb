"""2D skyline (Pareto frontier) with lossless grid pruning.

Spark has no skyline operator; the textbook formulations are either a
quadratic NOT EXISTS self-join or a single global window over the
whole keyspace — both scale-killers. This composition is the shape
that survives 100 TB:

1. one hash-agg reduces the data to one (x, y) point per key;
2. a LOSSLESS grid prune: bucket x into contiguous integer ranges,
   aggregate max(y) per bucket (a few-hundred-row table), and drop
   every point whose y is strictly below the best y of any
   strictly-lower bucket — that best point has strictly smaller x
   (buckets are contiguous x-ranges), so it dominates the dropped
   point and the prune removes no frontier member;
3. the exact dominance test (two window maxima) runs only on the
   pruned survivor set, which is O(frontier + bucket count), not
   O(keys).

The survivor window is global by construction (the frontier is a
global property) but bounded: its input is already frontier-shaped.
The catalog entry ``skyline_customers`` (plans/catalog_r7.py) states
the exact window test WITHOUT the prune as its DuckDB oracle, which
proves losslessness on real data; ``tests/test_properties.py``
proves it against a brute-force dominance oracle on random point
sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pareto_frontier_2d(pts: DataFrame, x: str, y: str) -> DataFrame:
    """Rows of ``pts`` not dominated by any other row, where row j
    dominates row i iff ``x_j <= x_i`` and ``y_j >= y_i`` with at
    least one strict (minimize ``x``, maximize ``y``). ``x`` must be
    integral (the RANGE frame and bucket ranges rely on it); ties on
    both coordinates all survive (neither dominates). Returns the
    input columns unchanged.
    """
    bucket_width = 4
    xc, yc = F.col(x), F.col(y)
    bk = F.floor(xc / bucket_width).alias("_bk")
    buckets = pts.groupBy(bk).agg(F.max(yc).alias("_bmax"))
    bounds = buckets.select(
        "_bk",
        F.max("_bmax")
        .over(Window.orderBy("_bk").rangeBetween(Window.unboundedPreceding, -1))
        .alias("_lower_best"),
    )
    survivors = pts.join(
        F.broadcast(bounds), F.floor(xc / bucket_width) == F.col("_bk")
    ).where(F.col("_lower_best").isNull() | (yc >= F.col("_lower_best")))
    m1 = Window.orderBy(x).rangeBetween(Window.unboundedPreceding, -1)
    m2 = Window.partitionBy(x)
    flagged = survivors.withColumn("_m1", F.max(yc).over(m1)).withColumn(
        "_m2", F.max(yc).over(m2)
    )
    return flagged.where(
        (F.col("_m1").isNull() | (F.col("_m1") < yc)) & (F.col("_m2") <= yc)
    ).drop("_bk", "_lower_best", "_m1", "_m2")
