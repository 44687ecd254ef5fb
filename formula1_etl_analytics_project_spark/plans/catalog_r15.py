"""Round-15 catalog entries (round 4, session 3) - 4 entries:

* `late_arriving_dim` - the inferred-member pattern: fact rows whose
  dimension key has not arrived yet get a placeholder dimension row
  so the star join stays lossless (the warehouse answer to the
  reference's drop-orphans integrity anti-join, which this engine
  covers as J2 - here the orphans are KEPT and flagged).
* `equi_depth_histogram` - exact quantile-bin histogram (equal ROW
  counts per bin, vs `value_histogram`'s equal-width bins) computed
  from the distributed rank operator - no single-partition window at
  any scale.
* `weighted_median_groups` - exact weighted median per group via
  windowed cumulative weight (the grouped form of the r14 prefix-sum
  theme; the group key provides the partitioning).
* `cogroup_span_counts` - the ONE grouped-map surface no earlier
  entry touches: two-table `groupBy().cogroup().applyInPandas`,
  value-checked against a relational twin.

Portability rules as in plans/catalog.py: integer/decimal arithmetic
across partitions, COUNT/SUM outputs cast to BIGINT in the oracle,
integer floor division (`div`/`//`) instead of float division where
a bin id is derived.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.operators.sequence import (
    distributed_sequence,
)
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Late-arriving dimension: inferred members keep the star join lossless
# ===========================================================================

_LATE_DIM_SQL = """
WITH known AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0
), orphan AS (
  -- NOT EXISTS, not NOT IN: NOT IN drops NULL-keyed fact FKs outright
  -- (NULL comparison), while the Spark twin's left_anti keeps them as
  -- orphans - NOT EXISTS matches left_anti's NULL semantics exactly.
  SELECT DISTINCT o_custkey AS c_custkey FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM known k
                    WHERE k.c_custkey = o.o_custkey)
), dim AS (
  SELECT c_custkey, FALSE AS is_inferred FROM known
  UNION ALL
  SELECT c_custkey, TRUE AS is_inferred FROM orphan
)
SELECT is_inferred,
       CAST(COUNT(DISTINCT d.c_custkey) AS BIGINT) AS n_members,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM dim d LEFT JOIN orders o ON o.o_custkey = d.c_custkey
GROUP BY is_inferred
ORDER BY is_inferred
"""


@_register(
    "late_arriving_dim",
    _LATE_DIM_SQL,
    gate_priority=True,
)
def q_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling (inferred members): facts
    referencing a dimension key that has not been loaded yet (here
    simulated by withholding every 97th customer) get a placeholder
    member stamped `is_inferred = true`, so the star join loses ZERO
    fact rows - the two output rows prove it (their n_orders sum to
    |orders|). The alternative the reference implements (anti-join
    drop, this repo's J2) silently under-reports revenue until the
    dimension catches up; inferred members instead let a later
    dimension load overwrite the placeholder (SCD1 upsert - the
    engine's `upsert_orders` family) with full history already
    attributed.

    Shape at 100 TB: the orphan probe is a distinct on the fact's FK
    column (narrow projection, map-side combined) anti-joined against
    the dimension key set - never the full fact against the full
    dimension twice: the join back for attribution happens once, on
    the repaired dimension. The placeholder union is dimension-sized.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    known = customer.filter(F.col("c_custkey") % 97 != 0).select("c_custkey")
    orphan = (
        orders.select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .join(known, "c_custkey", "left_anti")
    )
    dim = known.withColumn("is_inferred", F.lit(False)).unionByName(
        orphan.withColumn("is_inferred", F.lit(True))
    )
    return (
        dim.join(
            orders, dim["c_custkey"] == orders["o_custkey"], "left_outer"
        )
        .groupBy("is_inferred")
        .agg(
            F.countDistinct(dim["c_custkey"]).alias("n_members"),
            F.count("o_orderkey").alias("n_orders"),
        )
        .orderBy("is_inferred")
    )


# ===========================================================================
# Exact equi-depth histogram from the distributed rank
# ===========================================================================

_EQUI_DEPTH_BINS = 8

_EQUI_DEPTH_SQL = f"""
WITH ranked AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS rk,
         COUNT(*) OVER () AS n
  FROM orders
)
SELECT CAST((rk * {_EQUI_DEPTH_BINS}) // n AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM ranked
GROUP BY 1
ORDER BY 1
"""


@_register(
    "equi_depth_histogram",
    _EQUI_DEPTH_SQL,
    gate_priority=True,
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-DEPTH histogram of order totals: 8 bins with equal
    row counts (+-1) and data-driven edges - the quantile sketch's
    exact ground truth, and the complement of `value_histogram`'s
    equi-width bins (which put 90% of a skewed column in one bucket).
    Bin id = rank * B div N on the total order (price, orderkey) -
    integer floor division on both engines, no float boundary
    wobble.

    The oracle states the rank as the obvious global ROW_NUMBER. The
    Spark side gets the SAME rank from `distributed_sequence`
    (operators/sequence.py): range-repartition on the order key, count
    per partition, cumulative offsets broadcast back. The plan's only
    fact-scale movement is the rangepartitioning exchange; the one
    Window node runs on the partition-COUNT-sized offset table, never
    the data. That substitution is this entry's point: an empty-OVER
    window is a single-task sort at any scale, the distributed
    sequence is two narrow passes.

    Shape at 100 TB: one range shuffle of a 2-column projection, a
    partition-count-sized offset table, one k-row aggregate. The
    min/max per bin double as the published bin edges.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    seq = distributed_sequence(
        orders, ["o_totalprice", "o_orderkey"], "seq"
    )
    n = orders.count()
    return (
        seq.withColumn(
            "bin",
            F.expr(f"CAST(((seq - 1) * {_EQUI_DEPTH_BINS}) div {n} AS INT)"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bin")
    )


# ===========================================================================
# Exact weighted median per group
# ===========================================================================

_WEIGHTED_MEDIAN_SQL = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(l_quantity AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT l_returnflag, price, wt,
         SUM(wt) OVER (PARTITION BY l_returnflag
                       ORDER BY price, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       MIN(CASE WHEN 2 * cw >= tw THEN price END) AS weighted_median
FROM c
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register(
    "weighted_median_groups",
    _WEIGHTED_MEDIAN_SQL,
    gate_priority=True,
)
def q_weighted_median_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per return flag: the price at which
    cumulative quantity first reaches half the group's total quantity
    (lower weighted median - the inventory/price-level statistic a
    plain median gets wrong whenever line sizes vary). `exact_median`
    covers the unweighted two-middle-rows identity; the weighted form
    needs the cumulative-weight walk, expressed as two windows over
    ONE partitioning (cumulative + group total share the
    l_returnflag exchange, plan-pinned) and an integer threshold
    compare (2*cw >= tw - weights are integral quantities, so no
    float accumulates anywhere).

    Shape at 100 TB: the window partitions by the group key; per-group
    sort is the operation's intrinsic cost. For LOW-cardinality group
    keys (3 flags here) the per-group sort serializes - the scale
    answer is the r14 `token_budget_select` decomposition (value-range
    buckets + broadcast offsets) applied per group; for
    high-cardinality keys the window form parallelizes as-is. Both
    forms produce identical output; this entry pins the window form.

    Tie semantics: rows ordered by (price, orderkey, linenumber) -
    a total order, so cumulative weights (and therefore the selected
    price) are unique across engines.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    order = [F.col("price"), F.col("l_orderkey"), F.col("l_linenumber")]
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(w_tot).alias("tw"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.max("tw").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))
            ).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# Cogrouped applyInPandas (two-table grouped map)
# ===========================================================================

_COGROUP_SQL = """
WITH span AS (
  SELECT o_custkey AS custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi
  FROM orders GROUP BY o_custkey
)
SELECT s.custkey, s.n_orders,
       CAST(COALESCE(SUM(CASE WHEN e.ts >= s.lo AND e.ts <= s.hi
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_events_in_span
FROM span s LEFT JOIN events e ON e.user_id = s.custkey
GROUP BY s.custkey, s.n_orders
"""


@_register(
    "cogroup_span_counts",
    _COGROUP_SQL,
    gate_priority=True,
)
def q_cogroup_span_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped grouped-map surface -
    `dfA.groupBy(k).cogroup(dfB.groupBy(k)).applyInPandas(...)` - the
    ONE pandas execution shape no other entry exercises (grouped map,
    map-in-arrow, stateful grouped map and scalar pandas UDFs are all
    covered elsewhere). Each customer's orders and events arrive as
    two aligned pandas frames in one kernel call; the kernel counts
    events inside the customer's [first order, last order] activity
    span. Customers with no orders produce nothing (empty left
    frame); customers with no events count zero (empty right frame) -
    both empty-side contracts are part of what this entry pins, and
    the relational twin restates the whole thing so the kernel is
    value-checked, not just smoke-tested.

    This is a SURFACE-pinning entry: the per-key span count is
    expressible relationally (the oracle's aggregate + join IS the
    production form, and runs JVM-side). Reach for cogroup only when
    the two sides genuinely need imperative alignment - per-key model
    scoring against feature history, custom as-of semantics beyond
    `asof_join`'s, trajectory comparison.

    Shape at 100 TB: both sides shuffle once on the key, Arrow-batched
    into the Python workers (FlatMapCoGroupsInPandas, plan-pinned);
    state per kernel call is one key's rows, so executor memory bounds
    the largest single key, not the table. Output is one row per key -
    the shuffle dominates, exactly like the relational twin.
    """

    def span_counts(
        left: pd.DataFrame, right: pd.DataFrame
    ) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(
                {"custkey": [], "n_orders": [], "n_events_in_span": []}
            ).astype(
                {"custkey": "int64", "n_orders": "int64",
                 "n_events_in_span": "int64"}
            )
        lo = left["o_orderdate"].min()
        hi = left["o_orderdate"].max()
        n_ev = 0
        if len(right):
            n_ev = int(((right["ts"] >= lo) & (right["ts"] <= hi)).sum())
        return pd.DataFrame(
            {
                "custkey": [int(left["o_custkey"].iloc[0])],
                "n_orders": [len(left)],
                "n_events_in_span": [n_ev],
            }
        )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    events = read_table(spark, sf_dir, "events").select("user_id", "ts")
    return (
        orders.groupBy("o_custkey")
        .cogroup(events.groupBy("user_id"))
        .applyInPandas(
            span_counts,
            "custkey long, n_orders long, n_events_in_span long",
        )
    )
