"""Round-34 catalog entry (round 5, thirteenth leg) - incremental
view maintenance for a JOIN view:

* `incremental_join_maintenance` - maintain a per-nation revenue view
  (orders JOIN customer JOIN nation) under an orders DELTA without
  recomputing the base: V_new = merge(V_old, agg(delta JOIN dims)).
  `incremental_agg_merge` proved single-table aggregate merges; this
  is the JOIN-view delta algebra (deltaA join B, then an outer-merge
  sum) every materialized-view refresh and streaming foreachBatch
  upsert relies on. The driver-checked output is the MERGED view,
  and the oracle computes the view DIRECTLY from all orders - so the
  incremental path is verified equal to the full recompute, which is
  the entire correctness claim of incremental maintenance.

Cross-engine portability as plans/catalog.py: decimal-exact revenue
sums (the merge adds DECIMALS, so base + delta is exact regardless
of which side a row landed on), BIGINT counts, one round(2)-free
output (sums cast to double once, after the merge).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_dsum,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

_CUTOFF = "1996-01-01"

_IJM_SQL = f"""
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_sql_dsum('o.o_totalprice', 'revenue')}
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY nation
"""


@_register(
    "incremental_join_maintenance",
    _IJM_SQL,
)
def q_incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a join view: the per-nation revenue
    view is FIRST materialized from orders before {_CUTOFF} (the
    "existing" view), then a delta batch (orders on/after the cutoff)
    is joined against the dimensions ALONE and outer-merged into the
    view by summing decimal partials - the base fact table is never
    rescanned. The returned view must equal the oracle's direct
    full-table aggregate: that equality IS incremental maintenance's
    correctness contract (self-joins of the delta with itself don't
    arise here because dimensions are static; for dim deltas the same
    algebra adds the A-join-deltaB term).

    Determinism: both the base view and the delta aggregate carry
    DECIMAL revenue partials and BIGINT counts; the merge is
    coalesce-and-add on exact types, and the single cast to double
    happens once, after the merge - so the incremental result is
    bit-identical to a one-shot aggregate no matter where the cutoff
    splits the data.

    Distributed form: the delta pass scans ONLY delta rows (cutoff
    predicate pushed to parquet, plan-pinned); dimensions broadcast
    in both passes; the merge is a 25-row full-outer join. At 100 TB
    with daily deltas this is the difference between rescanning the
    lake and scanning one day.
    """
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    dims = F.broadcast(
        customer.select("c_custkey", "c_nationkey").join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            customer.c_nationkey == nation.n_nationkey,
        )
    )
    cutoff = F.lit(_CUTOFF).cast("date")

    def view_of(fact):
        return (
            fact.join(dims, fact.o_custkey == dims.c_custkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias(
                    "rev_dec"
                ),
            )
        )

    # 1) the "existing" materialized view (base rows only)
    base_view = view_of(
        orders.filter(F.col("o_orderdate").cast("date") < cutoff)
    ).localCheckpoint()  # materialized: the delta pass must not rebuild it
    # 2) the delta batch aggregate (delta rows join dims only)
    delta_view = view_of(
        orders.filter(F.col("o_orderdate").cast("date") >= cutoff)
    )
    # 3) outer-merge: coalesce-and-add exact partials
    b = base_view.select(
        "nation",
        F.col("n_orders").alias("n_b"),
        F.col("rev_dec").alias("r_b"),
    )
    d = delta_view.select(
        "nation",
        F.col("n_orders").alias("n_d"),
        F.col("rev_dec").alias("r_d"),
    )
    merged = b.join(d, "nation", "full_outer").select(
        "nation",
        (
            F.coalesce(F.col("n_b"), F.lit(0))
            + F.coalesce(F.col("n_d"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        (
            F.coalesce(F.col("r_b"), F.lit(0).cast("decimal(30,4)"))
            + F.coalesce(F.col("r_d"), F.lit(0).cast("decimal(30,4)"))
        )
        .cast("double")
        .alias("revenue"),
    )
    return merged.orderBy("nation")
