"""Round-35 catalog entry (round 5, fourteenth leg) - retraction
algebra for view maintenance under DIMENSION deltas:

* `retraction_merge_view` - when a dimension row changes (customers
  re-homed to a new nation), a maintained join view must RETRACT the
  moved customers' history from the old group and ADD it to the new
  one: the +/- delta algebra streaming "update mode" sinks and
  materialized-view refresh engines implement. This is the other
  half of `incremental_join_maintenance` (which covered fact deltas
  against static dims); together they close the delta-join algebra
  dV = dA><B + A><dB.

Cross-engine portability as plans/catalog.py: the moved-customer set
is md5-derived (deterministic), contributions carry sign as exact
decimal partials, and the merge is coalesce-and-add - the oracle
computes the post-change view directly with the re-homed dimension,
so retraction-equals-recompute is the checked contract.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_dsum,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# Deterministic dim delta: customers whose md5 bucket is 0 mod 40
# "move" to the next nation (cyclically). ~2.5% of customers.
_MOVED_PRED = (
    "('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT"
    " % 40 = 0"
)

_RETRACT_SQL = f"""
WITH dim AS (
  SELECT c_custkey,
         CASE WHEN {_MOVED_PRED}
              THEN (c_nationkey + 1) % 25 ELSE c_nationkey END
           AS nationkey
  FROM customer
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_sql_dsum('o.o_totalprice', 'revenue')}
FROM orders o
JOIN dim d ON o.o_custkey = d.c_custkey
JOIN nation n ON d.nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY nation
"""


@_register(
    "retraction_merge_view",
    _RETRACT_SQL,
)
def q_retraction_merge_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-based view maintenance under a dimension change:
    the per-nation revenue view exists (checkpointed); then ~2.5% of
    customers re-home to the next nation. Instead of rebuilding, the
    maintainer aggregates ONLY the moved customers' orders once and
    emits signed contributions - (-n, -rev) against the old nation,
    (+n, +rev) for the new - and coalesce-adds them into the view.
    The oracle computes the post-change view directly from the
    re-homed dimension: retraction-equals-recompute is the contract,
    and it holds bit-exactly because contributions are exact decimal
    partials whose signs cancel without float error. Groups whose
    count nets to zero are DELETED from the view (the recompute has
    no row for them) - the group-deletion half of update-mode
    semantics.

    Distributed form: the delta pass scans orders once SEMI-JOINED to
    the moved-customer set (a broadcast of ~2.5% of the dimension) -
    the 97.5% of history that did not move is never touched; the
    signed explode doubles only the moved aggregate rows; the merge
    is a 25-row outer join. At 100 TB this is the difference between
    reshuffling the lake on every dimension correction and touching
    the affected slice.
    """
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    moved_flag = (
        F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 40
        == 0
    )
    cust = customer.select(
        "c_custkey", "c_nationkey", moved_flag.alias("moved")
    )

    # 1) the existing view (pre-change dimension), checkpointed
    base_view = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias(
                "rev_dec"
            ),
        )
        .localCheckpoint()
    )

    # 2) moved customers' per-(old, new) contribution - ONE pass over
    #    the affected slice only (broadcast semi-join on the moved set)
    moved = cust.filter(F.col("moved")).select(
        "c_custkey",
        F.col("c_nationkey").alias("old_nk"),
        ((F.col("c_nationkey") + 1) % 25).alias("new_nk"),
    )
    contrib = (
        orders.join(F.broadcast(moved), orders.o_custkey == moved.c_custkey)
        .groupBy("old_nk", "new_nk")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("r"),
        )
    )
    # signed explode: retract from old, add to new
    signed = contrib.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("old_nk").alias("nationkey"),
                    (-F.col("n")).alias("dn"),
                    (-F.col("r")).alias("dr"),
                ),
                F.struct(
                    F.col("new_nk").alias("nationkey"),
                    F.col("n").alias("dn"),
                    F.col("r").alias("dr"),
                ),
            )
        ).alias("x")
    ).select("x.nationkey", "x.dn", "x.dr")
    deltas = signed.groupBy("nationkey").agg(
        F.sum("dn").alias("dn"), F.sum("dr").alias("dr")
    )

    # 3) coalesce-and-add merge, then label with nation names
    merged = (
        base_view.join(deltas, "nationkey", "full_outer")
        .select(
            "nationkey",
            (
                F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_orders"),
            (
                F.coalesce(F.col("rev_dec"), F.lit(0).cast("decimal(30,4)"))
                + F.coalesce(F.col("dr"), F.lit(0).cast("decimal(30,4)"))
            ).alias("rev_dec"),
        )
    )
    return (
        # delete fully-retracted groups: a nation whose every order
        # moved away nets to zero and must VANISH from the view, as
        # the direct recompute has no row for it (review catch - real
        # IVM engines delete zero-count groups)
        merged.filter(F.col("n_orders") > 0)
        .join(
            F.broadcast(nation), merged.nationkey == nation.n_nationkey
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_orders",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy("nation")
    )
