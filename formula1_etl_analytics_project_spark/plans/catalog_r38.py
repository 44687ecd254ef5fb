"""Round-38 catalog entries (round 7):

* `upsert_schema_evolution` - a partitioned MERGE whose incoming
  batch carries a column the snapshot has never seen. The reference's
  orphaned `MERGE INTO` experiment (SURVEY.md J3) has no evolution
  story at all; Delta/Iceberg solve it with `mergeSchema`-on-MERGE.
  This entry composes the repo's two existing halves - partition-
  pruned `upsert_parquet_partitioned` (sources/sinks.py) and the
  mixed-schema `mergeSchema` scan (`schema_evolution_scan`,
  plans/catalog_ext.py) - into the end-to-end lake pattern: only the
  touched partitions are rewritten with the widened schema, untouched
  partition directories keep their old files, and the read side
  unifies them with NULL-fill.

* `sql_surface_q11` / `sql_surface_q16` / `sql_surface_q20` - the
  last three TPC-H query shapes the SQL surface lacked (q1,3-10,
  12-15,17-19,21,22 exist; q2 is `cheapest_supplier_per_part`).
  The testdata has no partsupp table, so - like the existing q2/q21
  adaptations - the part-supplier relationship is derived from
  lineitem. Identical SQL text through spark.sql and DuckDB.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _dsum, _register
from formula1_etl_analytics_project_spark.plans.catalog_ext import _stage_dir
from formula1_etl_analytics_project_spark.sources.readers import read_table

# Only status-'F' orders are touched, so only the F partition is
# rewritten with the new column: the O and P directories stay on the
# original schema, which is exactly the mixed-schema lake the
# mergeSchema read must reconcile. The oracle restates base-plus-
# updates from the base table, so the merge, the NULL-fill, and the
# new column's values are all value-checked per partition.
_UPSERT_EVO_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' AND o_orderkey % 500 = 0
                          THEN o_totalprice + 10000
                          ELSE o_totalprice END AS DECIMAL(30,4)))
            AS DOUBLE) AS total_price,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' AND o_orderkey % 500 = 0
                       THEN 1 END) AS BIGINT) AS n_tagged,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' AND o_orderkey % 500 = 0
                     THEN o_orderkey % 7 END) AS BIGINT) AS sum_tag
FROM orders
GROUP BY o_orderstatus
"""


@_register("upsert_schema_evolution", _UPSERT_EVO_SQL)
def q_upsert_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution MERGE through a real write/read round-trip:
    orders are snapshotted partitioned by status, then a batch bumping
    every 500th 'F' order's price AND introducing a brand-new
    ``priority_code`` column is merged with ``evolve_schema=True``.
    Dynamic overwrite rewrites ONLY the F partition (now on the
    widened schema, NULL ``priority_code`` for its un-updated rows);
    O and P keep their original files, so the final scan needs
    ``mergeSchema`` and must NULL-fill the column for those
    partitions. The oracle restates base-plus-updates directly from
    the base table - counts, exact-decimal totals, and the new
    column's tagged count/sum per partition - so a merge that widened
    the wrong rows, dropped the column, or rewrote an untouched
    partition hash-mismatches.

    Shape at 100 TB: identical to `upsert_partitioned_orders` - the
    partition-pruned MERGE reads and rewrites only partitions named
    by the incoming batch (one tiny distinct on the partition column);
    evolution adds zero IO because widening is metadata (a NULL-typed
    column on the plan, no data-column scan), and history is never
    rewritten - old partitions stay byte-identical, which is the only
    evolution strategy that survives a 100 TB table."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        upsert_parquet_partitioned,
        write_parquet,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap = os.path.join(_stage_dir(sf_dir, "upsertevo", "orders"), "snap")
    # fresh snapshot every call: the entry checks the MERGE, so the
    # starting state must be the base table, not a previous merge
    write_parquet(orders, snap, partition_by=["o_orderstatus"])
    incoming = (
        orders.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 500 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 10000)
        .withColumn("priority_code", (F.col("o_orderkey") % 7).cast("long"))
    )
    upsert_parquet_partitioned(
        spark,
        incoming,
        snap,
        keys=["o_orderkey"],
        partition_col="o_orderstatus",
        evolve_schema=True,
    )
    merged = spark.read.option("mergeSchema", True).parquet(snap)
    if "priority_code" not in merged.columns:
        # Total function: with an empty incoming batch no written file
        # carries the evolved column, so the mergeSchema scan has
        # nothing to unify - degrade to all-NULL (n_tagged = 0, the
        # oracle's restatement) instead of an unresolved-column error.
        merged = merged.withColumn("priority_code", F.lit(None).cast("long"))
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _dsum(F.col("o_totalprice"), "total_price"),
        F.count("priority_code").alias("n_tagged"),
        F.sum("priority_code").alias("sum_tag"),
    )


# ===========================================================================
# TPC-H Q11 shape: HAVING-against-scalar-subquery (important part value)
# ===========================================================================

_Q11_SQL = """
WITH val AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS v
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE s.s_nationkey < 5
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey,
       CAST(ROUND(v, 2) AS DOUBLE) AS part_value
FROM val
WHERE CAST(ROUND(v, 2) AS DOUBLE) >
      (SELECT CAST(ROUND(SUM(v), 2) AS DOUBLE) / COUNT(*) FROM val)
      * CAST(2.0 AS DOUBLE)
ORDER BY part_value DESC, p_partkey
"""


@_register("sql_surface_q11", _Q11_SQL)
def q_sql_surface_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important part value): per-part revenue from
    a nation group's suppliers, kept only where it exceeds twice the
    AVERAGE part value - the aggregate-filtered-by-global-aggregate
    pattern (partsupp value adapted to lineitem revenue; no partsupp
    table in this schema; Q11's fixed fraction-of-total is scaled by
    1/SF in TPC-H for exactly the reason it fails here - per-part
    share shrinks as the part count grows - so the scale-invariant
    average-multiple threshold replaces it). Identical SQL text both
    engines. Spark plans the scalar subquery as a one-row broadcast;
    the CTE's join + agg is computed per consumer (no CSE across the
    subquery boundary - inherent to the shape, same as q22's
    twice-scanned customer).

    Numeric portability: per-row double product (IEEE, bit-identical)
    -> exact DECIMAL(30,4) sums, ROUND(_, 2) HALF_UP, ONE double cast,
    ONE IEEE division by the bigint count, ONE IEEE multiply - every
    post-decimal step a single deterministic double op in both
    engines; the 2^53 scaled-integer cliff stays ~2 decades away even
    at sf1 (total ~1e11 * 100 < 2^53)."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q11_SQL)


# ===========================================================================
# TPC-H Q16 shape: COUNT(DISTINCT) + NOT IN exclusion subquery
# ===========================================================================

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p_brand <> 'Brand#3'
  AND p_type NOT LIKE 'ECONOMY%'
  AND p_size IN (2, 5, 11, 19, 28, 37, 42, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@_register("sql_surface_q16", _Q16_SQL)
def q_sql_surface_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    supplier counts per (brand, type, size) after excluding a
    supplier denylist via NOT IN (the complaints predicate adapted to
    negative account balance; supplier-part pairs derived from
    lineitem - no partsupp table). Identical SQL text both engines.
    Spark rewrites the NOT IN as a null-aware anti join (s_suppkey is
    non-null, so it degenerates to a plain broadcast anti join) and
    the COUNT(DISTINCT) as a two-phase partial/final aggregate -
    distinct-expand stays on the (brand,type,size,suppkey) grain,
    bounded by |parts| x |suppliers|, never the lineitem row count."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q16_SQL)


# ===========================================================================
# TPC-H Q20 shape: IN over a grouped-HAVING subquery (dominant supplier)
# ===========================================================================

_Q20_SQL = """
WITH pq AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT l_partkey, SUM(qty) AS total_qty FROM pq GROUP BY l_partkey
)
SELECT s.s_name, CAST(s.s_nationkey AS INT) AS s_nationkey
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT pq.l_suppkey FROM pq JOIN tot USING (l_partkey)
  WHERE 2 * pq.qty > tot.total_qty
)
ORDER BY s.s_name
"""


@_register("sql_surface_q20", _Q20_SQL)
def q_sql_surface_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who
    DOMINATED shipments of a part family in a year - an IN whose
    subquery is itself a grouped aggregate joined against a per-part
    total (availqty > half-of-shipped adapted: this supplier moved
    more than half the part's 1997 volume; quantities are integral,
    so `2*qty > total` is exact BIGINT arithmetic - no fraction, no
    float). Identical SQL text both engines. Spark plans the IN as a
    left-semi join; pq aggregates on the bounded (part, supplier)
    grain and tot rides pq's partitioning (one narrow re-agg), so
    nothing after the first GROUP BY is lineitem-sized."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q20_SQL)
