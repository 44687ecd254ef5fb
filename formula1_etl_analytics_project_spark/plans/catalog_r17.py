"""Round-17 catalog entries (round 4, session 3) - 3 entries closing
out the TPC-H sweep and the batching-efficiency axis:

* `sql_surface_q6` - the full-pushdown single-scan aggregate (all
  three predicates must reach the parquet scan; the one TPC-H query
  whose entire plan is the scan).
* `sql_surface_q15` - top-revenue supplier WITH TIES via a scalar MAX
  subquery over a shared derived table (the argmax-with-ties shape a
  LIMIT 1 gets wrong).
* `length_bucket_batching` - padding-waste report for length-bucketed
  training batches (the dynamic-batching prep step: bucket sequences
  to power-of-two caps, measure the padding each bucketing policy
  costs).

TPC-H mapping note: with catalog_r18's Q12/Q14 the engine carries
Q1 (as pricing_summary), Q3, Q4, Q5 (regional_revenue_q5), Q6, Q7,
Q8, Q9, Q10, Q12 (column mapping in catalog_r18 - the testdata ships
no l_shipmode/l_commitdate/l_receiptdate), Q13, Q14, Q15, Q17, Q18,
Q19, Q21, Q22 as literal queries. Q2, Q11, Q16 and Q20 need the
partsupp table, which the driver testdata does not ship; their
SHAPES are covered by `cheapest_supplier_per_part` (Q2's
group-argmin), `nation_revenue_share` (Q11's share-of-global-scalar),
`distinct_counts` (Q16's grouped distinct count) and
`exists_decorrelated` (Q20's nested semi-join chain).

Portability rules as in plans/catalog.py. The length buckets are an
explicit integer CASE chain, not ceil(log2(n)) - integer compares
cannot diverge cross-engine, transcendental-then-ceil can (1-ulp
flips next to exact powers).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_dsum,
)
from formula1_etl_analytics_project_spark.sources.readers import (
    read_table,
    register_views,
)

# ===========================================================================
# TPC-H Q6 shape: the all-pushdown scan
# ===========================================================================

_Q6_SQL = """
SELECT {rev}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""".format(rev=_sql_dsum("l_extendedprice * l_discount", "revenue"))


@_register(
    "sql_surface_q6",
    _Q6_SQL,
    gate_priority=True,
)
def q_sql_surface_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): trivial relationally,
    included because it is the canonical FULL-pushdown check - the
    whole query is one scan + one aggregate, so ALL THREE predicates
    (date range, discount band, quantity cap) must appear as pushed
    parquet filters (plan-pinned). On min/max-sorted data that means
    entire row groups skip; a plan that evaluates any of them
    post-scan reads the whole fact at 100 TB for a 2% selection.
    Identical SQL text in both engines; the 1-row answer sums in
    decimal.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q6_SQL)


# ===========================================================================
# TPC-H Q15 shape: argmax WITH TIES via scalar MAX over a shared CTE
# ===========================================================================

_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(30,4))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


@_register(
    "sql_surface_q15",
    _Q15_SQL,
    gate_priority=True,
)
def q_sql_surface_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): argmax WITH TIES - the revenue
    derived table is consumed twice, once as the join side and once
    reduced to a scalar MAX that filters it, so every supplier tied
    at the maximum survives (ORDER BY/LIMIT 1 silently drops ties;
    this shape is why the benchmark spec mandates the subquery).
    Ties are real here: revenue is an exact decimal sum cast to
    double, so equal revenues are EXACTLY equal in both engines and
    the `=` against the MAX scalar is deterministic - a naive
    double-accumulated SUM would make tie membership partial-sum-
    order dependent.

    Shape at 100 TB: the fact aggregates to |suppliers| rows with the
    date filter pushed to the scan; the scalar MAX is a k-row
    reduction; supplier joins by key. One honest caveat, visible in
    the plan: Spark INLINES the non-recursive CTE per consumer, so
    the 3-month slice is scanned twice (both scans pushdown-pruned to
    the window). A DataFrame caller who needs one pass persists the
    rev aggregate; the entry keeps the verbatim SQL because the
    argmax-with-ties LANGUAGE shape is what it pins.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q15_SQL)


# ===========================================================================
# Length-bucket batching: the padding-waste report
# ===========================================================================

_BUCKET_CASE_SQL = """CASE WHEN n_tok <= 16 THEN 16
     WHEN n_tok <= 32 THEN 32
     WHEN n_tok <= 64 THEN 64
     WHEN n_tok <= 128 THEN 128
     WHEN n_tok <= 256 THEN 256
     WHEN n_tok <= 512 THEN 512
     WHEN n_tok <= 1024 THEN 1024
     WHEN n_tok <= 2048 THEN 2048
     ELSE 4096 END"""

_LENGTH_BUCKET_SQL = rf"""
WITH t AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
), b AS (
  SELECT source, LEAST(n_tok, 4096) AS n_tok, {_BUCKET_CASE_SQL} AS bucket_cap
  FROM t WHERE n_tok > 0
)
SELECT source, CAST(bucket_cap AS INTEGER) AS bucket_cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
       CAST(COUNT(*) * bucket_cap AS BIGINT) AS padded_tokens,
       CAST(COUNT(*) * bucket_cap - SUM(n_tok) AS DOUBLE)
         / CAST(COUNT(*) * bucket_cap AS DOUBLE) AS padding_waste
FROM b
GROUP BY source, bucket_cap
ORDER BY source, bucket_cap
"""


@_register(
    "length_bucket_batching",
    _LENGTH_BUCKET_SQL,
    gate_priority=True,
)
def q_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report: assign every document to the
    smallest power-of-two context cap that fits it and report, per
    (source, cap), how many tokens the padding costs - the number a
    training pipeline reads before choosing between fixed-length
    batching (simple, wasteful) and `pack_sequences`-style packing
    (dense, order-destroying). padding_waste = 1 - fill rate of the
    padded batch. The chain tops out at 4096; longer documents land
    in the 4096 bucket TRUNCATED to the cap (LEAST(n_tok, 4096) on
    both twins), so real_tokens counts tokens actually trained on and
    padding_waste can never go negative — the overflow policy a real
    fixed-context batcher applies.

    The bucket is an explicit integer CASE chain, NOT
    pow(2, ceil(log2(n))) - the integer compares are identical in
    every engine, while a transcendental log2 can sit 1 ulp below an
    integer and flip the ceil cross-engine. The waste ratio is the
    raw int/int IEEE quotient (bit-identical; the catalog_r14
    re-rounding trap).

    Shape at 100 TB: one corpus pass to (source, n_tok), a k-row
    aggregate (|sources| x |buckets|), everything map-side
    combinable. The same bucket column IS the repartition key a real
    batcher would range-shuffle on, so this report prices the layout
    it proposes.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = docs.select(
        "source", F.size(tokens("text")).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    b = t.withColumn(
        "bucket_cap",
        F.when(F.col("n_tok") <= 16, 16)
        .when(F.col("n_tok") <= 32, 32)
        .when(F.col("n_tok") <= 64, 64)
        .when(F.col("n_tok") <= 128, 128)
        .when(F.col("n_tok") <= 256, 256)
        .when(F.col("n_tok") <= 512, 512)
        .when(F.col("n_tok") <= 1024, 1024)
        .when(F.col("n_tok") <= 2048, 2048)
        .otherwise(4096)
        .cast("int"),
    ).withColumn("n_tok", F.least(F.col("n_tok"), F.lit(4096)))
    return (
        b.groupBy("source", "bucket_cap")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
        )
        .select(
            "source",
            "bucket_cap",
            "n_docs",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_cap"))
            .cast("bigint")
            .alias("padded_tokens"),
            (
                (
                    F.col("n_docs") * F.col("bucket_cap")
                    - F.col("real_tokens")
                ).cast("double")
                / (F.col("n_docs") * F.col("bucket_cap")).cast("double")
            ).alias("padding_waste"),
        )
        .orderBy("source", "bucket_cap")
    )
