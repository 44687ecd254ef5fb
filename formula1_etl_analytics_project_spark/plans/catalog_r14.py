"""Round-14 catalog entries (round 4, session 3) - 6 entries across
three themes:

* SQL surface depth, continuing catalog_r13's TPC-H sweep with the
  three classic shapes still missing: `sql_surface_q13` (outer join
  with an ON-clause filter + distribution-of-counts double
  aggregation), `sql_surface_q17` (correlated scalar AVG subquery
  that must decorrelate into an aggregate-then-join), and
  `sql_surface_q19` (OR-of-ANDs disjunctive predicate spanning both
  join sides, the pushdown-through-CNF case).
* Warehouse plumbing: `calendar_dim` - the generated date-spine
  dimension (every BI star schema has one; the reference builds its
  date attributes per-row in Python at `etl_scripts/transform.py`'s
  date-part derivations - here the spine is generated once and meant
  to be broadcast against facts).
* LLM-corpus curation: `perplexity_buckets` (CCNet-style
  head/middle/tail tercile bucketing of the bigram-LM score per
  source) and `token_budget_select` (greedy quality-ordered document
  selection under a global token budget, computed with a
  value-range-bucketed distributed prefix sum - never a
  single-partition global window).

Portability rules as in plans/catalog.py: exact integer/decimal
arithmetic wherever a sum crosses partitions, doubles only in
per-row deterministic IEEE expressions or k-row finishes,
ROUND(x, 6) on compared floats, COUNT/SUM outputs cast to BIGINT in
the oracle before they reach the output schema, year()/day() parts
cast to INTEGER on both sides so pandas dtypes agree.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_dsum,
)
from formula1_etl_analytics_project_spark.plans.catalog_r11 import (
    _BIGRAM_LM_SQL,
    q_bigram_lm_score,
)
from formula1_etl_analytics_project_spark.sources.readers import (
    read_table,
    register_views,
)

# ===========================================================================
# TPC-H Q13 shape: customer order-count distribution
# ===========================================================================

_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@_register(
    "sql_surface_q13",
    _Q13_SQL,
    gate_priority=True,
)
def q_sql_surface_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): the two
    relational features no earlier entry combines - a predicate inside
    the OUTER JOIN's ON clause (semantically different from a WHERE:
    customers whose every order is urgent must still appear, with
    c_count = 0) and a second aggregation OVER the first's result (a
    histogram of group sizes). COUNT(o_orderkey) counts non-NULL keys
    only, so unmatched customers land in the 0 bucket - the exact
    NULL-counting subtlety Q13 exists to test. Identical SQL text in
    both engines.

    Shape at 100 TB: orders shuffles once on o_custkey for the
    outer-join + first aggregate (Catalyst reuses the exchange);
    the ON-clause filter is pushed to the orders scan BEFORE the join
    (safe on the preserved-side's opposite: it only removes join
    matches, never customer rows). The second aggregate's input is
    |customers| rows collapsing to ~40 distinct counts - partial
    aggregation makes the final shuffle bytes-sized. The ORDER BY is
    on the ~40-row result.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q13_SQL)


# ===========================================================================
# TPC-H Q17 shape: correlated scalar AVG -> aggregate-then-join
# ===========================================================================

_Q17_SQL = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_small,
       {rev}
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
  SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE))
  FROM lineitem l2 WHERE l2.l_partkey = p_partkey
)
GROUP BY p_brand
ORDER BY p_brand
""".format(rev=_sql_dsum("l_extendedprice", "small_qty_revenue"))


@_register(
    "sql_surface_q17",
    _Q17_SQL,
    gate_priority=True,
)
def q_sql_surface_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity orders): a correlated scalar
    AVG subquery in the WHERE clause, correlated through the JOINED
    dimension's key (p_partkey), generalized from the single-brand
    reference form to a per-brand report so every SF produces rows.
    `scalar_subquery` covers the select-list position; this is the
    filter position, where the subquery's value gates which rows
    survive - the decorrelation Catalyst MUST do (a per-row
    re-execution would rescan lineitem per lineitem row).

    Determinism across engines: the threshold is
    0.2 * (exact-decimal SUM / COUNT) - the numerator is
    order-independent, so the derived double and the `<` comparison
    are bit-identical in Spark and DuckDB; a naive AVG(double) here
    could flip boundary rows per partial-sum order.

    Shape at 100 TB: Catalyst rewrites to an aggregate of lineitem by
    l_partkey joined back to lineitem on l_partkey - the fact shuffles
    on l_partkey once for the aggregate and once for the join probe,
    and AQE reuses the first exchange for the second because both key
    on l_partkey. part is broadcast. The final per-brand aggregate is
    k rows.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q17_SQL)


# ===========================================================================
# TPC-H Q19 shape: disjunctive predicates spanning both join sides
# ===========================================================================

_Q19_SQL = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {rev}
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 15 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 25 AND 50
       AND l_quantity BETWEEN 30 AND 50)
GROUP BY p_brand
ORDER BY p_brand
""".format(rev=_sql_dsum("l_extendedprice * (1 - l_discount)", "revenue"))


@_register(
    "sql_surface_q19",
    _Q19_SQL,
    gate_priority=True,
)
def q_sql_surface_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under disjunctive
    conditions): an OR of ANDs where every disjunct mixes columns from
    BOTH join sides - the predicate cannot be evaluated until after
    the join, yet its single-side implications can. This is the
    CNF-pushdown case: Catalyst extracts
    `(brand=1 AND size 1-15) OR (brand=2 AND ...) OR ...` for the
    part scan and `(qty 1-20) OR (qty 15-35) OR (qty 30-50)` for the
    lineitem scan, shrinking both inputs before the join while the
    full mixed predicate re-applies after it.

    Shape at 100 TB: the part-side disjunction prunes the broadcast
    build to 3 brands' rows; the lineitem-side quantity disjunction
    reaches the parquet scan as a pushed filter (row-group min/max
    pruning). The residual post-join filter touches only
    already-joined rows. One fact scan, zero fact shuffles
    (BroadcastHashJoin), k-row aggregate.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q19_SQL)


# ===========================================================================
# Generated calendar dimension (date spine)
# ===========================================================================

_CALENDAR_SQL = """
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
), spine AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
           AS cal_date
  FROM bounds
)
SELECT cal_date,
       CAST(year(cal_date) AS INTEGER) AS y,
       CAST(quarter(cal_date) AS INTEGER) AS q,
       CAST(month(cal_date) AS INTEGER) AS m,
       CAST(day(cal_date) AS INTEGER) AS dom,
       CAST(date_diff('day', DATE '1970-01-05', cal_date) % 7 + 1
            AS INTEGER) AS iso_dow,
       cal_date - CAST(date_diff('day', DATE '1970-01-05', cal_date) % 7
                       AS INTEGER) AS week_start,
       cal_date = last_day(cal_date) AS is_month_end,
       CAST(day(last_day(cal_date)) AS INTEGER) AS days_in_month
FROM spine
ORDER BY cal_date
"""


@_register(
    "calendar_dim",
    _CALENDAR_SQL,
    gate_priority=True,
)
def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension: one row per day spanning the
    fact table's date range, with the star-schema date attributes
    (year/quarter/month/day, ISO day-of-week, week start, month-end
    flag, days-in-month). The reference derives date parts per fact
    row in Python (transform.py's season/date splits); the warehouse
    idiom is to generate the spine ONCE and broadcast-join it, so
    every date attribute is computed date-range-many times instead of
    fact-row-many times - at 100 TB that is ~3k rows of computation
    replacing ~100 billion.

    Cross-engine determinism: day-of-week is pure date arithmetic
    (days since Monday 1970-01-05, mod 7) rather than each engine's
    differently-anchored dayofweek(); all date parts are cast to
    INTEGER on both sides so pandas dtypes agree (DuckDB's year()
    is BIGINT, Spark's is INT).

    Shape at 100 TB: the bounds aggregate is a full-scan MIN/MAX that
    parquet footer statistics answer without reading data pages; the
    sequence explode fans a 1-row input to |days| rows on one task -
    trivially small - and the result is the canonical broadcast
    dimension.
    """
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias(
            "cal_date"
        )
    )
    dsm = (
        F.datediff(F.col("cal_date"), F.lit("1970-01-05").cast("date")) % 7
    )
    return spine.select(
        "cal_date",
        F.year("cal_date").alias("y"),
        F.quarter("cal_date").alias("q"),
        F.month("cal_date").alias("m"),
        F.dayofmonth("cal_date").alias("dom"),
        (dsm + 1).cast("int").alias("iso_dow"),
        F.date_sub(F.col("cal_date"), dsm).alias("week_start"),
        (F.col("cal_date") == F.last_day("cal_date")).alias("is_month_end"),
        F.dayofmonth(F.last_day("cal_date")).alias("days_in_month"),
    ).orderBy("cal_date")


# ===========================================================================
# CCNet-style perplexity buckets (head / middle / tail per source)
# ===========================================================================

_PPL_BUCKETS_SQL = f"""
WITH scored AS ({_BIGRAM_LM_SQL}),
lab AS (
  SELECT d.source, s.mean_nll_bigram,
         NTILE(3) OVER (PARTITION BY d.source
                        ORDER BY s.mean_nll_bigram, s.doc_id) AS tercile
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT source,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(mean_nll_bigram AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean_nll
FROM lab
GROUP BY source, bucket
ORDER BY source, bucket
"""


@_register(
    "perplexity_buckets",
    _PPL_BUCKETS_SQL,
    gate_priority=True,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: per source, split documents
    into head/middle/tail terciles of bigram-LM score (lower NLL =
    closer to the LM's training distribution) and report each
    bucket's size and mean NLL. This is the curation decision layer
    on top of `bigram_lm_score` - CCNet keeps `head`+`middle` and
    drops `tail`; the per-source partitioning is what makes the
    cut adaptive to each domain's own score distribution instead of
    one global threshold.

    Composes the registered `bigram_lm_score` builder directly (same
    plan, same determinism guarantees: NLL rounded to 6 before the
    tercile sort, doc_id tie-break makes NTILE assignment total). The
    bucket mean is deliberately NOT re-rounded: its numerator is an
    exact decimal sum and its denominator an integer, so the IEEE
    quotient is bit-identical across engines, while a second ROUND
    would reintroduce the half-way-tie divergence (engines disagree
    on x.xxxxxx5 doubles - observed at sf0.1).

    Shape at 100 TB: the NTILE window partitions BY SOURCE - parallel
    across domains, never a single global sort (CCNet's own sharding);
    a skewed giant source degrades to that source's sort, which is
    the algorithm's requirement, not an implementation accident. The
    bucket aggregate is k rows. The LM-scoring plan underneath is
    bigram_lm_score's (hash joins on hashable keys, broadcast vocab).
    """
    scores = q_bigram_lm_score(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy("mean_nll_bigram", "doc_id")
    lab = (
        scores.join(docs, "doc_id")
        .withColumn("tercile", F.ntile(3).over(w))
        .withColumn(
            "bucket",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail"),
        )
    )
    return (
        lab.groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(F.col("mean_nll_bigram").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*").cast("double")
            ).alias("mean_nll"),
        )
        .orderBy("source", "bucket")
    )


# ===========================================================================
# Global token-budget selection (distributed prefix sum)
# ===========================================================================

_BUDGET_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS ts
  FROM documents
), s AS (
  SELECT doc_id, source, len(ts) AS n_tok,
         ROUND(CAST(len(list_distinct(ts)) AS DOUBLE)
               / CAST(len(ts) AS DOUBLE), 6) AS ttr
  FROM t WHERE len(ts) > 0
), c AS (
  SELECT doc_id, source, n_tok,
         COALESCE(SUM(n_tok) OVER (
           ORDER BY ttr DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         SUM(n_tok) OVER () AS total
  FROM s
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
FROM c
WHERE 10 * cum_before < 4 * total
GROUP BY source
ORDER BY source
"""

_N_SCORE_BUCKETS = 64


@_register(
    "token_budget_select",
    _BUDGET_SQL,
    gate_priority=True,
    bench=True,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy data selection under a global token budget: rank every
    document by a quality score (type-token ratio - dedup-adjacent,
    cheap, deterministic), walk the ranking in score order, and keep
    documents until 40% of the corpus' tokens are spent (a document
    is kept iff the budget is not exhausted when it STARTS). This is
    the "fill the training-token budget with the best data first"
    primitive behind quality-threshold ablations - the output reports
    what the cut keeps per source.

    Sibling of `operators.sequence.distributed_sequence` (the
    mapInPandas two-phase running count): this entry pins a pure-JVM
    running sum - bucketed windows, no Python worker - over a
    composite (score desc, id) order, which a single ascending range
    key does not support.

    The oracle states it as the obvious single global running sum.
    The Spark side computes the SAME prefix sum distributed: scores
    live in [0,1], so bucket k = floor((1-ttr)*64) is a deterministic
    VALUE-RANGE partition of the global sort order (no sampling pass,
    no single-partition window). Each bucket cumsums locally under a
    (bucket)-partitioned window; a 64-row aggregate of per-bucket
    totals, cumsummed on the driver-side-sized window and broadcast
    back, provides each bucket's global offset. local + offset ==
    global prefix sum for ANY contiguous bucketing of the total
    order, which is what makes the decomposition exact rather than
    approximate. Budget comparison is pure integer arithmetic
    (10*cum_before < 4*total) - no float accumulation anywhere.

    Shape at 100 TB: one shuffle of a 4-narrow-column projection into
    64 (configurable) score-range buckets, one bytes-sized offset
    table broadcast, one k-row final aggregate. A skewed score
    distribution concentrates buckets; raising the bucket count or
    splitting on (bucket, hash) salt restores balance without
    changing the sum - the offset composition is associative.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    ts = tokens("text")
    s = (
        docs.select(
            "doc_id",
            "source",
            F.size(ts).alias("n_tok"),
            F.round(
                F.size(F.array_distinct(ts)).cast("double")
                / F.size(ts).cast("double"),
                6,
            ).alias("ttr"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn(
            "bucket",
            F.least(
                F.lit(_N_SCORE_BUCKETS - 1),
                F.floor((F.lit(1.0) - F.col("ttr")) * _N_SCORE_BUCKETS),
            ).cast("int"),
        )
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("ttr"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_local = s.withColumn(
        "local_before", F.coalesce(F.sum("n_tok").over(w_local), F.lit(0))
    )
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        s.groupBy("bucket")
        .agg(F.sum("n_tok").alias("bucket_tokens"))
        .withColumn(
            "offset",
            F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)),
        )
        .select("bucket", "offset")
    )
    total = s.agg(F.sum("n_tok").alias("total"))
    kept = (
        with_local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(total))
        .filter(
            F.lit(10) * (F.col("local_before") + F.col("offset"))
            < F.lit(4) * F.col("total")
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .orderBy("source")
    )
