"""Round-19 catalog entries (round 5, second leg):

* `psi_drift` - Population Stability Index of the event-value
  distribution, first half-month vs second, per event type: the
  standard production drift monitor (the temporal sibling of
  `kl_divergence_sources`, which compares token distributions across
  sources). Fixed-breakpoint value buckets, Laplace-smoothed shares,
  one map-side-combinable scan.
* `ks_two_sample` - two-sample Kolmogorov-Smirnov statistic between
  the order-price distributions of high-priority and low-priority
  orders, computed as the max ECDF gap over the merged sample. The
  cumulative counts come from the catalog's bucketed distributed
  prefix sum (`token_budget_select`'s decomposition) - never a
  single-partition global window over the fact table.
* `mann_whitney_u` - Mann-Whitney U (Wilcoxon rank-sum) over the
  same two arms, with midrank tie handling and the tie-corrected
  normal approximation. Shares the grouped-value cumulative-count
  machinery with `ks_two_sample`; doubled-rank integers keep every
  ranking quantity exact until the final z division.
* `target_encoding_loo` - leave-one-out target encoding of the
  customer market segment against order totals: the classic ML
  categorical-feature transform, computed as a k-row aggregate
  broadcast back into the fact (never a per-row subquery).
* `ndcg_retrieval_eval` - nDCG@10 of the BM25 ranking
  (`bm25_doc_scores`) against graded relevance = number of distinct
  query terms present, with the ideal ranking drawn corpus-wide from
  the posting-filtered candidate set. Completes the retrieval
  family: score -> fuse -> feedback -> evaluate.

Cross-engine portability (plans/catalog.py rules): counts are
BIGINT; every statistic is assembled from exact integers and only
divided/ln'd/sqrt'd at the end through the IDENTICAL expression tree
on both sides; multi-term double sums go through DECIMAL(38,12) so
partition order cannot flip low bits; no DECIMAL/LIST at the output
boundary. ln() parity between Spark and DuckDB on integer-derived
operands is already relied on by the driver-green `doc_entropy` /
`kl_divergence_sources` / `bm25_doc_scores` entries.

Reference parity note: the reference's analytics layer stops at SQL
aggregates and ships distribution questions to Power BI
(SURVEY.md §2.6); these entries are the engine-side versions a
100 TB pipeline needs because no BI tool pulls the full fact table.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.plans.catalog_r10 import (
    _BM25_SQL,
    q_bm25_doc_scores,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# PSI drift monitor (events: first half-month vs second, per type)
# ===========================================================================

# Fixed geometric breakpoints on the event value (range ~[0, 330]).
# Integer literals compare exactly in both engines; a CASE chain, not
# floor(log(v)) - transcendental-then-floor can flip next to powers.
_PSI_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"
_PSI_NBUCKETS = 5

_PSI_SQL = f"""
WITH labeled AS (
  SELECT event_type,
         CASE WHEN ts < {_PSI_SPLIT} THEN 0 ELSE 1 END AS period,
         CASE WHEN value <= 1   THEN 0
              WHEN value <= 5   THEN 1
              WHEN value <= 25  THEN 2
              WHEN value <= 125 THEN 3
              ELSE 4 END AS bucket
  FROM events
), cells AS (
  SELECT event_type, period, bucket, COUNT(*) AS c
  FROM labeled GROUP BY event_type, period, bucket
), grid AS (
  SELECT t.event_type, b.bucket,
         COALESCE(b0.c, 0) AS c_base, COALESCE(b1.c, 0) AS c_cur
  FROM (SELECT DISTINCT event_type FROM labeled) t
  CROSS JOIN (SELECT UNNEST(range({_PSI_NBUCKETS})) AS bucket) b
  LEFT JOIN cells b0 ON b0.event_type = t.event_type
                    AND b0.bucket = b.bucket AND b0.period = 0
  LEFT JOIN cells b1 ON b1.event_type = t.event_type
                    AND b1.bucket = b.bucket AND b1.period = 1
), totals AS (
  SELECT event_type,
         SUM(c_base) AS n_base, SUM(c_cur) AS n_cur
  FROM grid GROUP BY event_type
), terms AS (
  SELECT g.event_type, t.n_base, t.n_cur,
         ((CAST(g.c_cur AS DOUBLE) + 0.5)
            / (CAST(t.n_cur AS DOUBLE) + 2.5)
          - (CAST(g.c_base AS DOUBLE) + 0.5)
            / (CAST(t.n_base AS DOUBLE) + 2.5))
         * ROUND(ln(((CAST(g.c_cur AS DOUBLE) + 0.5)
                       / (CAST(t.n_cur AS DOUBLE) + 2.5))
                    / ((CAST(g.c_base AS DOUBLE) + 0.5)
                       / (CAST(t.n_base AS DOUBLE) + 2.5))), 9) AS term
  FROM grid g JOIN totals t USING (event_type)
)
SELECT event_type,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
FROM terms
GROUP BY event_type, n_base, n_cur
ORDER BY event_type
"""


@_register(
    "psi_drift",
    _PSI_SQL,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type: bucket the event
    value on fixed geometric breakpoints, compare each type's
    second-half-month share vector against its first half, and report
    PSI = sum (p_cur - p_base) * ln(p_cur / p_base). The standard
    rule of thumb (PSI > 0.2 = action) is the consumer's call - the
    engine reports the number. Laplace smoothing (+0.5 per cell over
    K=5 buckets) keeps empty cells finite WITHOUT dropping them: a
    bucket that is empty in both periods still contributes a (tiny)
    term, so the grid is generated densely and zero-filled rather
    than inner-joined away.

    Determinism: bucket and period labels are integer/timestamp
    compares; shares divide exact integers through the identical
    expression tree in both engines; the ln() ratio — the one
    transcendental — is round(9)-guarded before the product so a
    cross-libm ulp cannot reach the sum; the 5 per-bucket terms
    decimal-sum (order-free) before the final round.

    Shape at 100 TB: ONE scan of events into a (type, bucket)
    conditional aggregate (map-side combinable, both period arms from
    the same pass) - cells = |types| * 5 rows. The dense grid is then
    built INSIDE the per-type row (collect the cell structs, explode
    a literal 0..4 sequence, look each bucket up in the collected
    array) rather than by joining generator frames back against the
    cell table: every join-back variant consumes the cell subtree
     >= 3 times, and Catalyst re-executes - and re-scans - an
    unpersisted subtree per consumer. The collect_list order is
    irrelevant (lookup is by bucket key). Everything after the first
    aggregate runs on k-row frames.
    """
    events = read_table(spark, sf_dir, "events", spread=True)
    labeled = events.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 0)
        .otherwise(1)
        .alias("period"),
        F.when(F.col("value") <= 1, 0)
        .when(F.col("value") <= 5, 1)
        .when(F.col("value") <= 25, 2)
        .when(F.col("value") <= 125, 3)
        .otherwise(4)
        .alias("bucket"),
    )
    cells = labeled.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("c_base"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("c_cur"),
    )
    per_type = cells.groupBy("event_type").agg(
        F.sum("c_base").cast("bigint").alias("n_base"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
        F.collect_list(F.struct("bucket", "c_base", "c_cur")).alias("cl"),
    )

    def cell_count(field):
        # F.get (0-based) yields NULL on a miss; element_at raises
        # under ANSI when the filtered array is empty.
        hit = F.get(F.filter("cl", lambda x: x["bucket"] == F.col("b")), 0)
        return F.coalesce(hit[field], F.lit(0))

    dense = per_type.select(
        "event_type",
        "n_base",
        "n_cur",
        "cl",
        F.explode(
            F.sequence(F.lit(0), F.lit(_PSI_NBUCKETS - 1))
        ).alias("b"),
    ).select(
        "event_type",
        "n_base",
        "n_cur",
        cell_count("c_base").alias("c_base"),
        cell_count("c_cur").alias("c_cur"),
    )
    p_cur = (F.col("c_cur").cast("double") + F.lit(0.5)) / (
        F.col("n_cur").cast("double") + F.lit(2.5)
    )
    p_base = (F.col("c_base").cast("double") + F.lit(0.5)) / (
        F.col("n_base").cast("double") + F.lit(2.5)
    )
    # ln() is the one cross-libm transcendental in the term: round it
    # to 9 digits BEFORE the product/decimal-sum (degree_powerlaw /
    # token_zipf_fit idiom) so a sub-9th-digit ulp divergence between
    # JVM StrictMath and DuckDB's libm cannot reach the decimal sum.
    term = (
        (p_cur - p_base) * F.round(F.log(p_cur / p_base), 9)
    ).cast("decimal(38,12)")
    return (
        dense.groupBy("event_type", "n_base", "n_cur")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("psi"))
        .orderBy("event_type")
    )


# ===========================================================================
# Shared machinery: per-value arm counts + distributed cumulative sums
# ===========================================================================

# Value-range bucket width for the distributed prefix sum over order
# prices. Bucketing must only be MONOTONIC in the value for the
# local+offset decomposition to be exact; width tunes balance, not
# correctness (token_budget_select's invariant).
_CUM_BUCKET_WIDTH = 8192.0


def _arm_value_cums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per distinct order price: counts in each arm (A = urgent/high
    priority, B = the rest), INCLUSIVE cumulative counts in global
    price order, and the constant arm totals (n_a, n_b) on every row,
    via bucketed local windows + broadcast bucket offsets. The offset
    table is |buckets| rows - its single-node windows are bounded by
    the bucket count, never the fact. Carrying n_a/n_b as columns of
    the (broadcast) offset table means BOTH downstream statistics
    consume this frame exactly ONCE - no second windowed subtree for
    a separate totals aggregate (Catalyst does not CSE plan subtrees;
    a naive `.agg(max(cum_a))` sibling re-runs the whole window
    pipeline and re-scans the fact)."""
    orders = read_table(spark, sf_dir, "orders", spread=True)
    g = (
        orders.select(
            F.col("o_totalprice").alias("v"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("is_a"),
        )
        .groupBy("v")
        .agg(
            F.sum("is_a").cast("bigint").alias("ca"),
            (F.count("*") - F.sum("is_a")).cast("bigint").alias("cb"),
        )
        .withColumn(
            "bucket",
            F.floor(F.col("v") / F.lit(_CUM_BUCKET_WIDTH)).cast("int"),
        )
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = g.withColumn("la", F.sum("ca").over(w_local)).withColumn(
        "lb", F.sum("cb").over(w_local)
    )
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        g.groupBy("bucket")
        .agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
        .select(
            "bucket",
            F.coalesce(F.sum("ta").over(w_off), F.lit(0)).alias("oa"),
            F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("ob"),
            F.sum("ta").over(w_all).cast("bigint").alias("n_a"),
            F.sum("tb").over(w_all).cast("bigint").alias("n_b"),
        )
    )
    return local.join(F.broadcast(offs), "bucket").select(
        "v",
        "ca",
        "cb",
        (F.col("la") + F.col("oa")).cast("bigint").alias("cum_a"),
        (F.col("lb") + F.col("ob")).cast("bigint").alias("cum_b"),
        "n_a",
        "n_b",
    )


_ARMS_CTE = """
g AS (
  SELECT o_totalprice AS v,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM orders GROUP BY o_totalprice
), c AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM g
), t AS (
  SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM c
)
"""

# ===========================================================================
# Two-sample Kolmogorov-Smirnov statistic
# ===========================================================================

_KS_SQL = f"""
WITH {_ARMS_CTE}
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS d_stat
FROM c CROSS JOIN t
GROUP BY n_a, n_b
"""


@_register(
    "ks_two_sample",
    _KS_SQL,
    bench=True,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: do high-priority
    orders (1-URGENT / 2-HIGH) draw their totals from the same
    distribution as the rest? D = max over the merged sample of
    |ECDF_A(v) - ECDF_B(v)| - the distribution-free test a pipeline
    runs before trusting that a segment/split is unbiased (the
    two-sample sibling of `ab_test_ztest`, which compares means).

    Exactness: the max runs over INTEGER gap numerators
    |cum_a * n_b - cum_b * n_a| (max of integers is order-free,
    unlike max of quotient doubles, where two mathematically equal
    gaps could round differently); ONE double division at the end.

    Shape at 100 TB: prices collapse per distinct value first
    (map-side combinable), then the inclusive cumulative counts come
    from the bucketed prefix-sum decomposition - per-bucket local
    windows plus a broadcast |buckets|-row offset table - so no
    global sort and no single-partition window ever sees the fact.
    The arm totals ride the broadcast offset table, so the cumulative
    frame is consumed once and the fact is scanned exactly twice
    (local-window arm + bucket-totals arm), both column-pruned to
    (price, priority); the final max is again map-side combinable.
    Compare the oracle, which states the same sum as one global
    OVER (ORDER BY v).
    """
    c = _arm_value_cums(spark, sf_dir)
    return (
        c.select(
            "n_a",
            "n_b",
            F.abs(
                F.col("cum_a") * F.col("n_b")
                - F.col("cum_b") * F.col("n_a")
            ).alias("gap"),
        )
        .groupBy("n_a", "n_b")
        .agg(
            (
                F.max("gap").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("d_stat")
        )
        .select("n_a", "n_b", "d_stat")
    )


# ===========================================================================
# Mann-Whitney U (rank-sum with midrank ties + tie-corrected z)
# ===========================================================================

_MWU_SQL = f"""
WITH {_ARMS_CTE}, r AS (
  SELECT CAST(SUM(ca * (2 * (cum_a + cum_b - ca - cb) + ca + cb + 1))
              AS BIGINT) AS r1_doubled,
         CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
              AS BIGINT) AS tie_cubes
  FROM c
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(2 * n_a * n_b + n_a * (n_a + 1) - r1_doubled AS DOUBLE)
         / 2.0 AS u1,
       (CAST(2 * n_a * n_b + n_a * (n_a + 1) - r1_doubled AS DOUBLE)
          - CAST(n_a * n_b AS DOUBLE)) / 2.0
       / sqrt(
           CAST(n_a * n_b AS DOUBLE) / 12.0
           * (CAST(n_a + n_b + 1 AS DOUBLE)
              - CAST(tie_cubes AS DOUBLE)
                / (CAST(n_a + n_b AS DOUBLE)
                   * CAST(n_a + n_b - 1 AS DOUBLE)))
         ) AS z
FROM t CROSS JOIN r
"""


@_register(
    "mann_whitney_u",
    _MWU_SQL,
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U over the same high-vs-low-priority price arms
    as `ks_two_sample`: the nonparametric location test (does one arm
    stochastically dominate?), robust where the t/z test's normality
    assumption fails. Midrank tie handling via doubled ranks: a tie
    group of total size t starting after cum_before values has
    2 * midrank = 2 * cum_before + t + 1 (an INTEGER), so
    R1_doubled = sum ca * (2 * cum_before + t + 1) stays exact, and
    U1 = n_a n_b + n_a(n_a+1)/2 - R1 is assembled from integers and
    halved once. z uses the standard tie-corrected variance
    n_a n_b / 12 * ((n + 1) - sum(t^3 - t) / (n (n - 1))).

    Exactness: both engines evaluate the identical double expression
    over five integer inputs (n_a, n_b, r1_doubled, tie_cubes, n);
    sqrt is IEEE-exact. Integer quantities stay below 2^53 up to
    ~10^8 rows per arm; beyond that the doubled-rank SUM needs a
    wider type (documented, not silently truncated - Spark long sums
    overflow-check under ANSI).

    Shape at 100 TB: identical to `ks_two_sample` - per-value
    collapse, bucketed distributed prefix sum, then a 1-row
    all-integer aggregate; nothing fact-sized crosses a single
    partition.
    """
    c = _arm_value_cums(spark, sf_dir)
    t = F.col("ca") + F.col("cb")
    cum_before = F.col("cum_a") + F.col("cum_b") - t
    r = c.agg(
        F.sum(F.col("ca") * (2 * cum_before + t + 1))
        .cast("bigint")
        .alias("r1_doubled"),
        F.sum(t * t * t - t).cast("bigint").alias("tie_cubes"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u1_doubled = (
        2 * n_a * n_b + n_a * (n_a + 1) - F.col("r1_doubled")
    ).cast("double")
    n = n_a + n_b
    sigma = F.sqrt(
        (n_a * n_b).cast("double") / F.lit(12.0)
        * (
            (n + 1).cast("double")
            - F.col("tie_cubes").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return r.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        (u1_doubled / F.lit(2.0)).alias("u1"),
        (
            (u1_doubled - (n_a * n_b).cast("double"))
            / F.lit(2.0)
            / sigma
        ).alias("z"),
    )


# ===========================================================================
# Leave-one-out target encoding (segment -> order total)
# ===========================================================================

_LOO_SQL = """
WITH seg AS (
  SELECT c_mktsegment,
         SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS seg_sum,
         COUNT(*) AS seg_n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
)
SELECT o_orderkey, c_mktsegment,
       CAST(CAST(seg_sum - CAST(o_totalprice AS DECIMAL(30,4))
                 AS DOUBLE)
            / CAST(seg_n - 1 AS DOUBLE) AS DOUBLE) AS loo_enc
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN seg USING (c_mktsegment)
WHERE seg_n > 1
ORDER BY o_orderkey
"""


@_register(
    "target_encoding_loo",
    _LOO_SQL,
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: replace the categorical
    c_mktsegment with the mean o_totalprice of all OTHER orders in
    the same segment - the leakage-safe form of mean encoding
    (including the row's own target leaks label information into the
    feature). loo = (seg_sum - own) / (seg_n - 1); singleton
    segments have no leave-one-out population and are excluded
    (seg_n > 1), not silently encoded with a global prior.

    Exactness: the segment sum and the row subtraction happen in
    DECIMAL(30,4) (order-free, exact at the data's 2-decimal
    precision); ONE double division per row at the end, identical
    expression both engines.

    Shape at 100 TB: the naive statement is a correlated per-row
    subquery; here it is one k-row aggregate (k = |segments|,
    map-side combinable after the dimension join) BROADCAST back
    into the fact - the fact table is scanned twice but never
    shuffled for the encoding (the customer join broadcasts its
    dimension both times). Fusing to one scan would need the
    aggregate and its broadcast-back in the same stage, which Spark
    cannot schedule; the second scan is a column-pruned
    (orderkey, custkey, totalprice) read.
    """
    orders = read_table(spark, sf_dir, "orders", spread=True)
    customer = read_table(spark, sf_dir, "customer")
    fact = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select("o_orderkey", "c_mktsegment", "o_totalprice")
    price_dec = F.col("o_totalprice").cast("decimal(30,4)")
    seg = fact.groupBy("c_mktsegment").agg(
        F.sum(price_dec).alias("seg_sum"),
        F.count("*").alias("seg_n"),
    )
    return (
        fact.join(F.broadcast(seg), "c_mktsegment")
        .filter(F.col("seg_n") > 1)
        .select(
            "o_orderkey",
            "c_mktsegment",
            (
                (F.col("seg_sum") - price_dec).cast("double")
                / (F.col("seg_n") - 1).cast("double")
            )
            .cast("double")
            .alias("loo_enc"),
        )
        .orderBy("o_orderkey")
    )


# ===========================================================================
# nDCG@10 retrieval evaluation (BM25 ranking vs graded term relevance)
# ===========================================================================

_NDCG_K = 10

_NDCG_SQL = rf"""
WITH bm AS (
{_BM25_SQL}
), ranked AS (
  SELECT doc_id, n_terms AS rel,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS pos
  FROM bm
  ORDER BY bm25 DESC, doc_id
  LIMIT {_NDCG_K}
), tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), rel_all AS (
  SELECT doc_id, COUNT(DISTINCT tok) AS rel
  FROM tok
  WHERE tok IN ('spark', 'join', 'window')
  GROUP BY doc_id
), ideal AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS pos
  FROM rel_all
  ORDER BY rel DESC, doc_id
  LIMIT {_NDCG_K}
), dcg AS (
  SELECT CAST(SUM(CAST((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
                       / (ln(CAST(pos + 1 AS DOUBLE)) / ln(2.0))
                       AS DECIMAL(38,12))) AS DOUBLE) AS dcg,
         COUNT(*) AS n_ranked
  FROM ranked
), idcg AS (
  SELECT CAST(SUM(CAST((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
                       / (ln(CAST(pos + 1 AS DOUBLE)) / ln(2.0))
                       AS DECIMAL(38,12))) AS DOUBLE) AS idcg
  FROM ideal
)
SELECT CAST(n_ranked AS BIGINT) AS n_ranked,
       ROUND(dcg, 6) AS dcg,
       ROUND(idcg, 6) AS idcg,
       ROUND(dcg / idcg, 6) AS ndcg
FROM dcg CROSS JOIN idcg
"""


@_register(
    "ndcg_retrieval_eval",
    _NDCG_SQL,
)
def q_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking against graded relevance, closing
    the retrieval family's loop (score `bm25_doc_scores`, fuse
    `rrf_fusion`, feed back `prf_query_expansion`, EVALUATE here).
    Relevance grade = number of distinct query terms a document
    contains (BM25's own n_terms output for ranked docs); the ideal
    ranking is drawn CORPUS-WIDE from every document containing at
    least one query term, so a ranker that misses a 3-term document
    is penalized even if its top-10 ordering is internally
    consistent. DCG = sum (2^rel - 1) / log2(pos + 1).

    Determinism: gains are exact small integers, positions 1-10;
    log2 is written ln(x)/ln(2.0) IDENTICALLY in both engines (no
    engine-native log2, whose rounding could differ); the <= 10
    terms decimal-sum. The ranking order (bm25 DESC, doc_id) is
    total because the BM25 scores themselves are cross-engine exact
    (driver-green entry).

    Shape at 100 TB: both rankings end in TakeOrderedAndProject over
    posting-list-filtered frames (the explode is pruned to the query
    terms before any aggregate); the DCG/IDCG assembly runs on
    10-row frames. Nothing corpus-sized is sorted or windowed - the
    ROW_NUMBER windows run on the k-row heads.
    """
    bm = q_bm25_doc_scores(spark, sf_dir)
    w_rank = Window.orderBy(F.desc("bm25"), "doc_id")
    ranked = (
        bm.orderBy(F.desc("bm25"), "doc_id")
        .limit(_NDCG_K)
        .select(
            F.col("n_terms").alias("rel"),
            F.row_number().over(w_rank).alias("pos"),
        )
    )
    docs = read_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    rel_all = (
        tok.filter(F.col("tok").isin("spark", "join", "window"))
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("rel"))
    )
    w_ideal = Window.orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rel_all.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .select("rel", F.row_number().over(w_ideal).alias("pos"))
    )

    def dcg_term():
        return (
            (
                F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0)
            )
            / (
                F.log((F.col("pos") + 1).cast("double"))
                / F.log(F.lit(2.0))
            )
        ).cast("decimal(38,12)")

    dcg = ranked.agg(
        F.sum(dcg_term()).cast("double").alias("dcg"),
        F.count("*").alias("n_ranked"),
    )
    idcg = ideal.agg(F.sum(dcg_term()).cast("double").alias("idcg"))
    return dcg.crossJoin(F.broadcast(idcg)).select(
        F.col("n_ranked").cast("bigint").alias("n_ranked"),
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )
