"""Round-28 catalog entries (round 5, seventh leg) - planner-style
cardinality auditing, diversity-capped selection, and the vocabulary
power-law fit:

* `join_size_estimate` - the optimizer's join-cardinality estimate
  (uniformity + containment: |A JOIN B| ~ n_a*n_b/max(d_a,d_b))
  audited against the EXACT join size computed from collapsed
  per-key counts - the planning diagnostic that tells an operator
  which joins the estimator will mis-plan at 100 TB.
* `diversity_capped_topk` - global top-k under a per-group cap (max
  2 docs per source in the top 10): the diversified-selection
  pattern every retrieval/curation pipeline needs so one dominant
  source cannot monopolize a ranked budget.
* `token_zipf_fit` - OLS fit of the Zipf power law over the top-100
  token frequencies (log-log slope/intercept/r2) - the vocabulary
  twin of `degree_powerlaw`, characterizing corpus naturalness
  (machine-generated corpora flatten the slope).

Cross-engine portability as plans/catalog.py: ln values round(9)-
pinned BEFORE decimal summation (the degree_powerlaw idiom), exact
decimal moments, doubles only inside final expressions, total
orderings everywhere (freq ties break on the token string).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _SQL_NORM_TOKS,
    _SQL_QUALITY,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Join-cardinality estimation audit (uniformity + containment assumption)
# ===========================================================================

_JOIN_PAIRS = (
    ("orders_x_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_x_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_x_part", "lineitem", "l_partkey", "part", "p_partkey"),
)


def _est_block_sql(name, lt, lk, rt, rk):
    return f"""
SELECT '{name}' AS join_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {lt}) AS n_left,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {rt}) AS n_right,
       (SELECT CAST(COUNT(DISTINCT {lk}) AS BIGINT) FROM {lt}) AS d_left,
       (SELECT CAST(COUNT(DISTINCT {rk}) AS BIGINT) FROM {rt}) AS d_right,
       (SELECT CAST(COUNT(*) AS DOUBLE) FROM {lt})
             * (SELECT COUNT(*) FROM {rt})
             / (SELECT CAST(GREATEST(COUNT(DISTINCT {lk}),
                         (SELECT COUNT(DISTINCT {rk}) FROM {rt}))
                       AS DOUBLE) FROM {lt}) AS est_rows,
       (SELECT CAST(SUM(c1 * c2) AS BIGINT) FROM
          (SELECT {lk} AS k, COUNT(*) AS c1 FROM {lt} GROUP BY 1) a
          JOIN
          (SELECT {rk} AS k, COUNT(*) AS c2 FROM {rt} GROUP BY 1) b
          USING (k)) AS actual_rows
"""


_JOIN_EST_SQL = (
    "SELECT join_name, n_left, n_right, d_left, d_right, est_rows,"
    " actual_rows,"
    " (est_rows - actual_rows) / CAST(actual_rows AS DOUBLE)"
    "   AS rel_error FROM ("
    + " UNION ALL ".join(_est_block_sql(*p) for p in _JOIN_PAIRS)
    + ") ORDER BY join_name"
)


@_register(
    "join_size_estimate",
    _JOIN_EST_SQL,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-estimation audit for the three FK joins a star
    query plans through: the textbook uniformity+containment estimate
    n_left*n_right/max(d_left,d_right) (what a cost-based optimizer
    assumes without histograms) against the EXACT join output size -
    computed WITHOUT running the join: per-key counts collapse each
    side map-side, the collapsed count tables join, and
    SUM(c_left*c_right) is the precise answer. The rel_error column
    is the number that decides whether a 100 TB join needs real
    statistics (skew histograms, `skew_report`) or the estimate is
    safe to plan on.

    Distributed form: each fact table is scanned once per audit row
    with a 2-column pruned projection; every aggregate combines
    map-side; the exactness join moves (key, count) pairs - orders of
    magnitude smaller than the join it sizes. Nothing corpus-scale
    crosses the wire: the wide fact join this PREDICTS is never
    executed.
    """
    out = None
    for name, lt, lk, rt, rk in _JOIN_PAIRS:
        left = read_table(spark, sf_dir, lt)
        right = read_table(spark, sf_dir, rt)
        lc = left.groupBy(F.col(lk).alias("k")).agg(
            F.count("*").alias("c1")
        )
        rc = right.groupBy(F.col(rk).alias("k")).agg(
            F.count("*").alias("c2")
        )
        stats_l = lc.agg(
            F.sum("c1").cast("bigint").alias("n_left"),
            F.count("*").cast("bigint").alias("d_left"),
        )
        stats_r = rc.agg(
            F.sum("c2").cast("bigint").alias("n_right"),
            F.count("*").cast("bigint").alias("d_right"),
        )
        actual = (
            lc.join(rc, "k")
            .agg(
                F.sum(F.col("c1") * F.col("c2"))
                .cast("bigint")
                .alias("actual_rows")
            )
        )
        row = (
            stats_l.crossJoin(stats_r)
            .crossJoin(actual)
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "n_right",
                "d_left",
                "d_right",
                (
                    F.col("n_left").cast("double")
                    * F.col("n_right")
                    / F.greatest("d_left", "d_right").cast("double")
                ).alias("est_rows"),
                "actual_rows",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "*",
        (
            (F.col("est_rows") - F.col("actual_rows"))
            / F.col("actual_rows").cast("double")
        ).alias("rel_error"),
    ).orderBy("join_name")


# ===========================================================================
# Diversity-capped global top-k (max per-group share of a ranked budget)
# ===========================================================================

_DIVERSE_TOPK_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, {_SQL_QUALITY} AS q
  FROM documents
), per_source AS (
  SELECT doc_id, source, q,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY q DESC, doc_id) AS src_rank
  FROM scored
), capped AS (
  SELECT doc_id, source, q FROM per_source WHERE src_rank <= 2
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS BIGINT)
         AS rank,
       doc_id, source, q
FROM capped
ORDER BY q DESC, doc_id LIMIT 10
"""


@_register(
    "diversity_capped_topk",
    _DIVERSE_TOPK_SQL,
)
def q_diversity_capped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 documents by quality score under a DIVERSITY CAP
    of 2 per source - the selection rule that stops one dominant
    domain from monopolizing a ranked budget (retrieval result
    diversification, curation quotas, eval-set balancing). Totally
    ordered: ties break on doc_id at both ranking levels, so the
    selected set is unique.

    Distributed form: the per-source rank is a window PARTITIONED BY
    SOURCE over a 3-column projection (parallelism = source count,
    each partition a per-group top-2 that Spark executes with a
    WindowGroupLimit pushdown - never materializing full per-source
    sorts); the global stage runs on the CAPPED set (2 x |sources|
    rows), so the final total order touches a bounded input. At
    100 TB the corpus-scale work is one window exchange on source.
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        quality_score,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    scored = docs.select(
        "doc_id", "source", quality_score("text").alias("q")
    )
    w_src = Window.partitionBy("source").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    capped = (
        scored.withColumn("src_rank", F.row_number().over(w_src))
        .filter(F.col("src_rank") <= 2)
        .drop("src_rank")
    )
    w_all = Window.orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        capped.withColumn(
            "rank", F.row_number().over(w_all).cast("bigint")
        )
        .filter(F.col("rank") <= 10)
        .select("rank", "doc_id", "source", "q")
        .orderBy("rank")
    )


# ===========================================================================
# Zipf power-law fit over the token frequency spectrum
# ===========================================================================

_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest({_SQL_NORM_TOKS}) AS t
  FROM documents
), vocab AS (
  SELECT t, COUNT(*) AS f FROM toks GROUP BY t
), top AS (
  SELECT t, f, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS r
  FROM vocab ORDER BY f DESC, t LIMIT 100
), pts AS (
  SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
         CAST(ROUND(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
  FROM top
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pts
)
SELECT n AS n_points,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) - (n * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
             * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
             / ((n * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS r2
FROM mom
"""


@_register(
    "token_zipf_fit",
    _ZIPF_SQL,
)
def q_token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the token frequency spectrum: rank the
    top-100 tokens by frequency (ties broken on the token string -
    total order), OLS-fit ln(freq) against ln(rank), and report
    slope, intercept, and r2 - the vocabulary twin of
    `degree_powerlaw`. Natural language sits near slope -1;
    machine-generated or heavily templated corpora flatten or kink
    the line, so the slope is a cheap corpus-naturalness gate.

    Cross-engine: each ln value is round(9)-PINNED before entering
    the decimal moment sums (the degree_powerlaw idiom - ln is not
    IEEE-correctly-rounded, so raw ln ulps must never reach a sum);
    the r2 numerator squares by EXPLICIT self-multiplication (pow(x,
    2) is not guaranteed exact in either libm), and the final
    slope/r2 convert exact decimal moments to double inside one
    expression.

    Distributed form: the vocabulary aggregate combines map-side;
    the top-100 comes out as a TakeOrdered (never a global sort of
    the vocabulary); the rank window and moment aggregate then run
    on 100 rows. One corpus-scale exchange (the token histogram).
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        normalize,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    vocab = (
        docs.select(F.explode(tokens(normalize("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("f"))
    )
    top = vocab.orderBy(F.desc("f"), F.asc("t")).limit(100)
    w = Window.orderBy(F.desc("f"), F.asc("t"))
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.round(F.log(F.col("r").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("y"),
    )
    mom = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return mom.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )
