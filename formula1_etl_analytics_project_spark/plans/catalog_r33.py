"""Round-33 catalog entries (round 5, twelfth leg) - completing two
measurement families:

* `anova_dow_value` - one-way ANOVA across the seven day-of-week
  groups of order value: the k-group gap in the statistical-test
  family (z/t/Welch cover 2 groups, chi-squared/Cramer's V cover
  categorical, KS/MWU cover 2-sample distribution; k-group means had
  no test). F from exact decimal moments, one scan.
* `source_pair_similarity` - pairwise SOURCE-vs-SOURCE token
  distribution cosine: `kl_divergence_sources` measures each source
  against the corpus, `source_overlap_matrix` measures shared
  DOCUMENTS; this measures distributional redundancy between source
  pairs even when no document is shared - the signal dataset mixing
  uses to merge near-identical domains.

Cross-engine portability as plans/catalog.py: decimal-exact moments
and integer count vectors, doubles only in final expressions with
identical shapes, sqrt-only transcendence, unrounded divisions of
exact aggregates.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _SQL_NORM_TOKS,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# One-way ANOVA over day-of-week groups
# ===========================================================================

# Day-of-week is a FIXED 7-way split, so the 7 group moments pivot
# into columns and every cross-group reduction is an EXPLICIT
# left-associated chain of double adds - bit-identical in both
# engines at ANY magnitude. This replaces decimal round-trips
# entirely: the entry's sums-of-squares (~5e16 at sf1) exceed 2^53
# as VALUES, where decimal<->double conversions double-round in
# DuckDB (the sum_charge cliff) and no output rounding can reconcile
# them (caught at sf1: ms_between diverged by 2.7 absolute). The one
# rounding left is ROUND(ss, 0) - the per-group sum-of-squares
# quantized to integer grain (exact decimal round, identical in both
# engines) so its value stays exactly double-representable through
# ~9e15 per group.
_ANOVA_PIV_SQL = ",\n         ".join(
    f"COALESCE(MAX(CASE WHEN dow = {d} THEN s_d END), 0.0) AS s{d},\n"
    f"         COALESCE(MAX(CASE WHEN dow = {d} THEN ss_d END), 0.0)"
    f" AS ss{d},\n"
    f"         COALESCE(MAX(CASE WHEN dow = {d} THEN CAST(n AS DOUBLE)"
    f" END), 0.0) AS n{d}"
    for d in range(1, 8)
)

_ANOVA_SB = {
    d: f"(CASE WHEN n{d} > 0 THEN s{d} * s{d} / n{d} ELSE 0.0 END)"
    for d in range(1, 8)
}
_ANOVA_SALL = " + ".join(f"s{d}" for d in range(1, 8))
_ANOVA_NUMB_SQL = (
    "("
    + " + ".join(_ANOVA_SB[d] for d in range(1, 8))
    + f" - ({_ANOVA_SALL}) * ({_ANOVA_SALL}) / CAST(n_total AS DOUBLE))"
)
_ANOVA_NUMW_SQL = (
    "(" + " + ".join(f"(ss{d} - {_ANOVA_SB[d]})" for d in range(1, 8)) + ")"
)

_ANOVA_SQL = f"""
WITH grp AS (
  SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS s,
         SUM(CAST(o_totalprice AS DECIMAL(19,2))
             * CAST(o_totalprice AS DECIMAL(19,2))) AS ss
  FROM orders GROUP BY 1
), gd AS (
  SELECT dow, n,
         CAST(s AS DOUBLE) AS s_d,
         CAST(ROUND(ss, 0) AS DOUBLE) AS ss_d
  FROM grp
), piv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         {_ANOVA_PIV_SQL}
  FROM gd
)
SELECT k, n_total,
       {_ANOVA_NUMB_SQL} / CAST(k - 1 AS DOUBLE) AS ms_between,
       {_ANOVA_NUMW_SQL} / CAST(n_total - k AS DOUBLE) AS ms_within,
       ({_ANOVA_NUMB_SQL} / CAST(k - 1 AS DOUBLE))
         / ({_ANOVA_NUMW_SQL} / CAST(n_total - k AS DOUBLE)) AS f_stat
FROM piv
"""


@_register(
    "anova_dow_value",
    _ANOVA_SQL,
)
def q_anova_dow_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean order value differ across the seven
    day-of-week groups? F = MS_between / MS_within from the sum-of-
    squares decomposition - the k-group mean test the 2-sample
    z/t/Welch family cannot express, and the statistical gate behind
    `dow_seasonality`'s descriptive profile.

    Determinism: per-group n/sum/sum-of-squares are exact decimals
    (squares via 19-digit operands -> int128 products), cast out to
    doubles at magnitudes that remain exactly representable (ss is
    integer-quantized first); day-of-week is a FIXED 7-way split, so
    the groups pivot into columns and every cross-group reduction is
    an explicit left-associated chain of double adds, identical text
    in both twins - bit-identical at ANY magnitude, with no decimal
    round-trip whose scaled integer could pass 2^53 (the sf1 cliff;
    DuckDB's dayofweek is 0-6 vs Spark's 1-7, aligned with +1 now
    that group identity reaches the pivot).

    Distributed form: one pushed-projection scan, a 7-group
    map-side-combinable moment aggregate, then a 7-row rollup.
    Nothing else moves - at 100 TB, ANOVA is exactly one pass.
    """
    orders = read_table(spark, sf_dir, "orders")
    grp = orders.groupBy(
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .cast("int")
        .alias("dow")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
        F.sum(
            F.col("o_totalprice").cast("decimal(19,2)")
            * F.col("o_totalprice").cast("decimal(19,2)")
        ).alias("ss"),
    )
    # Pivot the 7 fixed groups into columns; every cross-group
    # reduction below is an explicit left-associated double-add
    # chain, mirroring the oracle's expression text exactly (see the
    # module-level rationale: the SS magnitudes pass 2^53 at sf1, so
    # decimal round-trips cannot be engine-identical there).
    gd = grp.select(
        "dow",
        "n",
        F.col("s").cast("double").alias("s_d"),
        F.round(F.col("ss"), 0).cast("double").alias("ss_d"),
    )
    piv_cols = [
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
    ]
    for d in range(1, 8):
        piv_cols += [
            F.coalesce(
                F.max(F.when(F.col("dow") == d, F.col("s_d"))), F.lit(0.0)
            ).alias(f"s{d}"),
            F.coalesce(
                F.max(F.when(F.col("dow") == d, F.col("ss_d"))), F.lit(0.0)
            ).alias(f"ss{d}"),
            F.coalesce(
                F.max(
                    F.when(F.col("dow") == d, F.col("n").cast("double"))
                ),
                F.lit(0.0),
            ).alias(f"n{d}"),
        ]
    piv = gd.agg(*piv_cols)

    def sb(d):
        return F.when(
            F.col(f"n{d}") > 0,
            F.col(f"s{d}") * F.col(f"s{d}") / F.col(f"n{d}"),
        ).otherwise(F.lit(0.0))

    s_all = F.col("s1")
    for d in range(2, 8):
        s_all = s_all + F.col(f"s{d}")
    sb_sum = sb(1)
    sw_sum = F.col("ss1") - sb(1)
    for d in range(2, 8):
        sb_sum = sb_sum + sb(d)
        sw_sum = sw_sum + (F.col(f"ss{d}") - sb(d))
    num_b = sb_sum - s_all * s_all / F.col("n_total").cast("double")
    msb = num_b / (F.col("k") - 1).cast("double")
    msw = sw_sum / (F.col("n_total") - F.col("k")).cast("double")
    return piv.select(
        "k",
        "n_total",
        msb.alias("ms_between"),
        msw.alias("ms_within"),
        (msb / msw).alias("f_stat"),
    )


# ===========================================================================
# Pairwise source-vs-source token distribution cosine
# ===========================================================================

_SRC_SIM_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_SQL_NORM_TOKS}) AS t
  FROM documents
), hist AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, t
), norms AS (
  SELECT source,
         CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
              AS DOUBLE) AS sq
  FROM hist GROUP BY source
), dots AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(SUM(CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0)))
              AS DOUBLE) AS dot
  FROM hist a JOIN hist b ON a.t = b.t AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT d.src_a, d.src_b,
       d.dot / (sqrt(na.sq) * sqrt(nb.sq)) AS cos_sim
FROM dots d
JOIN norms na ON na.source = d.src_a
JOIN norms nb ON nb.source = d.src_b
ORDER BY d.src_a, d.src_b
"""


@_register(
    "source_pair_similarity",
    _SRC_SIM_SQL,
)
def q_source_pair_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vs-source token-distribution cosine: each
    source becomes a term-count vector, pairs score by cosine over
    the shared vocabulary - the distributional-redundancy map that
    tells dataset mixing which domains to merge (high cosine, zero
    document overlap is exactly the case `source_overlap_matrix`
    cannot see and `kl_divergence_sources`' corpus-reference
    formulation blurs).

    Determinism: count vectors are exact integers; dots and squared
    norms accumulate as int128 decimal products cast to double once;
    cosine is dot / (sqrt * sqrt) of identical doubles (sqrt is
    IEEE-exact), left unrounded.

    Distributed form: the corpus-scale exchange is the (source,
    token) histogram (map-side combinable, vocabulary-sized output);
    the pair join runs token-keyed OVER THE HISTOGRAM (each token
    contributes |sources-sharing-it|^2/2 pairs, bounded by 20^2 -
    never a document join); norms join back on the 20-row source
    dimension. At 100 TB everything after the histogram is
    vocabulary-scale.
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        normalize,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    hist = (
        docs.select(
            "source", F.explode(tokens(normalize("text"))).alias("t")
        )
        .groupBy("source", "t")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    norms = hist.groupBy("source").agg(
        F.sum(
            F.col("c").cast("decimal(19,0)")
            * F.col("c").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("sq")
    )
    a = hist.select(F.col("source").alias("src_a"), "t", F.col("c").alias("ca"))
    b = hist.select(F.col("source").alias("src_b"), "t", F.col("c").alias("cb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.col("ca").cast("decimal(19,0)")
                * F.col("cb").cast("decimal(19,0)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    return (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("source").alias("src_a"), F.col("sq").alias("sqa")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                norms.select(
                    F.col("source").alias("src_b"), F.col("sq").alias("sqb")
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            (
                F.col("dot") / (F.sqrt(F.col("sqa")) * F.sqrt(F.col("sqb")))
            ).alias("cos_sim"),
        )
        .orderBy("src_a", "src_b")
    )
