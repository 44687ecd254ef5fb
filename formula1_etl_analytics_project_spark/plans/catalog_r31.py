"""Round-31 catalog entries (round 5, tenth leg) - causal readout and
operational anomaly detection:

* `diff_in_diff` - the difference-in-differences estimator over a
  hash-split treatment assignment and a calendar cutover: the causal
  readout layer on top of the repo's experimentation gates
  (`ab_srm_check` validates the split, `ab_test_ztest` reads a
  proportion; this reads a continuous outcome with a parallel-trends
  baseline), with cell moments exact and the t-statistic derived
  from one deterministic expression.
* `seasonal_anomaly_flags` - hour-of-day-adjusted anomaly detection
  over the hourly event-value series: residual = hour total minus
  its hour-of-day mean, flagged beyond 3 residual sigmas - the
  operational alert that composes the repo's seasonality and outlier
  signals into one checked operator.

Cross-engine portability as plans/catalog.py: md5-derived treatment
assignment, decimal-exact cell sums, UNROUNDED divisions of exact
aggregates, identical expression shapes in both twins so derived
doubles are bit-identical, sqrt (IEEE-exact) as the only
non-rational step.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Difference-in-differences over a hash split and a calendar cutover
# ===========================================================================

_DID_SQL = """
WITH cells AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 = 1
              THEN 'treat' ELSE 'control' END AS grp,
         CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
              THEN 'post' ELSE 'pre' END AS period,
         value
  FROM events WHERE event_type = 'purchase'
), mom AS (
  SELECT grp, period,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(30,6))) AS s,
         SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)))
           AS ss
  FROM cells GROUP BY grp, period
), wide AS (
  SELECT
    MAX(CASE WHEN grp = 'control' AND period = 'pre'  THEN CAST(s AS DOUBLE) / n END) AS m_c_pre,
    MAX(CASE WHEN grp = 'control' AND period = 'post' THEN CAST(s AS DOUBLE) / n END) AS m_c_post,
    MAX(CASE WHEN grp = 'treat'   AND period = 'pre'  THEN CAST(s AS DOUBLE) / n END) AS m_t_pre,
    MAX(CASE WHEN grp = 'treat'   AND period = 'post' THEN CAST(s AS DOUBLE) / n END) AS m_t_post,
    MAX(CASE WHEN grp = 'control' AND period = 'pre'  THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) / n END) AS v_c_pre,
    MAX(CASE WHEN grp = 'control' AND period = 'post' THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) / n END) AS v_c_post,
    MAX(CASE WHEN grp = 'treat'   AND period = 'pre'  THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) / n END) AS v_t_pre,
    MAX(CASE WHEN grp = 'treat'   AND period = 'post' THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) / n END) AS v_t_post,
    CAST(SUM(n) AS BIGINT) AS n_events
  FROM mom
)
SELECT m_c_pre, m_c_post, m_t_pre, m_t_post, n_events,
       (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
       sqrt(v_c_pre + v_c_post + v_t_pre + v_t_post) AS se,
       ((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
         / sqrt(v_c_pre + v_c_post + v_t_pre + v_t_post) AS t_stat
FROM wide
"""


@_register(
    "diff_in_diff",
    _DID_SQL,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: purchase value per (hash-split
    group, pre/post cutover) cell, DiD = (treat_post - treat_pre) -
    (control_post - control_pre), with a four-cell standard error
    and t-statistic - the causal readout that controls for the
    secular trend a naive before/after comparison confounds.
    Treatment assignment is the md5 parity split `ab_srm_check`
    validates; the cutover is a fixed calendar instant.

    Determinism: each cell's sum and sum-of-squares accumulate as
    exact decimals (value pre-pinned to 6 dp in testdata; squares in
    DECIMAL(38,12) via 19-digit operands so DuckDB multiplies in
    int128); means and variances are IDENTICAL expression shapes in
    both twins over those exact sums, so every derived double is
    bit-identical, and sqrt is IEEE-correctly rounded. Outputs stay
    UNROUNDED - rounding exact-rational-derived doubles is the
    half-boundary hazard, not a safety.

    Distributed form: one fact scan with the event-type filter
    pushed to parquet; the 4-cell moment aggregate combines
    map-side; everything after the exchange runs on 4 rows. At
    100 TB the scan is the cost - exactly one pass.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cells = ev.select(
        F.when(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2
            == 1,
            F.lit("treat"),
        )
        .otherwise(F.lit("control"))
        .alias("grp"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"),
            F.lit("post"),
        )
        .otherwise(F.lit("pre"))
        .alias("period"),
        "value",
    )
    mom = cells.groupBy("grp", "period").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
        F.sum(
            F.col("value").cast("decimal(19,6)")
            * F.col("value").cast("decimal(19,6)")
        ).alias("ss"),
    )

    def cell(g, p, expr):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), expr)
        )

    mean = F.col("s").cast("double") / F.col("n")
    var_of_mean = (
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n")
        )
        / (F.col("n") - 1)
        / F.col("n")
    )
    wide = mom.agg(
        cell("control", "pre", mean).alias("m_c_pre"),
        cell("control", "post", mean).alias("m_c_post"),
        cell("treat", "pre", mean).alias("m_t_pre"),
        cell("treat", "post", mean).alias("m_t_post"),
        cell("control", "pre", var_of_mean).alias("v_c_pre"),
        cell("control", "post", var_of_mean).alias("v_c_post"),
        cell("treat", "pre", var_of_mean).alias("v_t_pre"),
        cell("treat", "post", var_of_mean).alias("v_t_post"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    se = F.sqrt(
        F.col("v_c_pre")
        + F.col("v_c_post")
        + F.col("v_t_pre")
        + F.col("v_t_post")
    )
    return wide.select(
        "m_c_pre",
        "m_c_post",
        "m_t_pre",
        "m_t_post",
        "n_events",
        did.alias("did"),
        se.alias("se"),
        (did / se).alias("t_stat"),
    )


# ===========================================================================
# Hour-of-day-adjusted anomaly flags over the hourly event series
# ===========================================================================

_SEASONAL_ANOM_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr,
         CAST(hour(ts) AS INTEGER) AS hod,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
  FROM events GROUP BY 1, 2
), hod_mean AS (
  SELECT hod,
         CAST(SUM(CAST(total AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
           AS mu
  FROM hourly GROUP BY hod
), resid AS (
  SELECT h.hr, h.hod, h.total, m.mu, h.total - m.mu AS r
  FROM hourly h JOIN hod_mean m ON h.hod = m.hod
), sigma AS (
  SELECT sqrt(CAST(SUM(CAST(ROUND(r * r, 6) AS DECIMAL(30,6)))
                AS DOUBLE) / (COUNT(*) - 1)) AS sd
  FROM resid
)
SELECT r.hr, r.hod, r.total, r.mu AS expected, r.r AS residual,
       r.r / s.sd AS z
FROM resid r CROSS JOIN sigma s
WHERE r.r > 3 * s.sd OR r.r < -3 * s.sd
ORDER BY r.hr
"""


@_register(
    "seasonal_anomaly_flags",
    _SEASONAL_ANOM_SQL,
)
def q_seasonal_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: hourly event-value
    totals, de-seasonalized against their hour-of-day mean, flagged
    where the residual exceeds 3 residual standard deviations - the
    alerting operator that composes `dow_seasonality`'s profile idea
    and `zscore_outliers`' gate into one checked pipeline (a raw
    z-score fires every busy-hour peak; the seasonal adjustment is
    what makes the alert actionable).

    Determinism: hourly totals and hour-of-day means ride exact
    decimal sums; residuals are subtractions of identical doubles;
    the residual variance pins each squared residual to 6 dp BEFORE
    the decimal sum (r*r is a derived double - its last ulp is
    identical cross-engine only if every upstream op is, so the pin
    makes the sum order-free AND shape-proof); the 3-sigma compare
    evaluates the same doubles on both engines. Output z stays
    unrounded.

    Distributed form: one fact scan; the hour rollup combines
    map-side (24x|days| groups); the hour-of-day profile is a 24-row
    aggregate broadcast back; sigma is one more scalar broadcast.
    Nothing corpus-scale moves after the first exchange.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("total")
    )
    hod_mean = hourly.groupBy("hod").agg(
        (
            F.sum(F.col("total").cast("decimal(30,6)")).cast("double")
            / F.count("*")
        ).alias("mu")
    )
    # resid feeds TWO consumers (sigma and the flag filter) - without
    # the boundary the fact scan + hour rollup re-execute per consumer
    resid = (
        hourly.join(F.broadcast(hod_mean), "hod")
        .select(
            "hr", "hod", "total", F.col("mu").alias("expected"),
            (F.col("total") - F.col("mu")).alias("residual"),
        )
        .localCheckpoint()
    )
    sigma = resid.agg(
        F.sqrt(
            F.sum(
                F.round(F.col("residual") * F.col("residual"), 6).cast(
                    "decimal(30,6)"
                )
            ).cast("double")
            / (F.count("*") - 1)
        ).alias("sd")
    )
    return (
        resid.crossJoin(F.broadcast(sigma))
        .filter(
            (F.col("residual") > 3 * F.col("sd"))
            | (F.col("residual") < -3 * F.col("sd"))
        )
        .select(
            "hr",
            "hod",
            "total",
            "expected",
            "residual",
            (F.col("residual") / F.col("sd")).alias("z"),
        )
        .orderBy("hr")
    )
