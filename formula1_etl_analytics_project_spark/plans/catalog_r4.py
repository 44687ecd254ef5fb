"""Round-4 catalog entries: bounded-state analytics (exact heavy
hitters), CDC snapshot maintenance, deterministic weighted sampling,
time-series resample + forward-fill, Z-order layout, schema-drift
union, exact-moment anomaly detection and correlation, winsorization,
and text/IR operators (inverted index, bigram PMI ranking).

Every entry follows the portability rules from plans/catalog.py:
decimal sums for order-independence, md5 for cross-engine hashing,
identical scalar-double expression shapes in both plans (IEEE ops are
exactly rounded, so doubles derived from identical inputs by the same
expression are bit-identical), integer arithmetic wherever possible,
unique-key tiebreaks under every LIMIT.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.operators.aggregates import (
    exact_heavy_hitters,
)
from formula1_etl_analytics_project_spark.operators.layout import (
    zorder_key,
    zorder_sql,
)
from formula1_etl_analytics_project_spark.plans.catalog import (
    _dsum,
    _register,
    _sql_dsum,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table
from formula1_etl_analytics_project_spark.sources.sinks import apply_changes

# ===========================================================================
# Bounded-state exact heavy hitters (operators/aggregates.py)
# ===========================================================================

_HH_K = 99

_HEAVY_SQL = f"""
SELECT l_suppkey, COUNT(*) AS cnt
FROM lineitem
GROUP BY l_suppkey
HAVING COUNT(*) * {_HH_K + 1} > (SELECT COUNT(*) FROM lineitem)
"""


@_register(
    "heavy_hitters",
    _HEAVY_SQL,
    gate_priority=True,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys with frequency > N/(k+1), EXACT, with O(k) state per task:
    per-partition Misra-Gries candidates (mapInPandas), then one
    broadcast-semi-join recount against the exact global threshold
    (operators/aggregates.py exact_heavy_hitters). The oracle is the
    naive full GROUP BY + HAVING - the bounded-state path must be
    semantically invisible. l_suppkey's counts straddle N/100 at every
    sf, so both the keep and the drop branch are exercised."""
    li = read_table(spark, sf_dir, "lineitem")
    return exact_heavy_hitters(li, "l_suppkey", k=_HH_K)


# ===========================================================================
# CDC apply (sources/sinks.py apply_changes)
# ===========================================================================

_CDC_SQL = """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 25 = 0 THEN o_totalprice * 2
            WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000
            ELSE o_totalprice END AS price_final
FROM orders
WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 15 = 0
           AND o_orderkey % 25 <> 0)
"""


@_register(
    "cdc_apply",
    _CDC_SQL,
    gate_priority=True,
    bench=True,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A two-wave CDC feed applied to a snapshot through
    sinks.apply_changes (latest-change-per-key + anti-join + union;
    deletes are real). Wave 1 (seq=1) touches every 5th key: delete
    multiples of 15, update the rest (+1000). Wave 2 (seq=2) updates
    every 25th key (price*2) - including keys wave 1 DELETED (multiples
    of 75), so keep-latest must resurrect them and the delete must not
    win. The oracle restates the surviving state in closed form.
    +1000 and *2 on doubles are single IEEE ops - bit-exact both
    engines."""
    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    wave1 = (
        base.filter(key % 5 == 0)
        .withColumn("op", F.when(key % 15 == 0, "D").otherwise("U"))
        .withColumn(
            "o_totalprice",
            F.when(key % 15 == 0, F.col("o_totalprice")).otherwise(
                F.col("o_totalprice") + 1000
            ),
        )
        .withColumn("seq", F.lit(1))
    )
    wave2 = (
        base.filter(key % 25 == 0)
        .withColumn("op", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("seq", F.lit(2))
    )
    merged = apply_changes(
        base,
        wave1.unionByName(wave2),
        keys=["o_orderkey"],
        seq_col="seq",
    )
    return merged.withColumnRenamed("o_totalprice", "price_final")


# ===========================================================================
# Deterministic weighted sampling
# ===========================================================================

_WSAMPLE_SQL = """
SELECT doc_id,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         // greatest(n_chars, 1) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT 100
"""


@_register(
    "weighted_sample",
    _WSAMPLE_SQL,
    gate_priority=True,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased top-k sample: priority =
    hash32(doc_id) DIV weight (integer division - exact in both
    engines), keep the 100 smallest. Heavier docs divide their uniform
    hash by more, so they sink toward the front with probability
    increasing in weight, and the draw is a pure function of the key -
    reproducible across runs, engines, and cluster layouts, unlike
    rand()-based sampling (the same property hash_sample_docs pins for
    the unweighted case). TakeOrderedAndProject keeps it one scan +
    one top-k, no full sort at 100 TB."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    priority = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) div greatest(n_chars, 1L)"
    )
    return (
        docs.select("doc_id", priority.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(100)
    )


# ===========================================================================
# Time-series resample to a minute grid + forward fill
# ===========================================================================

_RESAMPLE_SQL = """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS m, value, ts, event_id
  FROM events
  WHERE user_id % 10 = 0
), lastv AS (
  SELECT user_id, m, value
  FROM (
    SELECT user_id, m, value,
           row_number() OVER (PARTITION BY user_id, m
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
), bounds AS (
  SELECT user_id, min(m) AS lo, max(m) AS hi FROM ev GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS m
  FROM bounds
)
SELECT g.user_id, g.m AS grid_hour,
       last_value(l.value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.m) AS value_ffill
FROM grid g LEFT JOIN lastv l ON g.user_id = l.user_id AND g.m = l.m
"""


@_register(
    "resample_ffill",
    _RESAMPLE_SQL,
    gate_priority=True,
    bench=True,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular events -> regular hourly grid with forward fill
    (the standard telemetry/feature-store densification): per key,
    dedup to last-value-per-bucket (window, full tiebreak), explode
    ``sequence(min, max, interval 1 hour)`` into the grid, left-join
    observations, then ``last(value, ignorenulls)`` over an unbounded-
    preceding frame carries readings forward. Everything shuffles on
    the entity key exactly once; the grid is generated, never stored
    (at 100 TB the grid is bounded by keys x buckets regardless of
    event volume). The first grid row per key is an observation bucket
    by construction, so no NULL survives the fill."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .withColumn("m", F.date_trunc("hour", F.col("ts")))
    )
    wlast = Window.partitionBy("user_id", "m").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    lastv = (
        ev.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("user_id", "m", "value")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(lo, hi, interval 1 hour)")
            ).alias("grid_hour"),
        )
    )
    joined = grid.join(
        lastv,
        (grid.user_id == lastv.user_id) & (grid.grid_hour == lastv.m),
        "left",
    ).select(grid.user_id, "grid_hour", "value")
    wff = (
        Window.partitionBy("user_id")
        .orderBy("grid_hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "grid_hour",
        F.last("value", ignorenulls=True).over(wff).alias("value_ffill"),
    )


# ===========================================================================
# Z-order (Morton) layout key (operators/layout.py)
# ===========================================================================

_ZORDER_SQL = f"""
WITH d AS (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS day_off
  FROM orders
)
SELECT o_orderkey, o_custkey, day_off,
       {zorder_sql(['o_custkey', 'day_off'])} AS zval
FROM d
ORDER BY zval, o_orderkey
LIMIT 20
"""


@_register(
    "zorder_layout",
    _ZORDER_SQL,
    gate_priority=True,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Morton key behind multi-dimensional clustering
    (operators/layout.py): interleave the low 12 bits of customer and
    day-offset with pure integer expressions (JVM codegen, no UDF) and
    surface the lowest-key corner. The oracle restates the interleave
    term-for-term. Range-partitioning + sorting files on this key makes
    min/max pruning work on BOTH dimensions - the test pins the
    per-file stats-tightness win over a single-column sort."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("day_off"),
    )
    return (
        d.withColumn("zval", zorder_key(["o_custkey", "day_off"]))
        .orderBy("zval", "o_orderkey")
        .limit(20)
    )


# ===========================================================================
# Schema-drift union (unionByName allowMissingColumns)
# ===========================================================================

_UNION_BY_NAME_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
FROM orders WHERE year(o_orderdate) < 1997
UNION ALL BY NAME
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE year(o_orderdate) >= 1997
"""


@_register(
    "union_by_name",
    _UNION_BY_NAME_SQL,
    gate_priority=True,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenating batches across schema drift: the legacy extract
    lacks a column the modern extract carries;
    ``unionByName(allowMissingColumns=True)`` aligns by NAME and
    null-fills the gap - the positional UNION ALL would silently pair
    the wrong columns. This is the batch-boundary twin of
    schema_evolution_scan (which pins the same drift at the file
    level)."""
    orders = read_table(spark, sf_dir, "orders")
    legacy = orders.filter(F.year("o_orderdate") < 1997).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    modern = orders.filter(F.year("o_orderdate") >= 1997).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    return legacy.unionByName(modern, allowMissingColumns=True)


# ===========================================================================
# Exact-moment anomaly detection (z-score outliers)
# ===========================================================================

_ZSCORE_SQL = """
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(30,6))
                  * CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - m.s1 / m.n)
             / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 6) AS z
FROM events e JOIN m ON e.event_type = m.event_type
WHERE (e.value - m.s1 / m.n)
      / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)) > 3
"""


@_register(
    "zscore_outliers",
    _ZSCORE_SQL,
    gate_priority=True,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group anomaly flags from EXACT moments: mean and variance
    derived from decimal-cast SUM(x)/SUM(x^2) (order-independent, the
    stats_agg_surface trick), then z computed in double by the
    identical expression in both engines - every scalar IEEE op is
    exactly rounded, so the z's and the >3 cut are bit-reproducible.
    One hash aggregate over the fact + one broadcast join of k group
    rows back onto it: the 100 TB shape for outlier screens."""
    ev = read_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(30,6)")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    joined = ev.join(F.broadcast(m), "event_type")
    z = (F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        joined.filter(z > 3)
        .select("event_id", "event_type", F.round(z, 6).alias("z"))
    )


# ===========================================================================
# Winsorization (percentile clipping) per group
# ===========================================================================

_WINSOR_SQL = f"""
WITH q AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       ROUND(q.lo, 4) AS p05,
       ROUND(q.hi, 4) AS p95,
       {_sql_dsum('least(greatest(l.l_extendedprice, q.lo), q.hi)',
                  'sum_clipped')},
       COUNT(*) AS n
FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
GROUP BY l.l_returnflag, q.lo, q.hi
"""


@_register(
    "winsorize_clip",
    _WINSOR_SQL,
    gate_priority=True,
)
def q_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized totals: clip each value into its group's exact
    [p05, p95] (linear-interpolation percentile, parity pinned by
    event_value_percentiles) and re-aggregate with the decimal sum.
    Two passes over the fact - percentile pass, clip+sum pass - with
    the k-row quantile table broadcast back; clipping is
    least/greatest on bit-identical doubles. The standard outlier
    guard before loss-scale statistics on training corpora."""
    li = read_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.05).alias("lo"),
        F.percentile("l_extendedprice", 0.95).alias("hi"),
    )
    joined = li.join(F.broadcast(q), "l_returnflag")
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
    )
    return joined.groupBy("l_returnflag", "lo", "hi").agg(
        _dsum(clipped, "sum_clipped"),
        F.count("*").alias("n"),
    ).select(
        "l_returnflag",
        F.round("lo", 4).alias("p05"),
        F.round("hi", 4).alias("p95"),
        "sum_clipped",
        "n",
    )


# ===========================================================================
# Exact-moment Pearson correlation per group
# ===========================================================================

_CORR_SQL = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))
                  * CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))
                  * CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
             6) AS corr_qty_price
FROM m
"""


@_register(
    "group_correlations",
    _CORR_SQL,
    gate_priority=True,
)
def q_group_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from exact decimal moments (one
    hash aggregate computing n, Sx, Sy, Sxy, Sxx, Syy), finished in
    double by the identical expression both engines - the built-in
    ``corr`` accumulates doubles in partition order and is not
    reproducible to the last bit. The per-row product is one IEEE
    multiply (deterministic) cast to decimal before summing. Feature-
    correlation screens over 100 TB are exactly this shape: all
    moments in one pass, k result rows."""
    li = read_table(spark, sf_dir, "lineitem")
    dx = F.col("l_quantity").cast("decimal(30,4)")
    dy = F.col("l_extendedprice").cast("decimal(30,4)")
    dxy = (F.col("l_quantity") * F.col("l_extendedprice")).cast(
        "decimal(30,4)"
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dxy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
    )
    corr = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price")
    )


# ===========================================================================
# Inverted index (token -> posting list)
# ===========================================================================

_INVINDEX_SQL = r"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> x <> ''),
           t -> lower(t))) AS token
  FROM documents
)
SELECT token, COUNT(*) AS df,
       array_to_string(
         list_transform(list_sort(list(doc_id)),
                        x -> CAST(x AS VARCHAR)), ',') AS postings
FROM tok
GROUP BY token
HAVING COUNT(*) BETWEEN 3 AND 60
"""


@_register(
    "inverted_index",
    _INVINDEX_SQL,
    gate_priority=True,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an inverted index: explode distinct (token, doc) pairs,
    aggregate each token's document frequency and sorted posting list
    (emitted as a joined string so the value-hash is engine-neutral -
    the array_agg_orders trick). Bounded to mid-frequency tokens
    [3,60] - stopword-frequency postings are the classic skew hazard,
    and a real 100 TB index would shard exactly those keys. explode ->
    distinct -> hash-agg: two shuffles on the token key, no UDF."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.transform(tokens("text"), lambda t: F.lower(t))
        ).alias("token"),
    ).distinct()
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter((F.col("df") >= 3) & (F.col("df") <= 60))
    )


# ===========================================================================
# Bigram collocation ranking (PMI without the log)
# ===========================================================================

_BIGRAM_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> x <> ''),
           t -> lower(t)) AS toks
  FROM documents
), uni AS (
  SELECT unnest(toks) AS w FROM toked
), unicnt AS (
  SELECT w, COUNT(*) AS c FROM uni GROUP BY w
), nt AS (
  SELECT COUNT(*) AS n_tokens FROM uni
), big AS (
  SELECT unnest(list_zip(
           list_slice(toks, 1, len(toks) - 1),
           list_slice(toks, 2, len(toks)))) AS pair
  FROM toked WHERE len(toks) >= 2
), bigcnt AS (
  SELECT pair[1] AS w1, pair[2] AS w2, COUNT(*) AS c_xy
  FROM big GROUP BY 1, 2
), nb AS (
  SELECT SUM(c_xy) AS n_bigrams FROM bigcnt
)
SELECT w1, w2, c_xy,
       ROUND(CAST(c_xy AS DOUBLE) * nt.n_tokens / cx.c
             / nb.n_bigrams * nt.n_tokens / cy.c, 6) AS pmi_ratio
FROM bigcnt
JOIN unicnt cx ON bigcnt.w1 = cx.w
JOIN unicnt cy ON bigcnt.w2 = cy.w
CROSS JOIN nt CROSS JOIN nb
WHERE c_xy >= 5
ORDER BY pmi_ratio DESC, w1, w2
LIMIT 20
"""


@_register(
    "bigram_pmi",
    _BIGRAM_SQL,
    gate_priority=True,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by PMI: adjacent-token bigram counts joined
    against unigram counts, ranked by the PMI *ratio*
    c_xy * N_t^2 / (N_b * c_x * c_y) - log is monotone, so ranking by
    the rational (all-integer inputs, one fixed double expression)
    sidesteps cross-engine transcendental differences entirely.
    Bigrams come from zip(toks[:-1], toks[1:]) array ops - no UDF, no
    shuffle until the count. The unigram side is vocabulary-sized:
    broadcast. This is the collocation pass of a tokenizer-corpus
    audit."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toked = docs.select(
        F.transform(tokens("text"), lambda t: F.lower(t)).alias("toks")
    )
    uni = toked.select(F.explode("toks").alias("w"))
    unicnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    nt = uni.agg(F.count("*").alias("n_tokens"))
    big = toked.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (t, i) -> struct(t AS w1, toks[i + 1] AS w2))"
            )
        ).alias("pair")
    )
    bigcnt = big.select("pair.w1", "pair.w2").groupBy("w1", "w2").agg(
        F.count("*").alias("c_xy")
    )
    nb = bigcnt.agg(F.sum("c_xy").alias("n_bigrams"))
    ratio = (
        F.col("c_xy").cast("double")
        * F.col("n_tokens")
        / F.col("cx.c")
        / F.col("n_bigrams")
        * F.col("n_tokens")
        / F.col("cy.c")
    )
    return (
        bigcnt.join(
            F.broadcast(unicnt.alias("cx")),
            F.col("w1") == F.col("cx.w"),
        )
        .join(
            F.broadcast(unicnt.alias("cy")),
            F.col("w2") == F.col("cy.w"),
        )
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c_xy") >= 5)
        .select(
            "w1", "w2", "c_xy", F.round(ratio, 6).alias("pmi_ratio")
        )
        .orderBy(F.col("pmi_ratio").desc(), "w1", "w2")
        .limit(20)
    )
