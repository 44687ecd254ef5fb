"""Round-8 catalog entries — session 2 of round 3. Families:

* statistics: chi-squared independence test (event mix vs day of
  week), exact per-group median without a single-partition sort,
  rolling z-score anomaly flags from exact windowed moments;
* reporting: ratio-to-report revenue share, per-group mode with a
  deterministic tie-break, last-touch marketing attribution;
* time series: time-weighted average (TWAP) over irregular event
  streams;
* corpus curation: per-document token entropy (quality signal),
  per-source KL divergence against the corpus-global token
  distribution (drift / domain-shift signal);
* dedup families the catalog did not yet have: asymmetric shingle
  CONTAINMENT (catches subset/quote duplication that symmetric
  Jaccard under-scores) and SORTED-NEIGHBORHOOD linkage (the
  sort-based alternative to token blocking, built on the
  distributed sequence operator - no single-partition window).

Every entry follows plans/catalog.py portability rules: md5-derived
keys (bit-identical across engines), decimal accumulation for
order-independent sums, unique tiebreaks under every LIMIT / window,
ROUND(x, 6) on every float the hash compares.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.functions.text import shingles, tokens
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Per-group mode with deterministic tie-break
# ===========================================================================

_MODE_SQL = """
WITH cnt AS (
  SELECT user_id, event_type, COUNT(*) AS n_events
  FROM events GROUP BY user_id, event_type
), rn AS (
  SELECT user_id, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n_events DESC, event_type ASC) AS r
  FROM cnt
)
SELECT user_id, event_type AS modal_type, n_events
FROM rn WHERE r = 1
"""


@_register("mode_event_type", _MODE_SQL)
def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent event type per user (the MODE aggregate) with a
    deterministic tie-break: higher count wins, lexicographically
    smallest type on equal counts. Spark's ``mode()`` aggregate is
    tie-nondeterministic, so this is the window form every engine can
    pin down. One hash-aggregation then a window partitioned on the
    grouping key - state per group is the handful of candidate types,
    never the raw events, so a 100 TB event log reduces to
    |users|x|types| rows before the window runs."""
    ev = read_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n_events")
    )


# ===========================================================================
# Chi-squared test of independence (event mix vs ISO day of week)
# ===========================================================================

_CHI2_SQL = """
WITH obs AS (
  SELECT event_type, isodow(ts) AS dow, COUNT(*) AS n
  FROM events GROUP BY event_type, isodow(ts)
), rowt AS (
  SELECT event_type, SUM(n) AS rt FROM obs GROUP BY event_type
), colt AS (
  SELECT dow, SUM(n) AS ct FROM obs GROUP BY dow
), tot AS (
  SELECT SUM(n) AS n_total FROM obs
), terms AS (
  SELECT CAST(POWER(o.n - (r.rt * c.ct / CAST(t.n_total AS DOUBLE)), 2)
              / (r.rt * c.ct / CAST(t.n_total AS DOUBLE))
              AS DECIMAL(38, 12)) AS term
  FROM obs o
  JOIN rowt r USING (event_type)
  JOIN colt c USING (dow)
  CROSS JOIN tot t
)
SELECT ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
       (SELECT (COUNT(*) - 1) FROM rowt)
         * (SELECT (COUNT(*) - 1) FROM colt) AS dof,
       (SELECT CAST(n_total AS BIGINT) FROM tot) AS n_total
FROM terms
"""


@_register("chi2_independence", _CHI2_SQL)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test: is the event-type mix
    independent of the ISO day of week? Complements the two-proportion
    z-test (`ab_test_ztest`) with the r x c contingency shape. The
    contingency table is one hash-aggregation (|types| x 7 rows - tiny
    regardless of input scale), marginals re-aggregate it, and every
    (obs - exp)^2 / exp term is cast to DECIMAL(38,12) before the final
    sum so the statistic is order-independent and bit-identical across
    engines. The raw 100 TB stream collapses before anything joins."""
    ev = read_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count("*").alias("n"))
    rowt = obs.groupBy("event_type").agg(F.sum("n").alias("rt"))
    colt = obs.groupBy("dow").agg(F.sum("n").alias("ct"))
    tot = obs.agg(F.sum("n").alias("n_total"))
    exp = F.col("rt") * F.col("ct") / F.col("n_total").cast("double")
    term = F.pow(F.col("n") - exp, F.lit(2)) / exp
    terms = (
        obs.join(rowt, "event_type")
        .join(colt, "dow")
        .crossJoin(tot)
        .select(
            term.cast("decimal(38,12)").alias("term"),
            "n_total",
        )
    )
    dof = (
        rowt.count() - 1
    ) * (colt.count() - 1)
    return terms.groupBy("n_total").agg(
        F.round(F.sum("term").cast("double"), 6).alias("chi2")
    ).select("chi2", F.lit(dof).cast("long").alias("dof"), "n_total")


# ===========================================================================
# Ratio-to-report: nation revenue share
# ===========================================================================

_SHARE_SQL = """
WITH rev AS (
  SELECT n.n_name,
         SUM(CAST(o.o_totalprice AS DECIMAL(30,4))) AS r
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name,
       CAST(r AS DOUBLE) AS revenue,
       ROUND(CAST(r AS DOUBLE)
             / CAST(SUM(r) OVER () AS DOUBLE), 6) AS revenue_share
FROM rev
"""


@_register("nation_revenue_share", _SHARE_SQL)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global order revenue.
    The reporting shape behind every "% of total" dashboard tile
    (Power BI does this with a DAX measure over the reference's star -
    README.md:6-18). Decimal revenue per nation first (exact,
    order-independent), then an unpartitioned window SUM over the
    25-row aggregate - the global window runs on |nations| rows, never
    on the fact table, so the single-partition frame is bounded by the
    dimension's cardinality, not the data scale. Dimension joins stay
    broadcastable."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("r"))
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.col("r").cast("double").alias("revenue"),
        F.round(
            F.col("r").cast("double") / F.sum("r").over(w).cast("double"), 6
        ).alias("revenue_share"),
    )


# ===========================================================================
# Per-document token entropy (quality signal)
# ===========================================================================

_ENTROPY_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(ln(CAST(SUM(c) AS DOUBLE))
             - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE))
                             AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE), 6) AS entropy
FROM cnt
GROUP BY doc_id
"""


@_register("doc_entropy", _ENTROPY_SQL)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's unigram distribution - the
    low-entropy tail is boilerplate/keyword-stuffing a pretraining
    cleaning pass cuts (complements the Gopher-style repetition
    signals entry with the information-theoretic form). Identity
    H = ln(N) - (1/N) * sum(c_i * ln(c_i)) needs only per-token counts,
    so it is one explode + two hash-aggregations, no window, no UDF.
    Each c*ln(c) term is deterministic (exact integer input), cast to
    decimal so the per-doc sum is order-independent; both engines
    produce bit-identical values. At 100 TB the explode is the cost -
    it shuffles (doc_id, token) once, same profile as the TF-IDF
    entry."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    cnt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    s = F.sum(
        (F.col("c") * F.log(F.col("c").cast("double")))
        .cast("decimal(38,12)")
    )
    return cnt.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.round(
            F.log(n.cast("double")) - s.cast("double") / n.cast("double"), 6
        ).alias("entropy"),
    )


# ===========================================================================
# Rolling z-score anomaly detection (exact windowed moments)
# ===========================================================================

_ROLLZ_SQL = """
WITH w AS (
  SELECT event_id, user_id, value,
         COUNT(*) OVER win AS n,
         SUM(CAST(value AS DECIMAL(30,6))) OVER win AS s1,
         SUM(CAST(value * value AS DECIMAL(38,10))) OVER win AS s2
  FROM events
  WHERE value IS NOT NULL
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       ROUND((value - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                    / (n - 1)), 6) AS zscore
FROM w
WHERE n >= 10
  AND (CAST(s2 AS DOUBLE)
       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) > 1e-12
"""


@_register("rolling_zscore", _ROLLZ_SQL)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score over each user's last 10 events - the online
    anomaly-detection twin of the static `zscore_outliers` entry.
    stddev_samp() OVER a moving frame is NOT order-independent in
    float; instead the frame accumulates exact decimal SUM(x) and
    SUM(x^2) and derives mean/variance from the closed form, so both
    engines agree bit-for-bit. The window partitions on user_id
    (unbounded keyspace -> scales out); frame state is 10 rows. The
    variance > 1e-12 guard drops constant windows instead of emitting
    +/-inf."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    n = F.count("*").over(win)
    s1 = F.sum(F.col("value").cast("decimal(30,6)")).over(win)
    s2 = F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)")).over(
        win
    )
    mean = s1.cast("double") / n
    var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / (
        n - 1
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "value",
            n.alias("n"),
            mean.alias("m"),
            var.alias("v"),
        )
        .filter((F.col("n") >= 10) & (F.col("v") > 1e-12))
        .select(
            "event_id",
            "user_id",
            F.round(
                (F.col("value") - F.col("m")) / F.sqrt(F.col("v")), 6
            ).alias("zscore"),
        )
    )


# ===========================================================================
# Time-weighted average (TWAP) over irregular event streams
# ===========================================================================

_TWAP_SQL = """
WITH stamped AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t_next
  FROM events
  WHERE value IS NOT NULL
), seg AS (
  SELECT user_id,
         CAST(value * (t_next - t) AS DECIMAL(38,6)) AS wv,
         t_next - t AS dt
  FROM stamped WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(SUM(dt) AS BIGINT) AS span_us,
       ROUND(CAST(SUM(wv) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE), 6)
         AS twap_value
FROM seg
GROUP BY user_id
HAVING SUM(dt) > 0
"""


@_register("twap_user_value", _TWAP_SQL)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation is held
    until the next one and weighted by its holding duration (the
    finance TWAP / telemetry duty-cycle shape; a plain AVG over an
    irregular stream over-weights bursts). LEAD gives exact integer
    microsecond durations, value x duration accumulates in decimal, so
    the result is order-independent and cross-engine exact. One window
    partitioned on user_id plus one hash-aggregation - both scale out
    on the unbounded user key; per-group window state is a single
    row."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    stamped = ev.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    seg = stamped.select(
        "user_id",
        (F.col("value") * dt).cast("decimal(38,6)").alias("wv"),
        dt.alias("dt"),
    )
    return (
        seg.groupBy("user_id")
        .agg(F.sum("dt").alias("span_us"), F.sum("wv").alias("swv"))
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "span_us",
            F.round(
                F.col("swv").cast("double") / F.col("span_us").cast("double"),
                6,
            ).alias("twap_value"),
        )
    )


# ===========================================================================
# Last-touch attribution
# ===========================================================================

_ATTRIB_SQL = """
WITH touched AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS channel
  FROM events
)
SELECT COALESCE(channel, 'direct') AS channel,
       COUNT(*) AS n_purchases
FROM touched
WHERE event_type = 'purchase'
GROUP BY COALESCE(channel, 'direct')
"""


@_register("attribution_last_touch", _ATTRIB_SQL)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent preceding non-purchase event type ('direct'
    when the purchase is the user's first event). The carry-forward is
    LAST_VALUE ... IGNORE NULLS over an unbounded-preceding frame -
    running state is ONE value per user regardless of history length,
    the same forward-fill machinery as `resample_ffill`. Ordering is
    pinned by (ts, event_id) so concurrent events cannot flip
    attribution between engines. Partitioned on user_id: scales out."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", channel.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(F.count("*").alias("n_purchases"))
    )


# ===========================================================================
# Per-source KL divergence vs the corpus-global token distribution
# ===========================================================================

_KL_SQL = r"""
WITH tok AS (
  SELECT source,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), st AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
), stot AS (
  SELECT source, SUM(c) AS ts FROM st GROUP BY source
), gt AS (
  SELECT tok, SUM(c) AS g FROM st GROUP BY tok
), gtot AS (
  SELECT SUM(c) AS gs FROM st
)
SELECT s.source,
       CAST(t.ts AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(
         (s.c / CAST(t.ts AS DOUBLE))
         * ln((s.c / CAST(t.ts AS DOUBLE))
              / (g.g / CAST(x.gs AS DOUBLE)))
         AS DECIMAL(38,12))) AS DOUBLE), 6) AS kl_divergence
FROM st s
JOIN stot t USING (source)
JOIN gt g USING (tok)
CROSS JOIN gtot x
GROUP BY s.source, t.ts
"""


@_register("kl_divergence_sources", _KL_SQL)
def q_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source || corpus) over unigram distributions - the drift /
    domain-shift score behind "is this crawl slice distributionally
    weird?" curation decisions (complements `domain_mix_weights`,
    which reweights by size; this scores by content). Every source
    token also occurs globally, so Q > 0 wherever P > 0 and no
    smoothing is needed. Exact integer counts feed deterministic
    double terms, each cast to decimal before the per-source sum -
    order-independent, cross-engine exact. Shuffle profile: one
    (source, token) aggregation, one token-keyed join against the
    global vocabulary (vocab-sized, not corpus-sized)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    st = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    stot = st.groupBy("source").agg(F.sum("c").alias("ts"))
    gt = st.groupBy("tok").agg(F.sum("c").alias("g"))
    gtot = st.agg(F.sum("c").alias("gs"))
    p = F.col("c") / F.col("ts").cast("double")
    q = F.col("g") / F.col("gs").cast("double")
    term = (p * F.log(p / q)).cast("decimal(38,12)")
    return (
        st.join(stot, "source")
        .join(gt, "tok")
        .crossJoin(gtot)
        .groupBy("source", F.col("ts").alias("n_tokens"))
        .agg(F.round(F.sum(term).cast("double"), 6).alias("kl_divergence"))
    )


# ===========================================================================
# Exact per-group median without a single-partition sort
# ===========================================================================

_MEDIAN_SQL = """
WITH rn AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS r,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       MAX(n) AS n_orders,
       ROUND(AVG(o_totalprice), 6) AS median_price
FROM rn
WHERE r = (n + 1) // 2 OR r = (n + 2) // 2
GROUP BY o_orderpriority
"""


@_register("exact_median_price", _MEDIAN_SQL)
def q_exact_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median order price per priority via the two-middle-rows
    identity (odd n -> both selectors hit the same row, AVG of one
    value; even n -> mean of the two middles). The window partitions
    on the grouping key, so each group sorts independently - no global
    single-partition sort. At 100 TB exact medians over few groups
    want `percentile_approx` (mergeable sketch, documented +-eps);
    this entry is the exact form for when the group keyspace is wide
    enough to spread, and the AVG of at most two doubles keeps the
    result deterministic."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("r"),
        F.count("*").over(wc).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    return (
        ranked.filter((F.col("r") == lo) | (F.col("r") == hi))
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("median_price"),
        )
    )


# ===========================================================================
# Asymmetric shingle containment (subset-duplication detector)
# ===========================================================================

_CONTAIN_SQL = r"""
WITH normed AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), shingled AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' ')))
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM normed
), grams AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(UNNEST(sh)), 1, 15))::BIGINT AS gk
  FROM shingled
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM grams a JOIN grams b ON a.gk = b.gk AND a.lang = b.lang
                            AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.id_a, s.id_b, s.n_shared,
       ROUND(CAST(s.n_shared AS DOUBLE) / za.sz, 6) AS containment
FROM shared s JOIN sizes za ON s.id_a = za.doc_id
WHERE CAST(s.n_shared AS DOUBLE) / za.sz >= 0.5
"""


@_register("containment_pairs", _CONTAIN_SQL, bench=True)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle CONTAINMENT |A n B| / |A| >= 0.5 - the
    asymmetric near-dup measure that catches a short document embedded
    verbatim inside a long one (quote/subset duplication), which
    symmetric Jaccard divides away (|A n B| / |A u B| is tiny when
    |B| >> |A|). Inverted-index self-join on 60-bit md5 shingle keys
    (only 8-byte keys + doc ids shuffle, never shingle strings),
    language-blocked to bound hot-key fan-out; per-doc sizes join in
    at the end. Emits BOTH directions of an asymmetric pair - the
    downstream keeper policy decides which side is the subset. Same
    index shape as `trigram_search` / `dup_ngram_fraction`, so the
    100 TB profile is known: one explode-aggregate, one key-equi-join,
    one pair aggregation."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(shingles("text", 3)).alias("g"),
    ).select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("long")
        .alias("gk"),
    )
    grams = grams.persist()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gk") == F.col("b.gk"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    cont = F.col("n_shared").cast("double") / F.col("sz")
    out = (
        shared.join(sizes, shared.id_a == sizes.doc_id)
        .filter(cont >= 0.5)
        .select("id_a", "id_b", "n_shared", F.round(cont, 6).alias("containment"))
    )
    return out


# ===========================================================================
# Sorted-neighborhood linkage (distributed, no single-partition window)
# ===========================================================================

_SNM_SQL = """
WITH d AS (
  SELECT DISTINCT regexp_replace(lower(trim(p_name)), '\\s+', ' ', 'g') AS n
  FROM part
), seq AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS s FROM d
), pairs AS (
  SELECT a.n AS left_name, b.n AS right_name
  FROM seq a JOIN seq b ON b.s - a.s IN (1, 2)
  WHERE abs(length(a.n) - length(b.n)) <= 3
    AND levenshtein(a.n, b.n) <= 3
)
SELECT left_name, right_name,
       levenshtein(left_name, right_name) AS edit_dist
FROM pairs
"""


@_register("sorted_neighborhood_pairs", _SNM_SQL)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (window w = 3): sort the
    distinct normalized name vocabulary, compare each name only to its
    next 2 neighbors in sort order, keep edit-distance <= 3 pairs
    (the synthetic vocabulary's nearest variants - 'x ring'/'x rod' -
    sit at distance 3; a real-name corpus would use 1-2).
    The classic alternative to token blocking (`fuzzy_name_pairs`):
    blocking misses pairs that disagree on the blocker token; SNM
    misses pairs whose typo is in the first characters. Production
    systems union both - this entry supplies the second family.

    Scale design: the neighbor rank comes from the DISTRIBUTED
    sequence operator (operators/sequence.py - range shuffle +
    per-partition offsets), NOT a single-partition ROW_NUMBER window;
    neighbors then meet by an equi-join on (rank + offset), which is
    an ordinary hash join. Nothing in the plan funnels through one
    task at 100 TB. The oracle restates the rank with a plain window -
    same values, oracle-scale only."""
    from formula1_etl_analytics_project_spark.operators.sequence import (
        distributed_sequence,
    )

    part = read_table(spark, sf_dir, "part")
    d = part.select(
        F.regexp_replace(F.lower(F.trim("p_name")), r"\s+", " ").alias("n")
    ).distinct()
    seq = distributed_sequence(d, "n", "s")
    offsets = F.explode(F.array(F.lit(1), F.lit(2))).alias("off")
    probe = seq.select(
        F.col("n").alias("left_name"), "s", offsets
    ).withColumn("s_right", F.col("s") + F.col("off"))
    right = seq.select(F.col("n").alias("right_name"), F.col("s").alias("s_right"))
    pairs = probe.join(right, "s_right").filter(
        (
            F.abs(F.length("left_name") - F.length("right_name")) <= 3
        )
        & (F.levenshtein("left_name", "right_name") <= 3)
    )
    return pairs.select(
        "left_name",
        "right_name",
        F.levenshtein("left_name", "right_name").alias("edit_dist"),
    )


# ===========================================================================
# EWMA via higher-order left fold (no UDF, no recursion)
# ===========================================================================

_EWMA_SQL = """
WITH a AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals,
         COUNT(*) AS n_events
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_events,
       ROUND(list_reduce(vals, (acc, x) -> 0.8 * acc + 0.2 * x), 6) AS ewma
FROM a
"""


@_register("ewma_user_value", _EWMA_SQL)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.2) of each
    user's value series - the recursive smoother that window frames
    cannot express (state depends on ALL history, weights decay
    geometrically). Expressed as a higher-order LEFT FOLD over the
    time-ordered array (F.aggregate - JVM-side, no Python UDF):
    acc = 0.8*acc + 0.2*x seeded with the first observation, which is
    exactly DuckDB's list_reduce, so both engines run the identical
    float operation sequence and agree bit-for-bit. Per-user state is
    the user's own event list - fine for bounded per-key history; an
    unbounded key wants the applyInPandas segment-and-carry form (the
    streaming `stream_stateful_totals` entry shows that machinery)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    arr = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("a"),
        F.count("*").alias("n_events"),
    )
    vals = F.transform("a", lambda s: s["value"])
    fold = F.aggregate(
        F.slice(vals, 2, F.size(vals)),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.8) * acc + F.lit(0.2) * x,
    )
    return arr.select(
        "user_id", "n_events", F.round(fold, 6).alias("ewma")
    )


# ===========================================================================
# High-document-frequency token pruning with order-preserving rebuild
# ===========================================================================

_HDF_PRUNE_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), pos AS (
  SELECT doc_id, r.tok AS tok, r.pos AS pos
  FROM (SELECT doc_id,
               unnest(list_transform(
                 toks, (t, i) -> struct_pack(tok := t, pos := i))) AS r
        FROM toked)
), dfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df_cnt FROM pos GROUP BY tok
), tot AS (
  SELECT COUNT(*) AS n_docs FROM documents
), kept AS (
  SELECT p.doc_id, p.tok, p.pos
  FROM pos p JOIN dfreq f USING (tok) CROSS JOIN tot t
  WHERE f.df_cnt * 2 <= t.n_docs
)
SELECT d.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       COALESCE(k.n_kept, 0) AS n_kept
FROM documents d
LEFT JOIN (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
) k USING (doc_id)
"""


@_register("hdf_token_prune", _HDF_PRUNE_SQL, bench=True)
def q_hdf_token_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate pruning (the token-granular form of
    C4's boilerplate-line removal - this corpus has no line structure,
    so the unit is the token): drop every token whose document
    frequency exceeds 50% of the corpus, then REBUILD each document's
    text preserving the original token order. The rebuild is the part
    pipelines get wrong at scale: posexplode carries the position,
    the frequency join keys on the token (vocabulary-sized side), and
    collect_list(struct(pos, tok)) + array_sort + array_join restores
    order without any window. Docs reduced to nothing stay present
    with empty text (LEFT join back to the corpus) - silently dropping
    them would corrupt downstream doc counts."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    dfreq = (
        pos.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df_cnt"))
    )
    tot = docs.agg(F.count("*").alias("n_docs"))
    kept = (
        pos.join(dfreq, "tok")
        .crossJoin(tot)
        .filter(F.col("df_cnt") * 2 <= F.col("n_docs"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return docs.select("doc_id").join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


# ===========================================================================
# Cross-source exact-duplicate overlap matrix
# ===========================================================================

_OVERLAP_SQL = """
WITH fp AS (
  SELECT DISTINCT md5(substr(text, 1, 80)) AS fp, source FROM documents
)
SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
"""


@_register("source_overlap_matrix", _OVERLAP_SQL)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: for every source pair, the
    number of HEAD fingerprints (md5 of the first 80 chars - the cheap
    prefix-dup signal; this synthetic corpus has zero full-text exact
    dups at any sf, verified, so a whole-text digest would make the
    report vacuously empty) present in BOTH - the crawl-overlap triage
    that decides which source to drop from the mix entirely, upstream
    of per-document dedup. Texts collapse to digests executor-side
    before anything shuffles (`exact_dedup_docs`' trick); the
    self-join runs on the distinct (digest, source) projection, so its
    size is bounded by distinct-head count, and a digest shared by k
    sources fans out to k(k-1)/2 pairs - quadratic in |sources|
    (bounded), never in documents."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    fp = docs.select(
        F.md5(F.substring("text", 1, 80)).alias("fp"), "source"
    ).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )


# ===========================================================================
# Data-contract validation gate
# ===========================================================================

_CONTRACT_SQL = """
SELECT 'o_totalprice_positive' AS rule, COUNT(*) FILTER (
         WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS n_violations
FROM orders
UNION ALL
SELECT 'o_orderdate_in_range', COUNT(*) FILTER (
         WHERE o_orderdate IS NULL
            OR o_orderdate < TIMESTAMP '1992-01-01'
            OR o_orderdate > TIMESTAMP '2030-12-31')
FROM orders
UNION ALL
SELECT 'o_orderstatus_domain', COUNT(*) FILTER (
         WHERE o_orderstatus NOT IN ('O', 'F', 'P')
            OR o_orderstatus IS NULL)
FROM orders
UNION ALL
SELECT 'l_quantity_in_1_50', COUNT(*) FILTER (
         WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
FROM lineitem
UNION ALL
SELECT 'l_discount_tight_008', COUNT(*) FILTER (
         WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 0.08)
FROM lineitem
"""


@_register("data_contract_check", _CONTRACT_SQL)
def q_data_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract gate (the engine-side twin of the
    reference's DB constraints, DDL Final.sql:91-135 - PK/NOT
    NULL/domain checks that MSSQL enforced and parquet cannot): each
    rule compiles to a conditional count, ALL rules for a table run in
    ONE scan via FILTER-style aggregates, and the result unpivots to a
    (rule, n_violations) report a scheduler can alert on.
    `l_discount_tight_008` is deliberately tighter than the data
    (violations > 0) so the report's firing path is exercised, not
    just the all-green path."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    o_agg = o.agg(
        cnt(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).alias(
            "o_totalprice_positive"
        ),
        cnt(
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("o_orderdate") > F.lit("2030-12-31").cast("timestamp"))
        ).alias("o_orderdate_in_range"),
        cnt(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("o_orderstatus_domain"),
    )
    l_agg = li.agg(
        cnt(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).alias("l_quantity_in_1_50"),
        cnt(
            F.col("l_discount").isNull()
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.08)
        ).alias("l_discount_tight_008"),
    )
    o_rep = o_agg.unpivot(
        [], o_agg.columns, "rule", "n_violations"
    )
    l_rep = l_agg.unpivot([], l_agg.columns, "rule", "n_violations")
    return o_rep.unionByName(l_rep)


# ===========================================================================
# TPC-H Q21 shape: EXISTS + NOT EXISTS over a shared derived table
# ===========================================================================

_Q21_SQL = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lo l1 ON l1.l_suppkey = s.s_suppkey AND l1.is_late
WHERE EXISTS (SELECT 1 FROM lo l2 WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3 WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@_register("sql_surface_q21", _Q21_SQL)
def q_sql_surface_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    hardest decorrelation pattern in the suite - an EXISTS and a NOT
    EXISTS correlated on the same key against the same derived table
    (lateness adapted to this schema: shipped > 60 days after order
    date; the reference schema has no commit/receipt dates). Identical
    SQL text both engines. Spark rewrites EXISTS to a left-semi and
    NOT EXISTS to a left-anti join on l_orderkey - set-based, no
    per-row subquery execution - and the shared CTE keeps the
    orders/lineitem join single-sourced. Top-20 is tie-broken on
    s_name so the LIMIT is deterministic."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q21_SQL)


# ===========================================================================
# TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS
# ===========================================================================

_Q22_SQL = """
SELECT c_nationkey AS nation, COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE), 2)
         AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2)))
                               AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 450000)
GROUP BY c_nationkey
"""


@_register("sql_surface_q22", _Q22_SQL)
def q_sql_surface_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): an uncorrelated
    scalar subquery gates on the above-average balance, a correlated
    NOT EXISTS drops customers with any big-ticket order (every
    customer here has SOME order, so the classic no-orders predicate
    would be vacuously empty - the threshold keeps the anti-join
    exercised). The average is computed as exact-decimal-sum divided
    by count - ONE double division - so the threshold is bit-identical
    across engines; a naive AVG(double) would make the > cut
    float-ordering-dependent. Spark plans the scalar subquery as a
    broadcast single-row build and the NOT EXISTS as a left-anti
    join."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q22_SQL)


# ===========================================================================
# Gini coefficient of customer spend (distributed exact rank)
# ===========================================================================

_GINI_SQL = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS x
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rnk FROM spend
)
SELECT COUNT(*) AS n_customers,
       ROUND(2.0 * CAST(SUM(rnk * x) AS DOUBLE)
               / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked
"""


@_register("gini_spend", _GINI_SQL)
def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend - the whale-dominance /
    inequality measure (for a training corpus the same query over
    per-source token counts answers "how concentrated is my data
    mix"). Uses the rank identity G = 2*sum(i*x_i)/(n*sum(x)) -
    (n+1)/n over ascending-sorted spend. The global rank is the
    scale problem: a bare ROW_NUMBER() OVER (ORDER BY ...) funnels
    everything through one partition, so the rank comes from the
    DISTRIBUTED sequence operator (range shuffle + per-partition
    offsets, operators/sequence.py) over the composite (x, custkey)
    key - unique, hence deterministic. Sums are exact decimal;
    the two final divisions are single double ops, bit-identical
    across engines. The oracle restates the rank with a plain window
    at oracle scale."""
    from formula1_etl_analytics_project_spark.operators.sequence import (
        distributed_sequence,
    )

    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("x")
    )
    ranked = distributed_sequence(spend, ["x", "o_custkey"], "rnk")
    n = F.count("*")
    return ranked.agg(
        n.alias("n_customers"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("rnk") * F.col("x")).cast("double")
            / (n * F.sum("x").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


# ===========================================================================
# Embedding cluster-quality report (long-format vector math)
# ===========================================================================

_CLUSTER_QUALITY_SQL = """
WITH lng AS (
  SELECT vec_id, label, u.idx AS idx, u.v AS v
  FROM (SELECT vec_id, label,
               unnest(list_transform(embedding,
                 (x, i) -> struct_pack(idx := i - 1,
                                       v := CAST(x AS DOUBLE)))) AS u
        FROM embeddings)
), cent AS (
  SELECT label, idx,
         CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
  FROM lng GROUP BY label, idx
), norms AS (
  SELECT label,
         CAST(SUM(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS cc
  FROM cent GROUP BY label
), per AS (
  SELECT l.vec_id, l.label,
         CAST(SUM(CAST(l.v * c.c AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(l.v * l.v AS DECIMAL(38,12))) AS DOUBLE) AS vv
  FROM lng l JOIN cent c ON l.label = c.label AND l.idx = c.idx
  GROUP BY l.vec_id, l.label
)
SELECT p.label, COUNT(*) AS n_vectors,
       ROUND(CAST(SUM(CAST(p.dot / (sqrt(p.vv) * sqrt(n.cc))
                           AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
         AS avg_cosine
FROM per p JOIN norms n USING (label)
GROUP BY p.label
"""


@_register("embedding_cluster_quality", _CLUSTER_QUALITY_SQL)
def q_embedding_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion report: per label, the mean cosine similarity
    of member vectors to the label centroid - the SemDeDup-style
    diagnostic that decides which semantic clusters are tight enough
    to prune aggressively. All vector math runs in LONG format
    (posexplode to (vec_id, label, idx, v)): the centroid is a plain
    groupBy(label, idx) aggregate, the dot products a key-equi-join
    back on (label, idx) - no UDF, no driver-side vectors, and every
    reduction is an exact decimal sum so both engines agree
    bit-for-bit despite float inputs (float -> double widening is
    exact). Shuffle profile: explode once, two hash aggregations, one
    join keyed on (label, idx) whose build side is |labels| x dim
    rows - broadcastable at any corpus scale."""
    emb = read_table(spark, sf_dir, "embeddings")
    lng = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("idx", "v0"),
    ).select(
        "vec_id", "label", "idx", F.col("v0").cast("double").alias("v")
    )
    lng = lng.persist()
    cent = lng.groupBy("label", "idx").agg(
        (
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    norms = cent.groupBy("label").agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,12)"))
        .cast("double")
        .alias("cc")
    )
    per = (
        lng.join(F.broadcast(cent), ["label", "idx"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("v") * F.col("c")).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
            .cast("double")
            .alias("vv"),
        )
    )
    cos = F.col("dot") / (F.sqrt("vv") * F.sqrt("cc"))
    return (
        per.join(F.broadcast(norms), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(
                F.sum(cos.cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_cosine"),
        )
    )


# ===========================================================================
# Interval-union length (merge overlapping attention windows)
# ===========================================================================

_COVERED_SQL = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + 300000000 AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islanded AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), islands AS (
  SELECT user_id, island, MIN(s) AS st, MAX(e) AS en
  FROM islanded GROUP BY user_id, island
)
SELECT user_id, COUNT(*) AS n_islands,
       CAST(SUM(en - st) AS BIGINT) AS covered_us
FROM islands GROUP BY user_id
"""


@_register("covered_time_per_user", _COVERED_SQL)
def q_covered_time_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union length: each event opens a 5-minute attention
    window; overlapping windows merge, and the metric is the total
    COVERED time per user (the "time on site" statistic - naive
    sum-of-durations double-counts overlaps; the 1D interval-union is
    the classic sweep-line primitive). Islands form where a window's
    start exceeds the running MAX of all previous ends (running max,
    not lag(e): an earlier long interval can swallow several later
    ones); the cumulative flag sum numbers the islands. Everything is
    exact integer microseconds - no float anywhere - and both windows
    partition on user_id, sharing one hash exchange. The ordering tie
    (s, event_id) is total, so island assignment is deterministic
    across engines. Logic lives in operators/intervals.py
    (property-tested against brute-force interval union)."""
    from formula1_etl_analytics_project_spark.operators.intervals import (
        covered_length,
    )

    ev = read_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.lit(300_000_000)).alias("e"),
    )
    return covered_length(
        iv, ["user_id"], "s", "e", "event_id"
    ).withColumnRenamed("covered", "covered_us")
