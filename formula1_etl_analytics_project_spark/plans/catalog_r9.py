"""Round-9 catalog entries (round 3, session 2, batch 3):

* product analytics: top session event-type paths (the user-journey
  trigram report), top-N-per-group with an OTHER rollup bucket (the
  dashboard long-tail pattern);
* aggregation surface: argmin via lexicographic struct-MIN - the
  window-free form of "cheapest supplier per part" (one hash
  aggregation, no per-group sort).

Portability rules as in plans/catalog.py: decimal accumulation,
total tie-break orders, ROUND(x, 6) on compared floats.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Top session paths (user-journey trigrams)
# ===========================================================================

_PATHS_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
  FROM ordered
), seqs AS (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts, event_id) AS a
  FROM sess GROUP BY user_id, session_id
), paths AS (
  SELECT UNNEST(list_transform(generate_series(1, len(a) - 2),
           i -> a[i] || '>' || a[i+1] || '>' || a[i+2])) AS path
  FROM seqs WHERE len(a) >= 3
)
SELECT path, COUNT(*) AS n
FROM paths GROUP BY path
ORDER BY n DESC, path LIMIT 20
"""


@_register("top_event_paths", _PATHS_SQL)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step event-type paths within 30-minute sessions -
    the user-journey report (generalizes `event_transitions`' 1-step
    Markov matrix to path n-grams, WITHOUT dedup: path frequency is
    the signal). Sessionization is the lag-gap flag + cumulative sum
    off ONE user-partitioned exchange; the per-session sequence is a
    collect_list sorted by the total (ts, event_id) order; trigrams
    expand JVM-side inside the array (transform over an index
    sequence - no self-join, no UDF) and explode into a count
    aggregation. Per-group state is one session's events; the path
    space is |types|^3-bounded so the final top-20 is tiny. Tie-broken
    on the path string, so the LIMIT is deterministic."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(t - F.lag(t).over(w) > 1_800_000_000, 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("a")
    )
    trigram = F.transform(
        F.sequence(F.lit(1), F.size("a") - 2),
        lambda i: F.concat_ws(
            ">",
            F.element_at("a", i),
            F.element_at("a", i + 1),
            F.element_at("a", i + 2),
        ),
    )
    return (
        seqs.filter(F.size("a") >= 3)
        .select(F.explode(trigram).alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


# ===========================================================================
# Top-N per group with OTHER rollup
# ===========================================================================

_TOPN_OTHER_SQL = """
WITH rev AS (
  SELECT n.n_name, p.p_name,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(30,6))) AS r
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, p.p_name
), ranked AS (
  SELECT n_name, p_name, r,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY r DESC, p_name) AS rn
  FROM rev
)
SELECT n_name,
       CASE WHEN rn <= 3 THEN p_name ELSE 'OTHER' END AS bucket,
       ROUND(CAST(SUM(r) AS DOUBLE), 4) AS revenue
FROM ranked
GROUP BY n_name, CASE WHEN rn <= 3 THEN p_name ELSE 'OTHER' END
"""


@_register("topn_with_other", _TOPN_OTHER_SQL)
def q_topn_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue per nation with everything else rolled
    into an OTHER bucket - the dashboard long-tail pattern (a bare
    top-N silently drops the tail; the OTHER row keeps each group's
    total reconcilable against `nation_revenue_share`). Revenue
    aggregates to the (nation, part) grain FIRST - decimal-exact, one
    shuffle - so the rank window runs on the aggregate, not the fact;
    ties break on p_name making the bucket assignment deterministic.
    The re-aggregation collapses the tail per nation; output is
    |nations| x 4 rows regardless of input scale. Dimension joins
    stay broadcastable; lineitem never shuffles for them."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "p_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            ).alias("r")
        )
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("r"), F.asc("p_name"))
    ranked = rev.withColumn("rn", F.row_number().over(w))
    bucket = F.when(F.col("rn") <= 3, F.col("p_name")).otherwise(
        F.lit("OTHER")
    )
    return (
        ranked.groupBy("n_name", bucket.alias("bucket"))
        .agg(F.round(F.sum("r").cast("double"), 4).alias("revenue"))
    )


# ===========================================================================
# Argmin via lexicographic struct-MIN (window-free)
# ===========================================================================

_CHEAPEST_SQL = """
WITH u AS (
  SELECT l_partkey, l_suppkey,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem
), m AS (
  SELECT l_partkey, MIN(unit_price) AS unit_price
  FROM u GROUP BY l_partkey
)
SELECT u.l_partkey AS partkey,
       MIN(u.l_suppkey) AS cheapest_suppkey,
       m.unit_price
FROM u JOIN m ON u.l_partkey = m.l_partkey
             AND u.unit_price = m.unit_price
GROUP BY u.l_partkey, m.unit_price
"""


@_register("cheapest_supplier_per_part", _CHEAPEST_SQL)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part (TPC-H Q2's core) via lexicographic
    MIN over a (price, suppkey) struct - the AGGREGATION form of
    argmin: one partial+final aggregation, no window, no per-group
    sort, which at 100 TB beats the row_number form by the whole sort
    (min_by/arg_min would also work but are tie-NONDETERMINISTIC; the
    struct's suppkey component makes ties break identically in both
    engines). unit_price is one double division per row -
    bit-identical inputs, bit-identical result - and is emitted
    UNROUNDED: quantity is often a power of two, so unit prices land
    EXACTLY on .5 at the rounding digit, where Spark (HALF_UP) and
    DuckDB (HALF_EVEN) disagree - the sf0.1 sweep caught 4 such parts
    that sf0.01 never produced. The raw double is deterministic;
    rounding here would be the bug.

    The ORACLE restates the same argmin WITHOUT a struct aggregate:
    DuckDB's grouped min(struct_pack(...)) allocates unboundedly at
    sf1 row counts (>100 GB for 6M rows, sailing past its own
    memory_limit; bisected round 7 - the round-6 sweep's 'Spark-side
    error' on this entry was collateral of that dying process, the
    Spark side runs 6M rows in seconds at 153 MB). The min-price
    self-join + MIN(suppkey) tie-break is exactly equivalent: rows
    achieving the group's bitwise-min double, then the smallest
    suppkey among them - the struct order (u, k) restated."""
    li = read_table(spark, sf_dir, "lineitem")
    u = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    m = u.groupBy("l_partkey").agg(
        F.min(
            F.struct(
                F.col("unit_price").alias("u"), F.col("l_suppkey").alias("k")
            )
        ).alias("mn")
    )
    return m.select(
        F.col("l_partkey").alias("partkey"),
        F.col("mn.k").alias("cheapest_suppkey"),
        F.col("mn.u").alias("unit_price"),
    )


# ===========================================================================
# Keep-BEST dedup (quality-ranked keeper policy)
# ===========================================================================

_KEEP_BEST_SQL = """
WITH fp AS (
  SELECT doc_id, n_chars, md5(substr(text, 1, 80)) AS fp
  FROM documents
), best AS (
  SELECT fp,
         max(struct_pack(n := n_chars, id := doc_id)) AS b,
         COUNT(*) AS group_size
  FROM fp GROUP BY fp
)
SELECT fp, b.id AS kept_doc_id, b.n AS kept_n_chars, group_size
FROM best
"""


@_register("dedup_keep_best", _KEEP_BEST_SQL)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup: among documents sharing an 80-char head
    fingerprint, keep the one a quality policy prefers - here longest
    text, doc_id as the deterministic tie-break (the corpus-curation
    keeper policy; the reference and `dedup_first_order` keep FIRST,
    which preserves arrival accidents rather than quality - SURVEY.md
    section 2.5 D2). Expressed as a lexicographic struct-MAX
    aggregation, not a window: one partial+final hash agg on the
    fingerprint, no per-group sort, and partial aggregation collapses
    each group map-side before the shuffle - at 100 TB only one
    candidate row per (partition, fingerprint) crosses the wire.

    Oracle note: DuckDB's grouped max(struct_pack(...)) allocates
    ~20 KB per input ROW (the cheapest_supplier_per_part bisection,
    round 7); at this entry's 50k-doc sf1 grain that is ~1 GB -
    fine - but restate it join-style (catalog_r9._CHEAPEST_SQL)
    before pointing it at a table with millions of rows."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.substring("text", 1, 80)).alias("fp"),
    )
    best = fp.groupBy("fp").agg(
        F.max(
            F.struct(F.col("n_chars").alias("n"), F.col("doc_id").alias("id"))
        ).alias("b"),
        F.count("*").alias("group_size"),
    )
    return best.select(
        "fp",
        F.col("b.id").alias("kept_doc_id"),
        F.col("b.n").alias("kept_n_chars"),
        "group_size",
    )


# ===========================================================================
# As-of join with staleness tolerance
# ===========================================================================

_ASOF_TOL_SQL = """
WITH ord_d AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
), unioned AS (
  SELECT user_id AS k, ts AS t, 1 AS is_event, event_id,
         NULL::BIGINT AS o_orderkey
  FROM events
  UNION ALL
  SELECT o_custkey, o_orderdate, 0, NULL, o_orderkey FROM ord_d
), carried AS (
  SELECT k, t, is_event, event_id,
         last_value(CASE WHEN is_event = 0
                         THEN struct_pack(ot := t, okey := o_orderkey) END
                    IGNORE NULLS)
           OVER (PARTITION BY k ORDER BY t, is_event, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM unioned
)
SELECT event_id, k AS user_id,
       CASE WHEN epoch_us(t) - epoch_us(m.ot) <= 2592000000000
            THEN m.okey END AS matched_orderkey
FROM carried WHERE is_event = 1
"""


@_register("asof_join_tolerance", _ASOF_TOL_SQL)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND: each event matches the
    latest same-user order at-or-before its timestamp, but only if
    that order is at most 30 days old - the feature-store semantics
    (`asof_join` without the bound happily serves a year-stale
    feature; production point-in-time lookups always carry a
    max-staleness). Same union-window composition as `asof_join` (one
    shuffle on the key, no merge_asof pandas), except the carried
    payload is a (match_ts, match_key) struct so the tolerance
    predicate can null out stale matches AFTER the carry-forward -
    the bound cannot be pushed into the window frame because ROWS
    frames count rows, not time, and a RANGE frame cannot carry a
    struct. NULL matched_orderkey = no fresh-enough order, the honest
    answer."""
    ev = read_table(spark, sf_dir, "events")
    orders = read_table(spark, sf_dir, "orders")
    ord_d = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey")
    )
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = ord_d.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = left.unionByName(right).withColumn(
        "m",
        F.last(
            F.when(
                F.col("is_event") == 0,
                F.struct(
                    F.col("t").alias("ot"), F.col("o_orderkey").alias("okey")
                ),
            ),
            ignorenulls=True,
        ).over(w),
    )
    tol_us = 30 * 24 * 3600 * 1_000_000
    return carried.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.when(
            F.unix_micros("t") - F.unix_micros("m.ot") <= tol_us,
            F.col("m.okey"),
        ).alias("matched_orderkey"),
    )
