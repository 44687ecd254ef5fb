"""Round-6 catalog entries: substring-level duplicate-n-gram scoring
(the doc-level signal behind exact-substring training-data dedup) and
an integer-fixpoint PageRank over the customer->supplier order graph
(the iterative-graph-algorithm surface).

Every entry follows the portability rules from plans/catalog.py:
integer arithmetic wherever possible (PageRank runs ENTIRELY in
fixed-point BIGINT so the iterative sums are bit-exact cross-engine),
md5 for hashes, unique-key tiebreaks under every LIMIT.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.functions.text import shingles
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Duplicate-n-gram fraction (substring-level dedup signal)
# ===========================================================================

_DUP_NGRAM_SQL = r"""
WITH normed AS (
  SELECT doc_id,
         list_filter(string_split(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
           x -> x <> '') AS toks
  FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 4),
             i -> array_to_string(toks[i:i+4], ' ')))
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM normed
), grams AS (
  SELECT doc_id,
         ('0x' || substr(md5(UNNEST(sh)), 1, 15))::BIGINT AS gk
  FROM shingled
), gcount AS (
  SELECT gk, COUNT(*) AS n_docs FROM grams GROUP BY gk
)
SELECT g.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_shingles,
       ROUND(CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_frac,
       (CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) > 0.5) AS mostly_duplicated
FROM grams g JOIN gcount c USING (gk)
GROUP BY g.doc_id
"""


@_register(
    "dup_ngram_fraction",
    _DUP_NGRAM_SQL,
    bench=True,
    gate_priority=True,
)
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal (the doc-granular form of exact
    5-gram training-data dedup a la "Deduplicating Training Data Makes
    Language Models Better"): per document, the fraction of its
    DISTINCT word 5-grams that also occur in at least one other
    document, plus the >0.5 boilerplate flag a cleaning pipeline cuts
    on. Two hash-aggregations and one join - but the critical scale
    choice is that the raw 5-gram STRINGS never shuffle: each shingle
    collapses to a 60-bit md5-derived BIGINT key executor-side, so the
    global-count shuffle moves 8-byte keys instead of ~30-byte
    strings. Hash collisions are reproduced bit-identically by the
    oracle (same md5 prefix both engines), so the check is exact.
    Documents shorter than 5 tokens degrade to one whole-text shingle
    (same fallback as the minhash stack, functions/text.py:96)."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "doc_id",
        F.explode(shingles("text", 5)).alias("g"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("long")
        .alias("gk"),
    )
    # shingles() already dedups within-doc, so COUNT(*) per key is the
    # number of distinct documents containing that 5-gram.
    gcount = grams.groupBy("gk").agg(F.count("*").alias("n_docs"))
    dup = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    frac = dup.cast("double") / F.count("*")
    return (
        grams.join(gcount, "gk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            dup.alias("n_dup_shingles"),
            F.round(frac, 6).alias("dup_frac"),
            (frac > 0.5).alias("mostly_duplicated"),
        )
    )


# ===========================================================================
# Integer-fixpoint PageRank over the customer->supplier order graph
# ===========================================================================

# Fixed-point scale: ranks live in units of 1e-12. All updates are
# BIGINT adds and integer divisions, so iteration order cannot perturb
# low bits - the property that makes an iterative float algorithm
# hash-checkable across engines. Constants shared with the operator so
# the SQL template below cannot drift from the Spark implementation.
from formula1_etl_analytics_project_spark.operators.graph import (  # noqa: E402
    PR_BASE as _PR_BASE,
    PR_INIT as _PR_INIT,
)

_PAGERANK_SQL = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS src, -l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
), outdeg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST({_PR_INIT} AS BIGINT) AS rank FROM nodes
), s1 AS (
  SELECT e.dst AS node, SUM(r.rank // o.d) AS inc
  FROM edges e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
), r1 AS (
  SELECT n.node, {_PR_BASE} + (85 * COALESCE(s.inc, 0)) // 100 AS rank
  FROM nodes n LEFT JOIN s1 s ON n.node = s.node
), s2 AS (
  SELECT e.dst AS node, SUM(r.rank // o.d) AS inc
  FROM edges e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
), r2 AS (
  SELECT n.node, {_PR_BASE} + (85 * COALESCE(s.inc, 0)) // 100 AS rank
  FROM nodes n LEFT JOIN s2 s ON n.node = s.node
), s3 AS (
  SELECT e.dst AS node, SUM(r.rank // o.d) AS inc
  FROM edges e JOIN r2 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
), r3 AS (
  SELECT n.node, {_PR_BASE} + (85 * COALESCE(s.inc, 0)) // 100 AS rank
  FROM nodes n LEFT JOIN s3 s ON n.node = s.node
)
SELECT node, CAST(rank AS BIGINT) AS pagerank_fp
FROM r3 ORDER BY rank DESC, node LIMIT 20
"""


@_register(
    "pagerank_orders",
    _PAGERANK_SQL,
    bench=True,
    gate_priority=True,
)
def q_pagerank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd-style PageRank iterations over the bipartite
    customer->supplier graph induced by orders x lineitem (suppliers
    carry NEGATED keys so the two id spaces cannot collide at any
    scale factor). Ranks are fixed-point BIGINTs (1e-12 units):
    contribution = rank div outdeg, update = 0.15 + 0.85 * sum, all
    in integer arithmetic - so the distributed aggregation is
    bit-exact regardless of partial-sum order, which is what lets an
    ITERATIVE algorithm pass a value-hash oracle check.

    Scale shape: each iteration is one shuffle-join of the edge list
    against the current rank vector (both partitioned by src) plus one
    hash-agg by dst. The rank vector is nodes-sized (small relative to
    edges) but scale-growing, so it is NOT pinned-broadcast - AQE
    picks the strategy per round. The loop-invariant edge list is
    localCheckpoint()ed once here, so the orders x lineitem join never
    replays; the operator additionally lazy-checkpoints the node-set
    and out-degree tables it derives, so those two aggregations also
    materialize once instead of inside every iteration's plan
    (the same lineage-cut pattern as operators/dedup.py
    connected_components)."""
    from formula1_etl_analytics_project_spark.operators.graph import (
        pagerank_fixed_point,
    )

    orders = read_table(spark, sf_dir, "orders", spread=True)
    lineitem = read_table(spark, sf_dir, "lineitem", spread=True)
    edges = (
        orders.join(
            lineitem,
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).cast("long").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    ranks = pagerank_fixed_point(edges)
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(20)
        .select("node", F.col("rank").alias("pagerank_fp"))
    )


# ===========================================================================
# Gaps-and-islands: maximal consecutive same-event runs
# ===========================================================================

_GAPS_ISLANDS_SQL = r"""
WITH ordered AS (
  SELECT user_id, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn_all,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
), islands AS (
  SELECT user_id, event_type, rn_all - rn_type AS island,
         COUNT(*) AS run_len, MIN(event_id) AS first_event_id
  FROM ordered GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT user_id, event_type, run_len, first_event_id
FROM islands WHERE run_len >= 3
ORDER BY run_len DESC, user_id, first_event_id LIMIT 50
"""


@_register(
    "gaps_islands",
    _GAPS_ISLANDS_SQL,
    gate_priority=True,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands - the classic row_number-difference trick for
    maximal runs of consecutive identical values: per user, every
    streak of >= 3 same-type events in (ts, event_id) order, with the
    streak length and its first event id. Two window functions over
    the SAME user_id partitioning (one Exchange, the second window
    reuses the sort) then a hash-agg on the island key; (ts, event_id)
    is a total order so island boundaries are deterministic. Scale
    shape: everything is partitioned by user_id - no global window,
    no driver state; the streak aggregate is map-side combinable."""
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events", spread=True)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    ordered = events.select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island"
        ),
    )
    islands = ordered.groupBy("user_id", "event_type", "island").agg(
        F.count("*").alias("run_len"),
        F.min("event_id").alias("first_event_id"),
    )
    return (
        islands.filter(F.col("run_len") >= 3)
        .orderBy(F.desc("run_len"), "user_id", "first_event_id")
        .limit(50)
        .select("user_id", "event_type", "run_len", "first_event_id")
    )


# ===========================================================================
# Market-basket co-occurrence: suppliers co-supplying the same order
# ===========================================================================

_COOCCURRENCE_SQL = r"""
WITH sup AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
)
SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
       COUNT(*) AS n_orders
FROM sup a JOIN sup b
  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
GROUP BY a.l_suppkey, b.l_suppkey
ORDER BY n_orders DESC, supp_a, supp_b LIMIT 30
"""


@_register(
    "supplier_cooccurrence",
    _COOCCURRENCE_SQL,
    gate_priority=True,
)
def q_supplier_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top supplier pairs by number
    of orders they jointly supply. NOT the textbook self-join: the
    baskets are aggregated first (one shuffle on the basket key, with
    map-side partial collect_set), then the within-basket pairs are
    expanded JVM-side with higher-order array functions - so the
    whole pair space (quadratic only within one order, bounded by the
    per-order line count ~7) never touches a join at all, and the
    oracle's equivalent self-join form documents the semantics. Pair
    counts collapse with a map-side-combinable count and the top-30
    runs as TakeOrderedAndProject - no global sort. Sorting the
    basket array canonicalizes pair order (a < b) so each pair
    counts once."""
    lineitem = read_table(spark, sf_dir, "lineitem", spread=True)
    sets = (
        lineitem.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda x, i: F.transform(
                        F.slice(
                            "ss", i + 2, F.greatest(F.size("ss") - i - 1, F.lit(0))
                        ),
                        lambda y: F.struct(
                            x.alias("supp_a"), y.alias("supp_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.supp_a", "p.supp_b")
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "supp_a", "supp_b")
        .limit(30)
    )


# ===========================================================================
# Deterministic linear-regression aggregates (regr_* surface)
# ===========================================================================

_REGRESSION_SQL = r"""
WITH pts AS (
  SELECT event_type,
         EXTRACT(hour FROM ts) AS x,
         CAST(value AS DECIMAL(30,4)) AS y
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(x) AS sx,
         SUM(x * x) AS sxx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(y * x) AS DOUBLE) AS sxy,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
WHERE n * sxx - sx * sx <> 0
"""


@_register(
    "regression_surface",
    _REGRESSION_SQL,
    gate_priority=True,
)
def q_regression_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit (value vs hour-of-day) - the
    regr_slope / regr_intercept / regr_r2 surface, but DETERMINISTIC:
    the built-in regr_* aggregates accumulate doubles in partition
    order so their low bits drift run-to-run; deriving the fit from
    EXACT moment sums (integer sums for x, decimal-cast sums for y,
    xy, yy - the stats_agg_surface pattern lifted to covariances)
    makes every statistic a pure scalar function of order-independent
    aggregates, so the result is bit-stable at any parallelism. At
    100 TB the five sums ride ONE hash aggregate - same cost as the
    built-ins."""
    events = read_table(spark, sf_dir, "events", spread=True)
    y = F.col("value").cast("decimal(30,4)")
    x = F.hour("ts")
    pts = events.filter(F.col("value").isNotNull()).select(
        "event_type", x.alias("x"), y.alias("y")
    )
    m = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("x")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    m = m.filter(den != 0)
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((num * num) / (den * (n * syy - sy * sy)), 6).alias("r2"),
    )


# ===========================================================================
# Map-typed column surface
# ===========================================================================

_MAP_FUNCS_SQL = r"""
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type, cnt
FROM counts WHERE cnt >= 3
"""


@_register(
    "map_funcs_surface",
    _MAP_FUNCS_SQL,
    gate_priority=True,
)
def q_map_funcs_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column round-trip: per user, counts are packed into a
    MAP<event_type, count> (map_from_entries over collect_list), the
    map is transformed in place (map_filter keeps entries with count
    >= 3), and map_entries + explode unpacks it back to rows. The
    oracle states the end-to-end semantics relationally (GROUP BY +
    HAVING), so the hash-match proves the map pack -> filter ->
    unpack cycle is lossless. The map stays inside one row group-by
    row - maps here are a per-row container type, not a shuffle
    participant; the only exchanges are the two hash-aggs, identical
    to the relational form."""
    events = read_table(spark, sf_dir, "events", spread=True)
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    packed = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    filtered = packed.select(
        "user_id",
        F.map_filter("m", lambda k, v: v >= 3).alias("m"),
    )
    return filtered.select(
        "user_id", F.explode("m").alias("event_type", "cnt")
    )


# ===========================================================================
# Video frame sampling (multimodal plumbing in the gate)
# ===========================================================================

_FRAME_SAMPLE_SQL = r"""
WITH media AS (
  SELECT doc_id AS media_id,
         (n_chars * 37) % 20000 + 500 AS duration_ms
  FROM documents
)
SELECT media_id,
       ts // 750 AS frame_idx,
       ts AS frame_ts_ms
FROM media, unnest(range(0, duration_ms, 750)) AS t(ts)
"""


@_register(
    "frame_sample_plan",
    _FRAME_SAMPLE_SQL,
    gate_priority=True,
)
def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.py
    frame_sample): each media row expands to one row per sampled frame
    at a 750 ms stride, timing driven purely by metadata (sequence +
    posexplode - narrow, no UDF, no shuffle; pixel decode would plug
    into the mapInPandas kernel per frame). Durations are synthesized
    deterministically from document lengths since the container ships
    no codecs; the oracle restates the stride arithmetic, so the
    sampling grid - index and timestamp per frame - is value-checked
    exactly. The explode multiplies rows by frames-per-video but the
    projection stays two ints wide: the 100 TB shape is scan ->
    generate -> sink with no exchange anywhere."""
    from formula1_etl_analytics_project_spark.operators.multimodal import (
        frame_sample,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.struct(
            ((F.col("n_chars") * 37) % 20000 + 500).alias("duration_ms")
        ).alias("meta"),
    )
    return frame_sample(media, every_ms=750)


# ===========================================================================
# SCD2 point-in-time join (fact joined to the dimension version valid
# at fact time)
# ===========================================================================

_SCD2_PIT_SQL = r"""
WITH changes AS (
  SELECT o_custkey, o_orderdate, o_orderstatus
  FROM (
    SELECT o_custkey, o_orderdate, o_orderstatus,
           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders)
  WHERE rn = 1
), scd2 AS (
  SELECT o_custkey, o_orderdate AS valid_from,
         COALESCE(LEAD(o_orderdate) OVER w,
                  TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
         o_orderstatus AS status
  FROM changes
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
), fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate AS ship_ts,
         CAST(l.l_extendedprice AS DECIMAL(30,4)) AS price
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT d.status,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM(f.price) AS DOUBLE), 4) AS revenue
FROM fact f JOIN scd2 d
  ON f.custkey = d.o_custkey
 AND f.ship_ts >= d.valid_from AND f.ship_ts < d.valid_to
GROUP BY d.status
"""


@_register(
    "scd2_point_in_time_join",
    _SCD2_PIT_SQL,
    bench=True,
    gate_priority=True,
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each line item picks up the
    customer-status VERSION that was valid when the item shipped -
    facts against an SCD2 dimension, the lookup every
    as-of-correct warehouse query needs (ship dates trail order
    dates, so the valid version is often NOT the one created with
    the order). The interval set partitions time per customer, so
    each fact matches at most one version and the join stays an
    EQUI-join on custkey with the interval predicate applied as a
    post-join filter: one hash-partition exchange per side, no
    range-explosion, no nested loop (versions-per-customer is small
    and bounded by change count). Revenue goes through the exact
    decimal-sum pattern so the rollup is order-independent."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders", spread=True)
    lineitem = read_table(spark, sf_dir, "lineitem", spread=True)
    dedup_w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    changes = (
        orders.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    nxt = F.lead("o_orderdate").over(w)
    scd2 = changes.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            nxt, F.lit("9999-12-31 00:00:00").cast("timestamp_ntz")
        ).alias("valid_to"),
        F.col("o_orderstatus").alias("status"),
    )
    fact = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ship_ts"),
        F.col("l_extendedprice").cast("decimal(30,4)").alias("price"),
    )
    joined = fact.join(
        scd2,
        (fact["custkey"] == scd2["o_custkey"])
        & (fact["ship_ts"] >= scd2["valid_from"])
        & (fact["ship_ts"] < scd2["valid_to"]),
    )
    return joined.groupBy("status").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("price").cast("double"), 4).alias("revenue"),
    )


# ===========================================================================
# Incremental aggregate maintenance: merge(partials) == full recompute
# ===========================================================================

_INCR_AGG_SQL = r"""
SELECT EXTRACT(year FROM o_orderdate) AS yr,
       o_orderstatus AS status,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 4)
         AS total
FROM orders
GROUP BY 1, 2
"""


@_register(
    "incremental_agg_merge",
    _INCR_AGG_SQL,
    gate_priority=True,
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: the standing per-(year,
    status) aggregate STATE (counts + exact decimal sums from prior
    runs, here orders with o_orderkey % 7 != 0) absorbs a new batch
    (the % 7 == 0 rows) by aggregating ONLY the batch and merging
    partials - sum of counts, sum of sums - never rescanning history.
    The oracle recomputes from the full table, so the hash-match IS
    the algebraic-mergeability proof (count/sum are commutative
    monoids; the decimal sums make the merge bit-exact in any order).
    At 100 TB this is the difference between O(batch) and O(history)
    per refresh; AVG-style aggregates must ship as (sum, count)
    pairs, which is exactly the state kept here."""
    orders = read_table(spark, sf_dir, "orders", spread=True)
    dec = F.col("o_totalprice").cast("decimal(30,4)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderstatus").alias("status"),
        ).agg(F.count("*").alias("pn"), F.sum(dec).alias("ps"))

    state = partial(orders.filter(F.col("o_orderkey") % 7 != 0))
    batch = partial(orders.filter(F.col("o_orderkey") % 7 == 0))
    merged = state.unionByName(batch).groupBy("yr", "status").agg(
        F.sum("pn").alias("n_orders"),
        F.round(F.sum("ps").cast("double"), 4).alias("total"),
    )
    return merged


# ===========================================================================
# TPC-H Q18 shape: HAVING-subquery membership + top-k (identical SQL)
# ===========================================================================

_Q18_SQL = """
SELECT c.c_custkey, o.o_orderkey,
       ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,4))) AS DOUBLE), 4)
         AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > 150
)
GROUP BY c.c_custkey, o.o_orderkey
ORDER BY total_qty DESC, o.o_orderkey LIMIT 20
"""


@_register(
    "sql_surface_q18",
    _Q18_SQL,
    gate_priority=True,
)
def q_sql_surface_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): IN over a GROUP BY/HAVING
    subquery, a 3-way join, and a global top-20. Identical SQL text
    both engines; quantities go through exact decimal sums so the
    HAVING cut and the ranking are order-independent. Spark plans the
    IN-subquery as a left-semi join against the pre-aggregated
    lineitem (no per-row subquery execution), the 3-way join
    shuffle-partitions on the order key, and the top-20 lowers to
    TakeOrderedAndProject - the membership filter reduces the join
    input BEFORE the wide aggregation, which is what keeps the Q18
    shape viable when lineitem is the 100 TB table."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q18_SQL)


# ===========================================================================
# NOT IN -> null-aware anti-join (identical SQL)
# ===========================================================================

_NOT_IN_SQL = """
SELECT COUNT(*) AS n_quiet_customers,
       MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


@_register(
    "not_in_null_aware_antijoin",
    _NOT_IN_SQL,
    gate_priority=True,
)
def q_not_in_null_aware_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over an uncorrelated subquery - the null-aware
    anti-join, the one join variant with genuinely different
    semantics from LEFT ANTI: one NULL in the subquery empties the
    result, and a NULL probe never qualifies, so the engine must
    track subquery nullness, not just key absence (Spark compiles
    this to a null-aware anti join; a plain anti-join rewrite would
    be WRONG in general and only coincides here because o_custkey
    has no NULLs). Identical SQL text both engines; the aggregate
    output keeps the result single-row and deterministic."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_SQL)
