"""Round-13 catalog entries (round 4, session 2) - 8 entries across
three themes:

* SQL surface depth (the reference's EP3 raw-SQL layer, SURVEY.md
  section 2.11): `sql_surface_q7` (nation-pair volume with a
  two-role nation dimension), `sql_surface_q4` (EXISTS decorrelation
  into a left-semi join), `sql_surface_q10` (returned-item revenue
  top-k over a 4-way join).
* Relational ops a production pipeline needs that no earlier entry
  covered: `penny_allocation` (largest-remainder proration - the
  classic finance allocation where cents must sum exactly to the
  invoice total), `keyset_pagination` (cursor pagination - the
  scale-correct replacement for OFFSET paging), and
  `common_neighbors_linkpred` (common-neighbor link prediction on
  the supplier co-occurrence graph with top-K adjacency truncation -
  the bounded wedge expansion industrial similar-item graphs use).
* Deterministic statistics: `autocorr_revenue` (lag-1..7
  autocorrelation of the daily revenue series from exact decimal
  moments) and `mutual_information` (MI of the documents lang x
  source contingency - the information-theoretic dependence measure
  chi2_independence's test statistic does not give you).

Portability rules as in plans/catalog.py: exact integer/decimal
arithmetic everywhere a sum crosses partitions, doubles only in
per-row deterministic IEEE expressions or k-row finishes,
ROUND(x, 6) on compared floats, HUGEINT-producing SUMs cast to
BIGINT in the oracle before they reach the output schema.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _dsum,
    _register,
    _sql_dsum,
)
from formula1_etl_analytics_project_spark.sources.readers import (
    read_table,
    register_views,
)

# ===========================================================================
# TPC-H Q7 shape: nation-pair shipping volume (identical SQL both engines)
# ===========================================================================

_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_0','NATION_1','NATION_2',
                      'NATION_3','NATION_4')
    AND n2.n_name IN ('NATION_0','NATION_1','NATION_2',
                      'NATION_3','NATION_4')
    AND n1.n_name <> n2.n_name
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@_register(
    "sql_surface_q7",
    _Q7_SQL,
    gate_priority=True,
)
def q_sql_surface_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between nations): the same
    dimension table joined twice in DIFFERENT roles (supplier nation
    and customer nation) with a cross-role inequality predicate -
    the case that defeats naive single-purpose dimension caching and
    exercises Catalyst's handling of a filter that can only be
    evaluated after BOTH nation joins (the per-role IN lists push to
    each broadcast side; `n1 <> n2` cannot). The pair set is widened
    from the reference query's single pair to five nations so every
    test SF produces rows. Identical SQL text runs in both engines
    (register_views + spark.sql).

    Shape at 100 TB: both nation sides and supplier/customer are
    broadcast (bounded dims), lineitem and orders hash-join on
    orderkey - the fact is shuffled once. The date filter pushes to
    the lineitem scan (parquet min/max pruning drops whole files
    outside the 2-year window); the nation-pair predicate cannot
    push below the joins (it references two sides) and Catalyst
    correctly leaves it as a post-join filter while still pushing
    the IN ('NATION_1','NATION_2') implication onto each broadcast
    side at plan time via constraint propagation. Revenue sums in
    decimal (order-independent) and finishes as double.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q7_SQL)


# ===========================================================================
# TPC-H Q4 shape: EXISTS -> left-semi decorrelation
# ===========================================================================

_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@_register(
    "sql_surface_q4",
    _Q4_SQL,
    gate_priority=True,
)
def q_sql_surface_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (late-shipment order priority count): a
    correlated EXISTS whose inner predicate references the OUTER
    row's o_orderdate in an inequality - Catalyst must decorrelate
    it into a LEFT SEMI join on l_orderkey with the date inequality
    as a join condition, never materializing the subquery per row.
    Complements `exists_decorrelated` (equality-only correlation)
    and `not_in_null_aware_antijoin` (negated form).

    Shape at 100 TB: the 3-month orders slice prunes at the scan
    (partition/min-max), the semi join shuffles only the two
    orderkey projections, and duplicate lineitem matches never
    multiply rows (semi join, not inner + distinct). COUNT(*) is a
    map-side-combinable agg on ~5 priority groups.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q4_SQL)


# ===========================================================================
# TPC-H Q10 shape: returned-item revenue top-k
# ===========================================================================

_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@_register(
    "sql_surface_q10",
    _Q10_SQL,
    gate_priority=True,
)
def q_sql_surface_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returned lineitems per customer over one quarter, top 20. The
    returnflag filter lives on the fact, the date filter on orders,
    and the grouping key is the CUSTOMER grain - so the optimizer
    must filter both fact sides before the join and aggregate after,
    not the reverse. Top-20 runs as TakeOrderedAndProject (no global
    sort); the revenue tie is broken by c_custkey so the row SET is
    deterministic across engines.

    Shape at 100 TB: lineitem('R' ~ 1/3) joins the date-pruned
    orders slice on orderkey (the one fact shuffle), then the
    per-customer agg shuffles only (custkey, partial revenue);
    customer and nation broadcast. Decimal revenue, double finish.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q10_SQL)


# ===========================================================================
# Largest-remainder penny allocation (exact proration)
# ===========================================================================

_PENNY_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem WHERE l_orderkey % 7 = 0
), o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS tc
  FROM orders WHERE o_orderkey % 7 = 0
), j AS (
  SELECT l_orderkey, l_linenumber, pc, tc,
         CAST(SUM(pc) OVER (PARTITION BY l_orderkey) AS BIGINT) AS sc
  FROM li JOIN o ON l_orderkey = o_orderkey
), b AS (
  SELECT l_orderkey, l_linenumber, tc,
         (tc * pc) // sc AS base,
         (tc * pc) % sc  AS rem
  FROM j
), r AS (
  SELECT l_orderkey, l_linenumber, base,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY rem DESC, l_linenumber) AS rn,
         tc - CAST(SUM(base) OVER (PARTITION BY l_orderkey) AS BIGINT)
           AS leftover
  FROM b
)
SELECT l_orderkey, l_linenumber,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents
FROM r
"""


@_register(
    "penny_allocation",
    _PENNY_SQL,
    gate_priority=True,
    bench=True,
)
def q_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder penny allocation: prorate each order's
    invoice total (in cents) across its lineitems proportionally to
    extended price so the allocated cents SUM EXACTLY to the total -
    floor the proportional share, then hand the leftover cents to
    the rows with the largest remainders (ties broken by line
    number). The classic finance/revenue-recognition operator that
    naive `total * price / sum` double math gets wrong by a cent.

    Everything is int64: prices become cents via one deterministic
    IEEE multiply + round, the share is exact integer division
    (tc*pc fits comfortably: ~5e14 < 2^63), and the remainder rank
    is an integer sort - no floating point crosses a row boundary,
    so the result is bit-identical under any partitioning.

    Shape at 100 TB: one shuffle on l_orderkey serves the join and
    both windows (sum-of-cents, remainder rank share the partition
    key, so Catalyst runs them in one Window stage on one Exchange).
    Window width = lines per order (~7), never unbounded. The %7
    key filter stands in for the incremental slice a real pipeline
    allocates per batch.
    """
    li = (
        read_table(spark, sf_dir, "lineitem", spread=True)
        .filter(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("pc"),
        )
    )
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("tc"),
        )
    )
    w = Window.partitionBy("l_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "sc", F.sum("pc").over(w)
    )
    b = j.select(
        "l_orderkey",
        "l_linenumber",
        "tc",
        F.expr("tc * pc div sc").alias("base"),
        (F.col("tc") * F.col("pc") % F.col("sc")).alias("rem"),
    )
    r = b.select(
        "l_orderkey",
        "l_linenumber",
        "base",
        F.row_number()
        .over(w.orderBy(F.desc("rem"), "l_linenumber"))
        .alias("rn"),
        (F.col("tc") - F.sum("base").over(w)).alias("leftover"),
    )
    alloc = F.col("base") + F.when(
        F.col("rn") <= F.col("leftover"), 1
    ).otherwise(0)
    return r.select(
        "l_orderkey", "l_linenumber", alloc.alias("alloc_cents")
    )


# ===========================================================================
# Keyset (cursor) pagination - the scale-correct OFFSET replacement
# ===========================================================================

_KEYSET_SQL = """
WITH c AS (
  SELECT o_orderdate AS cd, o_orderkey AS ck
  FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 1 OFFSET 299
)
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders, c
WHERE o_orderdate > cd OR (o_orderdate = cd AND o_orderkey > ck)
ORDER BY o_orderdate, o_orderkey
LIMIT 100
"""


@_register(
    "keyset_pagination",
    _KEYSET_SQL,
    gate_priority=True,
)
def q_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: fetch the page AFTER a cursor row
    using the row-value predicate `(date, key) > (cursor_date,
    cursor_key)` instead of OFFSET. OFFSET-paging at depth N scans
    and discards N rows on every page (O(N) per page, O(N^2) to walk
    a table); the keyset predicate makes every page a top-k over a
    range-pruned scan - the only pagination that survives a 100 TB
    table, and the access pattern training-data export jobs use to
    checkpoint/restart a scan.

    Here the cursor (end of page 3, page size 100) is computed once
    from the same total order - in production it arrives from the
    client. Spark side: the cursor is the MAX (date, key) struct of
    the first 300 rows (struct comparison is lexicographic on the
    fields, i.e. exactly the page order) - deliberately NOT
    ``offset(299).limit(1)``: on this Spark build an Offset operator
    inside a broadcast subquery flakily disables the OUTER query's
    TakeOrderedAndProject limit (~50% of runs return the whole
    filtered table; reproduced 12x in one session), while the
    limit+max-struct form is deterministic. The 1-row cursor is
    crossJoin-broadcast and the page-4 fetch compiles to
    TakeOrderedAndProject over the filtered scan (no global sort).
    The (date, key) composite makes the order total, so pages are
    gap-free and duplicate-free even with equal dates.
    """
    orders = read_table(spark, sf_dir, "orders", spread=True)
    cursor = (
        orders.orderBy("o_orderdate", "o_orderkey")
        .limit(300)
        .agg(
            F.max(F.struct("o_orderdate", "o_orderkey")).alias("cur")
        )
        .select(
            F.col("cur.o_orderdate").alias("cd"),
            F.col("cur.o_orderkey").alias("ck"),
        )
    )
    after = (F.col("o_orderdate") > F.col("cd")) | (
        (F.col("o_orderdate") == F.col("cd"))
        & (F.col("o_orderkey") > F.col("ck"))
    )
    return (
        orders.crossJoin(F.broadcast(cursor))
        .filter(after)
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ===========================================================================
# Common-neighbor link prediction with top-K adjacency truncation
# ===========================================================================

_LINKPRED_K = 20

_LINKPRED_SQL = f"""
WITH sup AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), all_edges AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
  FROM sup a JOIN sup b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY a.l_suppkey, b.l_suppkey
), thr AS (
  SELECT quantile_cont(w, 0.8) AS t FROM all_edges
), edges AS (
  SELECT u, v, w FROM all_edges, thr WHERE w >= t
), adj AS (
  SELECT u AS node, v AS nbr, w FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr, w FROM edges
), topk AS (
  SELECT node, nbr FROM (
    SELECT node, nbr,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY w DESC, nbr) AS rn
    FROM adj)
  WHERE rn <= {_LINKPRED_K}
), wedges AS (
  SELECT a.nbr AS u, b.nbr AS v, COUNT(*) AS common_nbrs
  FROM topk a JOIN topk b
    ON a.node = b.node AND a.nbr < b.nbr
  GROUP BY a.nbr, b.nbr
)
SELECT w.u, w.v, w.common_nbrs
FROM wedges w
LEFT JOIN edges e ON w.u = e.u AND w.v = e.v
WHERE e.u IS NULL
ORDER BY w.common_nbrs DESC, w.u, w.v
LIMIT 50
"""


@_register(
    "common_neighbors_linkpred",
    _LINKPRED_SQL,
    gate_priority=True,
)
def q_common_neighbors_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the STRONG-TIE supplier
    co-occurrence graph: for supplier pairs not strongly tied, count
    the suppliers strongly adjacent to both (wedge endpoints through
    a shared neighbor) and rank - the classic "you may also work
    with" recommender baseline. The graph keeps only edges at or
    above the 80th weight percentile (exact linear-interpolation
    percentile, parity pinned by event_value_percentiles): the RAW
    co-occurrence graph is complete at small SF (every supplier
    pair shares some order), so a relative threshold - not an
    absolute count, which does not transfer across corpus sizes -
    is what makes "link" mean something at every scale.

    The scale control is TOP-K ADJACENCY TRUNCATION: each node keeps
    only its {_LINKPRED_K} strongest neighbors (by edge weight, id
    tie-break) before the wedge self-join, bounding the expansion at
    n*K^2/2 wedges regardless of hub degree - the standard move in
    industrial similar-item graphs, vs. the O(sum deg^2) blowup an
    untruncated wedge join suffers on power-law graphs
    (`triangle_count` gets the same bound a different way because
    closure needs orientation only; prediction needs both endpoints'
    full truncated lists). Candidate pairs then anti-join the FULL
    edge set so truncation never resurrects an existing edge.

    Shape at 100 TB: basket dedup + pair expansion reuse the
    supplier_cooccurrence aggregation profile; the ranked adjacency
    shuffles once on node; the wedge join is node-partitioned (no
    broadcast of anything that grows with the graph); the final
    top-50 is TakeOrderedAndProject.
    """
    li = read_table(spark, sf_dir, "lineitem", spread=True)
    sup = li.select("l_orderkey", "l_suppkey").distinct()
    a = sup.alias("a")
    b = sup.alias("b")
    all_edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"),
            F.col("b.l_suppkey").alias("v"),
        )
        .agg(F.count("*").alias("w"))
    )
    thr = all_edges.agg(F.percentile("w", 0.8).alias("t"))
    edges = all_edges.crossJoin(F.broadcast(thr)).filter(
        F.col("w") >= F.col("t")
    ).select("u", "v", "w")
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), "w"
    ).unionAll(
        edges.select(
            F.col("v").alias("node"), F.col("u").alias("nbr"), "w"
        )
    )
    wn = Window.partitionBy("node").orderBy(F.desc("w"), "nbr")
    topk = (
        adj.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= _LINKPRED_K)
        .select("node", "nbr")
    )
    ta = topk.alias("ta")
    tb = topk.alias("tb")
    wedges = (
        ta.join(
            tb,
            (F.col("ta.node") == F.col("tb.node"))
            & (F.col("ta.nbr") < F.col("tb.nbr")),
        )
        .groupBy(
            F.col("ta.nbr").alias("u"), F.col("tb.nbr").alias("v")
        )
        .agg(F.count("*").alias("common_nbrs"))
    )
    return (
        wedges.join(edges.select("u", "v"), ["u", "v"], "left_anti")
        .orderBy(F.desc("common_nbrs"), "u", "v")
        .limit(50)
    )


# ===========================================================================
# Lag-k autocorrelation of the daily revenue series (exact moments)
# ===========================================================================

_ACF_MAX_LAG = 7

_ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         {_sql_dsum('l_extendedprice * (1 - l_discount)', 'x', 6)}
  FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
), lagged AS (
  SELECT x,
         LAG(x, 1) OVER (ORDER BY d) AS l1,
         LAG(x, 2) OVER (ORDER BY d) AS l2,
         LAG(x, 3) OVER (ORDER BY d) AS l3,
         LAG(x, 4) OVER (ORDER BY d) AS l4,
         LAG(x, 5) OVER (ORDER BY d) AS l5,
         LAG(x, 6) OVER (ORDER BY d) AS l6,
         LAG(x, 7) OVER (ORDER BY d) AS l7
  FROM daily
), pairs AS (
  SELECT 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
  UNION ALL SELECT 2, x, l2 FROM lagged WHERE l2 IS NOT NULL
  UNION ALL SELECT 3, x, l3 FROM lagged WHERE l3 IS NOT NULL
  UNION ALL SELECT 4, x, l4 FROM lagged WHERE l4 IS NOT NULL
  UNION ALL SELECT 5, x, l5 FROM lagged WHERE l5 IS NOT NULL
  UNION ALL SELECT 6, x, l6 FROM lagged WHERE l6 IS NOT NULL
  UNION ALL SELECT 7, x, l7 FROM lagged WHERE l7 IS NOT NULL
), m AS (
  SELECT lag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
             6) AS acf
FROM m
"""


@_register(
    "autocorr_revenue",
    _ACF_SQL,
    gate_priority=True,
)
def q_autocorr_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..7 - the
    first diagnostic of any forecasting pipeline (is there weekly
    seasonality? how fast does memory decay?). Pearson correlation
    of the series against its lag-k self, from exact moments like
    `group_correlations`: the daily series itself is an exact
    decimal sum finished as double (bit-identical both engines),
    the per-pair products are single IEEE multiplies cast to
    decimal(38,6) before summing (order-independent), and the corr
    finish is a k-row double expression rounded to 6.

    Shape at 100 TB: the fact-scale work is ONE hash aggregate to
    day grain (map-side combinable). The lag window then runs on the
    ~2.4k-row aggregated series - a deliberate single-partition
    window on k rows, not on the fact (same stance as
    `wow_growth`); at 100 TB the day count is still thousands. The
    7 lag columns come from one window pass, and the unpivoted
    moment agg is 7 groups.
    """
    li = read_table(spark, sf_dir, "lineitem", spread=True)
    daily = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "x",
                6,
            )
        )
    )
    w = Window.orderBy("d")
    lag_cols = [
        F.lag("x", k).over(w).alias(f"l{k}")
        for k in range(1, _ACF_MAX_LAG + 1)
    ]
    lagged = daily.select("x", *lag_cols)
    stack_args = ", ".join(
        f"{k}, l{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    pairs = lagged.select(
        "x",
        F.expr(
            f"stack({_ACF_MAX_LAG}, {stack_args}) AS (lag, y)"
        ),
    ).filter(F.col("y").isNotNull())
    dx = F.col("x").cast("decimal(30,6)")
    dy = F.col("y").cast("decimal(30,6)")
    m = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
    )
    corr = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("lag", "n", F.round(corr, 6).alias("acf"))


# ===========================================================================
# Mutual information of the lang x source contingency
# ===========================================================================

_MI_SQL = """
WITH c AS (
  SELECT lang, source, COUNT(*) AS nij
  FROM documents GROUP BY lang, source
), tot AS (
  SELECT CAST(SUM(nij) AS DOUBLE) AS n FROM c
), li AS (
  SELECT lang, CAST(SUM(nij) AS DOUBLE) AS ni FROM c GROUP BY lang
), sj AS (
  SELECT source, CAST(SUM(nij) AS DOUBLE) AS nj FROM c GROUP BY source
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(CAST(
           (CAST(nij AS DOUBLE) / n)
           * ln((CAST(nij AS DOUBLE) * n) / (ni * nj))
           AS DECIMAL(38,12))) AS DOUBLE), 6) AS mi_nats
FROM c
JOIN li USING (lang)
JOIN sj USING (source)
CROSS JOIN tot
"""


@_register(
    "mutual_information",
    _MI_SQL,
    gate_priority=True,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information of the documents lang x source contingency,
    in nats: MI = sum_ij p_ij * ln(p_ij / (p_i p_j)) over observed
    cells. Where `chi2_independence` answers "are they dependent",
    MI answers "by how many bits" - the measure corpus curation uses
    to detect source/language confounding before fixing mixture
    weights (a source whose language distribution diverges from the
    corpus carries high MI and will skew any per-language cap).

    Determinism: every count is exact; each cell's term is computed
    from identical integer-derived doubles by the same IEEE
    expression in both engines, cast to decimal(38,12) so the
    cell-sum is order-independent, rounded to 6.

    Shape at 100 TB: one hash agg to (lang, source) grain - the only
    pass over the corpus - then the marginals are re-aggregations of
    the tiny cell table, broadcast back onto it. Same profile as
    `kl_divergence_sources` with a second marginal.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("nij"))
    tot = c.agg(F.sum("nij").cast("double").alias("n"))
    li_m = c.groupBy("lang").agg(F.sum("nij").cast("double").alias("ni"))
    sj_m = c.groupBy("source").agg(
        F.sum("nij").cast("double").alias("nj")
    )
    term = (
        (F.col("nij").cast("double") / F.col("n"))
        * F.log(
            (F.col("nij").cast("double") * F.col("n"))
            / (F.col("ni") * F.col("nj"))
        )
    ).cast("decimal(38,12)")
    return (
        c.join(F.broadcast(li_m), "lang")
        .join(F.broadcast(sj_m), "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.sum(term).cast("double"), 6).alias("mi_nats"),
        )
    )
