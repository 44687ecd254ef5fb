"""The driver-facing query catalog: every operator family from
SURVEY.md section 2 (plus the M6 training-data extensions) as a
(spark_fn, oracle_sql) pair over the driver testdata tables.

Portability rules (these make the order-insensitive value-hash
comparison against DuckDB deterministic):
  * Money/sum aggregates go through DECIMAL: per-row double arithmetic
    is IEEE-identical across engines, the double result is cast to
    decimal per row, and the decimal SUM is exact (order-independent),
    then cast back to double. Plain double SUMs would differ in the
    last ulps because aggregation order differs.
  * Averages are expressed as exact-decimal sum / count.
  * Hashes are md5 (identical hex in both engines) - never Spark's
    murmur3 ``hash()``.
  * Every computed column is aliased identically in both plans.
  * Ties in every top-k / window are broken by a unique key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.functions.text import (
    EN_STOPWORDS,
    fingerprint,
    lang_guess,
    normalize,
    quality_score,
    token_count,
)
from formula1_etl_analytics_project_spark.operators.dedup import (
    dedup_keep_first,
    minhash_lsh_pairs,
)
from formula1_etl_analytics_project_spark.operators.joins import (
    broadcast_if_small,
    integrity_violations,
)
from formula1_etl_analytics_project_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_topk,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table
from formula1_etl_analytics_project_spark.sources.sinks import upsert


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    bench: bool = False  # include in bench.py headline set
    # Optional scale restatement of the SAME oracle semantics for the
    # sf1 parity harness (scripts/sf1_check.py): some driver-facing
    # oracles are deliberately the most implementation-independent form
    # (e.g. an all-pairs O(N^2) cross filter) which DuckDB cannot finish
    # at 50k docs. Where an exactly-equivalent restatement exists (e.g.
    # banding justified by the same pigeonhole theorem, argmin join in
    # place of a struct aggregate), it goes here; the driver gate at
    # sf0.01 keeps running the independent form. r07 verdict task 4.
    oracle_scale: str | None = None


CATALOG: dict[str, QuerySpec] = {}

# New entries registered with gate_priority=True append here so they get a
# driver correctness row in the round they are introduced (see gate_order()).
_GATE_PRIORITY_DYNAMIC: list[str] = []

# Hooks run by oracle_sql() before handing out SQL strings. Entries whose
# oracle reads a staged local file (the ETL fixture CSVs) register their
# staging here, keeping package import side-effect-free: merely importing
# plans no longer writes to the temp dir (ADVICE r02).
_ORACLE_PREP: list[Callable[[], None]] = []


def _register(
    name: str,
    oracle: str | None,
    bench: bool = False,
    gate_priority: bool = False,
    oracle_scale: str | None = None,
):
    def deco(fn):
        CATALOG[name] = QuerySpec(name, fn, oracle, bench, oracle_scale)
        if gate_priority:
            _GATE_PRIORITY_DYNAMIC.append(name)
        return fn

    return deco


def _dsum(col, alias, scale=4):
    """Order-independent double sum via decimal (see module docstring)."""
    return F.sum(col.cast(f"decimal(30,{scale})")).cast("double").alias(alias)


def _sql_dsum(expr, alias, scale=4):
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE) AS {alias}"


# ===========================================================================
# Relational core (SURVEY S1-S7, P1-P5, F1-F6, O1-O4)
# ===========================================================================


@_register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum('l_quantity', 'sum_qty')},
           {_sql_dsum('l_extendedprice', 'sum_base_price')},
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) AS DECIMAL(30,6))), 2)
                AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter (pushed to parquet) -> hash agg
    with map-side partial aggregation. The flagship batch-agg query.

    sum_charge quantizes its exact scale-6 decimal sum to 2 dp (same
    HALF_UP round in both engines) BEFORE the double cast: at sf1 the
    scale-6 scaled integer passes 2^53 (sum ~2.8e10 * 1e6), where
    DuckDB's decimal->double conversion double-rounds while the JVM
    BigDecimal path is correctly rounded - the sf1 parity sweep
    caught the 1-ulp divergence. At 2 dp the scaled integer fits a
    double exactly through ~9e13, so both engines convert
    identically."""
    li = read_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc, "sum_disc_price"),
            F.round(
                F.sum((disc * (1 + F.col("l_tax"))).cast("decimal(30,6)")), 2
            )
            .cast("double")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "project_rename",
    """
    SELECT c_custkey AS cust_id, c_name AS cust_name,
           c_mktsegment AS segment, c_acctbal AS balance
    FROM customer WHERE c_acctbal > 0
    """,
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection + rename + simple predicate (the reference's
    extract shape, team_etl.py:31-36). Column pruning reaches the scan."""
    return (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_name").alias("cust_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("balance"),
        )
    )


@_register(
    "distinct_flags",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: full-row distinct (reference CompleteETL.py:22)."""
    return read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@_register(
    "dedup_first_order",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           o_totalprice AS first_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    bench=True,
)
def q_dedup_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: deterministic keep-first dedup - pandas drop_duplicates
    semantics with explicit ordering (SURVEY hard part)."""
    orders = read_table(spark, sf_dir, "orders")
    first = dedup_keep_first(orders, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return first.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_totalprice").alias("first_totalprice"),
    )


@_register(
    "dedup_composite",
    """
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_orderkey, l_partkey
        ORDER BY l_linenumber, l_suppkey) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q_dedup_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: composite-key first-seen dedup (reference pitstop/laps sets,
    CompleteETL.py:431-444)."""
    li = read_table(spark, sf_dir, "lineitem")
    return dedup_keep_first(
        li, ["l_orderkey", "l_partkey"], ["l_linenumber", "l_suppkey"]
    ).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    )


@_register(
    "top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O3: global top-k -> TakeOrderedAndProject (per-partition heap,
    k-row driver merge; no full sort at any scale)."""
    return (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@_register(
    "date_parts",
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           {_sql_dsum('o_totalprice', 'total')}
    FROM orders GROUP BY 1, 2
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/C9: date-part derivation (reference date_etl.py:27-32) feeding
    an aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            "o_totalprice",
        )
        .groupBy("order_year", "order_month")
        .agg(F.count("*").alias("n_orders"), _dsum(F.col("o_totalprice"), "total"))
    )


@_register(
    "order_age_years",
    """
    SELECT CAST(2026 - year(o_orderdate) AS INT) AS age,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def q_order_age_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: the reference's year-subtraction age semantics
    (driver_etl.py:47-49), pinned to 2026 for determinism."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            (F.lit(2026) - F.year("o_orderdate")).cast("int").alias("age")
        )
        .groupBy("age")
        .agg(F.count("*").alias("n_orders"))
    )


# ===========================================================================
# Joins (SURVEY J1-J3)
# ===========================================================================


@_register(
    "star_join_revenue",
    f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    bench=True,
)
def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the star FK multi-join (TPC-H Q5 shape). Bounded dims
    (nation/region - fixed size at any sf) carry pinned broadcast
    hints; customer GROWS with sf (1.5B rows at sf10000) so it goes
    through the size gate and falls back to AQE's runtime choice at
    scale. orders is also size-gated: at bench scale it fits the
    broadcast budget, removing the lineitem-orders shuffle entirely
    (the plan's only Exchange is the final group-by); at real scale
    the gate refuses and AQE owns the fact-fact strategy. This is the
    10-way wide-table reconstruction pattern (SURVEY section 1.5) at
    benchmark scale."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = (
        li.join(broadcast_if_small(orders), li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(_dsum(disc, "revenue"), F.count("*").alias("n_items"))


@_register(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: integrity/coverage anti-join (the reference's commented-out
    FK trigger, DDL Final.sql:140-162): customers with no orders."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return integrity_violations(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select("c_custkey", "c_name")


@_register(
    "semi_join_customers",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-side of J2 as a semi-join (never duplicates the child)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@_register(
    "upsert_orders",
    f"""
    WITH incoming AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    ), merged AS (
      SELECT * FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM incoming i
                        WHERE i.o_orderkey = o.o_orderkey)
      UNION ALL SELECT * FROM incoming
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           {_sql_dsum('o_totalprice', 'total')}
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: the merge-on-key upsert (reference's orphaned MERGE INTO
    experiment). Incoming = repriced 1998+ orders; merged snapshot is
    summarized so the check stays small."""
    orders = read_table(spark, sf_dir, "orders")
    incoming = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    merged = upsert(orders, incoming, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), _dsum(F.col("o_totalprice"), "total")
    )


@_register(
    "normalize_keepfirst",
    """
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment
    FROM (
      SELECT c.*, ROW_NUMBER() OVER (
        PARTITION BY c.c_custkey ORDER BY o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn = 1
    """,
)
def q_normalize_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature move at scale: recover a dimension from
    a pre-joined wide table by key dedup (wide -> star normalization,
    SURVEY section 0 step 2). Wide = orders x customer; the customer
    dim is re-derived with deterministic keep-first."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    wide = orders.join(customer, orders.o_custkey == customer.c_custkey)
    dim = dedup_keep_first(wide, ["c_custkey"], ["o_orderkey"])
    return dim.select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")


# ===========================================================================
# Windows / rollups (SURVEY 2.6-2.7)
# ===========================================================================


@_register(
    "running_customer_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS order_seq
    FROM orders
    """,
    bench=True,
)
def q_running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY 2.6: the standings recomputation pattern - cumulative sum
    per entity over its timeline (DriverStandings.points semantics)."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@_register(
    "rank_in_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def q_rank_in_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY 2.6: per-group ranking (Results.rank / fastest-lap
    semantics) with a top-3 filter."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
    )


@_register(
    "rollup_status_priority",
    f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           {_sql_dsum('o_totalprice', 'total')}
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard-style subtotal rollup (the Power BI matrix pages,
    SURVEY 2.6 engine extras). Grouping-set nulls labeled 'ALL'."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), _dsum(F.col("o_totalprice"), "total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


@_register(
    "pivot_status",
    f"""
    SELECT o_orderpriority AS priority,
           {_sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 'total_O')},
           {_sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 'total_F')},
           {_sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", 'total_P')}
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (status columns per priority) - expressed as conditional
    aggregation so the output names are pinned on both engines."""
    orders = read_table(spark, sf_dir, "orders")

    def bucket(status: str):
        return _dsum(
            F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")),
            f"total_{status}",
        )

    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        bucket("O"), bucket("F"), bucket("P")
    )


# ===========================================================================
# Events: time ops, windows, sessionization (SURVEY C1-C5, M6)
# ===========================================================================


@_register(
    "events_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           COUNT(*) AS n_events,
           {_sql_dsum('value', 'total_value', 6)},
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
             AS avg_value
    FROM events GROUP BY 1, 2
    """,
    bench=True,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate over the event stream (batch twin of
    the streaming pipeline in streaming/pipeline.py)."""
    ev = read_table(spark, sf_dir, "events")
    dec_sum = F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_sum.alias("total_value"),
            (dec_sum / F.count("*")).alias("avg_value"),
        )
    )


@_register(
    "sessionize",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  > 1800000000 OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap flag + running sum = session ids, then
    per-user session counts. Gap compare in integer microseconds so
    both engines agree exactly."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@_register(
    "gap_time_parse",
    """
    SELECT event_id, gap_str,
           CAST(SUBSTRING(gap_str, 2) AS DOUBLE) AS gap_seconds
    FROM (
      SELECT event_id, printf('%+.3f', value) AS gap_str FROM events
    ) WHERE starts_with(gap_str, '+')
    """,
)
def q_gap_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: the reference's '+ss.mmm' race-gap time form (time_etl.py:
    11-27) - gap strings synthesized from event values with C-printf
    formatting (identical in both engines), then parsed back natively."""
    from formula1_etl_analytics_project_spark.functions.cleaning import (
        parse_race_time_seconds,
    )

    ev = read_table(spark, sf_dir, "events")
    gapped = ev.select(
        "event_id", F.format_string("%+.3f", F.col("value")).alias("gap_str")
    ).filter(F.col("gap_str").startswith("+"))
    return gapped.withColumn(
        "gap_seconds", parse_race_time_seconds(F.col("gap_str"))
    )


# ===========================================================================
# Documents: text analysis + dedup family (M6 training-data ops)
# ===========================================================================

_SQL_TOKENS = (
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
)
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
_SQL_STOP_RATIO = (
    f"CASE WHEN len({_SQL_TOKENS}) > 0 THEN "
    f"CAST(len(list_filter({_SQL_TOKENS}, t -> list_contains({_SQL_STOPLIST}, lower(t)))) AS DOUBLE)"
    f" / len({_SQL_TOKENS}) ELSE 0.0 END"
)
_SQL_PUNCT_RATIO = (
    "CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
    " / length(text) ELSE 0.0 END"
)
# The SQL twin of functions.text.quality_score - single source of
# truth for every oracle that restates the heuristic quality formula
# (doc_quality, source_datasheet, diversity_capped_topk, ...); editing
# the weights or stoplist in one copy but not another would silently
# desynchronize oracle hashes.
_SQL_QUALITY = (
    "ROUND(LEAST(length(text) / 500.0, 1.0) * 0.4"
    f" + LEAST({_SQL_STOP_RATIO} * 4, 1.0) * 0.4"
    f" + (1 - LEAST({_SQL_PUNCT_RATIO} * 5, 1.0)) * 0.2, 6)"
)
# The SQL twin of tokens(normalize(text)) - the lowercased,
# whitespace-collapsed tokenizer shared by the winnow/zipf/minhash/
# source-similarity oracles.
_SQL_NORM_TOKS = (
    "list_filter(string_split("
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),"
    " x -> x <> '')"
)


@_register(
    "doc_token_stats",
    f"""
    SELECT doc_id, CAST(len({_SQL_TOKENS}) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS text_len, lang
    FROM documents
    """,
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + length accounting."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_tokens"),
        F.length("text").cast("int").alias("text_len"),
        "lang",
    )


@_register(
    "doc_quality",
    f"""
    SELECT doc_id, {_SQL_QUALITY} AS quality
    FROM documents
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / stopword density /
    punctuation noise) - the filter stage of a training-data pipeline."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id", quality_score("text").alias("quality"))


@_register(
    "doc_lang_guess",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_SQL_STOP_RATIO} >= 0.08 THEN 'en' ELSE 'other' END
             AS lang_guess
    FROM documents
    """,
)
def q_doc_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language ID heuristic."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id", "lang", lang_guess("text").alias("lang_guess"))


@_register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
             AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized text."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id", fingerprint("text").alias("fingerprint"))


@_register(
    "exact_dedup_docs",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
             AS fingerprint,
           MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1 HAVING COUNT(*) >= 1
    """,
    bench=True,
)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via fingerprint hash-groupBy: keeper = min doc_id.
    The distributed form of D1 for documents (no full-text shuffle -
    only the 32-byte fingerprint moves). No spread repartition: md5 is
    cheap, so shuffling full text to parallelize it costs 2x more than
    it saves (measured at sf0.1)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


_SQL_SHINGLES = """
      CASE WHEN len(toks) >= 3 THEN
        list_distinct(list_transform(generate_series(1, len(toks) - 2),
          i -> array_to_string(toks[i:i+2], ' ')))
      ELSE [array_to_string(toks, ' ')] END
"""


@_register(
    "minhash_lsh_pairs",
    f"""
    WITH normed AS (
      SELECT doc_id,
             list_filter(string_split(
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
               x -> x <> '') AS toks
      FROM documents
    ), shingled AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh FROM normed
    ), hp AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1,
             list_transform(sh, s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS h2
      FROM shingled
    ), sigs AS (
      SELECT doc_id, sh,
             [list_aggregate(list_transform(generate_series(1, len(h1)),
                 j -> (h1[j] + h * h2[j]) % 4294967296), 'min')
              FOR h IN [0,1,2,3,4,5,6,7]] AS mh
      FROM hp
    ), banded AS (
      SELECT doc_id, sh, UNNEST([
        '0|' || mh[1] || '|' || mh[2],
        '1|' || mh[3] || '|' || mh[4],
        '2|' || mh[5] || '|' || mh[6],
        '3|' || mh[7] || '|' || mh[8]]) AS band_key
      FROM sigs
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.sh AS sh_a, r.sh AS sh_b
      FROM banded l JOIN banded r
        ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jaccard
    FROM cand
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
    """,
    bench=True,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection: shingle -> 8 minhashes
    from ONE md5 per shingle (Kirsch-Mitzenmacher double hashing:
    g_i = (h1 + i*h2) mod 2^32 over the md5's two 32-bit words)
    -> 4 bands -> within-bucket candidate join -> exact Jaccard >= 0.5.
    The O(N^2) pair space never materializes - only same-band pairs."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return minhash_lsh_pairs(docs, jaccard_threshold=0.5)


# ===========================================================================
# Embeddings: similarity search + near-dup (M6)
# ===========================================================================

_SQL_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_SQL_DOT.format(a=a, b=b)} / "
        f"({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)}))"
    )


@_register(
    "ann_bruteforce",
    f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_sql_cosine('e.embedding', 'q.qvec')}, 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id LIMIT 10
    """,
    bench=True,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 - the ANN correctness
    baseline. Scan + narrow map + TakeOrderedAndProject; zero shuffle
    of vector payloads."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return brute_force_topk(emb, query_id=0, k=10)


@_register(
    "ann_ivf",
    f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 8
    ), assigned AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cent_id
               ) AS rn
        FROM embeddings e CROSS JOIN cent c)
      WHERE rn = 1
    ), q AS (
      SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
    ), qcells AS (
      SELECT c.cent_id
      FROM embeddings e CROSS JOIN cent c
      WHERE e.vec_id = 0
      ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cent_id
      LIMIT 2
    )
    SELECT a.vec_id,
           ROUND({_sql_cosine('a.embedding', 'q.qvec')}, 6) AS cos_sim
    FROM assigned a, q
    WHERE a.cell IN (SELECT cent_id FROM qcells) AND a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id LIMIT 10
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN: probe 2 of 8 cells instead of the full corpus -
    the scale path (partition-pruned scan at 100 TB). The whole
    pipeline is deterministic (sampled centroids, argmax assignment
    with cent_id tie-break, probe order, top-k tie-break), so the
    oracle reproduces the approximate search EXACTLY - approximation
    here is a property of the algorithm, not nondeterminism."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return ivf_topk(emb, query_id=0, k=10, n_cells=8)


@_register(
    "lsh_buckets",
    f"""
    WITH hp AS (
      SELECT vec_id AS hp_id, embedding AS hp_vec
      FROM embeddings ORDER BY vec_id LIMIT 4
    )
    SELECT e.vec_id,
           string_agg(
             CASE WHEN {_SQL_DOT.format(a='e.embedding', b='hp.hp_vec')} >= 0
                  THEN '1' ELSE '0' END, ''
             ORDER BY hp.hp_id) AS bucket
    FROM embeddings e CROSS JOIN hp
    GROUP BY e.vec_id
    """,
)
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: bucket = concatenated sign bits
    of the dot product against each hyperplane (deterministic
    hyperplanes - the 4 lowest-id vectors - so the oracle reproduces
    the assignment). The bucket column is the shuffle/partition key for
    LSH-based ANN: same-bucket vectors are collision candidates."""
    from formula1_etl_analytics_project_spark.operators.similarity import lsh_bucket

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    hp = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("hp_id"), F.col("embedding").alias("hp_vec"))
    )
    return lsh_bucket(emb, hp).select("vec_id", "bucket")


@_register(
    "embedding_neardup",
    f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 8
    ), assigned AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cent_id
               ) AS rn
        FROM embeddings e CROSS JOIN cent c)
      WHERE rn = 1
    )
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           ROUND({_sql_cosine('l.embedding', 'r.embedding')}, 6) AS cos_sim
    FROM assigned l JOIN assigned r
      ON l.cell = r.cell AND l.vec_id < r.vec_id
    WHERE ROUND({_sql_cosine('l.embedding', 'r.embedding')}, 6) >= 0.4
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within IVF cells. The
    oracle reproduces the deterministic cell assignment (argmax cosine
    against the 8 lowest-id centroid samples, ties to lower cent_id),
    so the cell-blocked candidate generation is checked exactly.
    Threshold 0.4 is tuned to the synthetic corpus (max pairwise
    cosine ~0.51) so the check is non-vacuous."""
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return embedding_neardup_pairs(emb, threshold=0.4, n_cells=8)


# ===========================================================================
# Public API
# ===========================================================================

# The driver's correctness gate samples the FIRST 50 keys of ``queries()``
# in iteration order (verified in VERDICT.md round 2). Registration order
# alone left 44 entries without a driver correctness row after two rounds,
# so the gate sample is rotated by a LEDGER built from the driver's own
# CORRECTNESS_r*.json artifacts at the repo root: entries that have never
# had an all-green driver row lead (oldest registration first), then
# green entries ordered by how stale their last green row is. Every entry
# stays in the dict — local parity tests (tests/test_oracle_parity.py)
# still sweep all of them — this only chooses WHICH 50 the driver
# cross-checks against DuckDB this round. The ledger is recomputed from
# the artifacts every import, so the rotation self-maintains as rounds
# accumulate; no hand-kept list to go stale.
#
# A small static pin fronts verdict-named targets; gate_order() filters
# pins through the ledger, so each drops out once it earns a green row.
# Round-2 targets (denormalize_wide, session_window_agg) went green in
# r03 and now self-evict. Round-3 targets: the 12 latent-HUGEINT oracles
# whose SUM outputs were cast to BIGINT this round (verdict task 1 —
# confirm the fix with a driver row, same bug as the 4 r03-red entries)
# and the CDC-chunk + product-quantization pairs (verdict task 5).
_GATE_PIN: tuple[str, ...] = (
    "denormalize_wide",
    "session_window_agg",
    "mad_outliers",
    "embedding_curation_pipeline",
    "skew_report",
    "ab_test_ztest",
    "chi2_independence",
    "doc_entropy",
    "twap_user_value",
    "kl_divergence_sources",
    "covered_time_per_user",
    "unigram_logprob_score",
    "mixture_resample_docs",
    "time_travel_diff",
    "cdc_chunk_dedup",
    "cdc_chunk_pairs",
    "pq_codes",
    "pq_adc_recall",
)


def _driver_ledger() -> dict[str, int]:
    """Entry name -> latest round with an all-three-green driver row."""
    import json
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def gate_order() -> list[str]:
    """Catalog names in driver-gate order: rotation targets first.

    Never-green entries (per the CORRECTNESS_r*.json ledger) come first
    in registration order, with explicitly pinned and newly-registered
    ``gate_priority`` entries ahead of the backlog; already-green entries
    follow, stalest green row first. The pin/priority front block is
    itself filtered through the ledger: once a pinned entry has a green
    driver row it drops back into the stale-rotation pool, so every one
    of the driver's 50 gate slots lands on a never-checked entry (the
    round-3 verdict caught the unfiltered front block re-spending 31
    slots on already-green entries).
    """
    ledger = _driver_ledger()
    reg_index = {n: i for i, n in enumerate(CATALOG)}
    front = [n for n in _GATE_PIN if n in CATALOG and n not in ledger]
    front += [
        n
        for n in _GATE_PRIORITY_DYNAMIC
        if n in CATALOG and n not in front and n not in ledger
    ]
    rest = [n for n in CATALOG if n not in front]
    # (0, reg) for never-green, (round, reg) for green -> never-green
    # sorts ahead, then stalest green, registration order as tiebreak.
    rest.sort(key=lambda n: (ledger.get(n, 0), reg_index[n]))
    return front + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: CATALOG[name].spark for name in gate_order()}


def oracle_sql() -> dict[str, str]:
    for prep in _ORACLE_PREP:
        prep()
    return {
        name: CATALOG[name].oracle
        for name in gate_order()
        if CATALOG[name].oracle
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: s.spark for n, s in CATALOG.items() if s.bench}
