"""Round-16 catalog entries (round 4, session 3) - 3 entries:

* `ngram_novelty` - per-document novelty against the corpus in
  ingestion order: the fraction of a document's distinct 3-grams that
  the document itself INTRODUCED (no earlier doc_id contains them).
  The freshness/staleness curation signal for incremental crawls -
  `dup_ngram_fraction` measures how duplicated a doc is, this
  measures how much NEW text it contributes.
* `stream_static_join` - Structured Streaming's stream-STATIC join
  (micro-batch joins against a static dimension), the enrichment
  pattern `stream_stream_join` does not cover; final state gated
  against the batch SQL twin.
* `sql_surface_q9` - TPC-H Q9 shape (product-type profit): a 5-way
  join where the aggregated measure MIXES columns from two different
  tables (lineitem price x part cost), adapted to this schema's
  columns.

Portability rules as in plans/catalog.py: 3-grams collapse to 60-bit
md5-derived BIGINT keys before any shuffle (same prefix both
engines), COUNT/SUM outputs cast to BIGINT in the oracle, the
novelty ratio left as the raw int/int IEEE quotient (bit-identical
cross-engine; re-rounding is the half-way-tie trap documented in
catalog_r14).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_dsum,
    _dsum,
)
from formula1_etl_analytics_project_spark.plans.catalog_ext import _event_stream
from formula1_etl_analytics_project_spark.sources.readers import (
    read_table,
    register_views,
)

# ===========================================================================
# N-gram novelty: what did this document contribute that is new?
# ===========================================================================

_NOVELTY_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS ts
  FROM documents
), g AS (
  SELECT doc_id,
         ts[i] || chr(31) || ts[i + 1] || chr(31) || ts[i + 2] AS gram
  FROM tok, UNNEST(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
), dg AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gk
  FROM g
), fs AS (
  SELECT gk, MIN(doc_id) AS first_doc FROM dg GROUP BY gk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novel_frac
FROM dg JOIN fs USING (gk)
GROUP BY doc_id
"""


@_register(
    "ngram_novelty",
    _NOVELTY_SQL,
    gate_priority=True,
    bench=True,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in corpus (doc_id = ingestion)
    order: of a document's DISTINCT 3-grams, the fraction whose
    global first occurrence IS this document. An incremental crawl
    uses this to decide whether a recrawled page still adds training
    signal - the dual of `dup_ngram_fraction` (which asks how much of
    a doc is copied; this asks how much of it is contributed first).
    Documents shorter than 3 tokens drop out consistently in both
    engines (the empty gram explode).

    First-seen is MIN(doc_id) per gram - a pure aggregate, not a
    window over arrival order, so the signal is deterministic and
    map-side combinable.

    Shape at 100 TB: 3-grams collapse to 60-bit md5-derived longs
    executor-side BEFORE the distinct and the first-seen aggregate -
    the gram strings never shuffle (the `dup_ngram_fraction` /
    `source_boilerplate_ngrams` discipline). Two hash shuffles on
    8-byte keys ((doc, gram) distinct, then gram min) plus the join
    back, all map-side combinable; the per-doc finish is a narrow
    count. The int/int quotient is emitted unrounded - bit-identical
    across engines.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    ts = tokens("text")
    toks = docs.select("doc_id", ts.alias("ts")).filter(F.size("ts") >= 3)
    dg = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 3),"
                    " i -> concat_ws(chr(31), ts[i], ts[i + 1], ts[i + 2]))"
                )
            ).alias("gram"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("long")
            .alias("gk"),
        )
        .distinct()
        # Two consumers (the first-seen aggregate and the join probe)
        # would otherwise each re-scan the corpus and re-explode the
        # grams - persist so the tokenize+hash+distinct pass runs once
        # (the minhash signature-index discipline).
        .persist()
    )
    fs = dg.groupBy("gk").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        dg.join(fs, "gk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            (
                F.sum(novel).cast("double")
                / F.count("*").cast("double")
            ).alias("novel_frac"),
        )
    )


# ===========================================================================
# Stream-static join (micro-batch enrichment against a static dimension)
# ===========================================================================

_STREAM_STATIC_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start,
       c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_sql_dsum('value', 'total_value', 6)}
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


@_register(
    "stream_static_join",
    _STREAM_STATIC_SQL,
    gate_priority=True,
    bench=True,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join - the enrichment pattern every production
    stream runs (attach dimension attributes to events as they
    arrive) and the one streaming shape no earlier entry covers
    (`stream_stream_join` needs state + watermarks on both sides; a
    static side needs neither - it is simply joined inside every
    micro-batch, broadcast when small). The events table is staged as
    files and consumed with maxFilesPerTrigger=1, each micro-batch
    hash-joins the static customer dimension, and the windowed
    per-nation aggregate's FINAL state must equal the batch SQL twin
    run over the same inputs - the batch/stream unification gate.

    Shape at 100 TB: the static dimension is loaded once per query
    (not per batch) and broadcast into each micro-batch's join; the
    streaming aggregate state is |hours x nations| rows. The
    dimension refresh story (static side is snapshot-fixed for the
    query's lifetime) is exactly why `stream_incremental_upsert`
    exists for slowly-changing sides.
    """
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 years")  # complete-mode: keep all
        .join(customer, stream["user_id"] == customer["c_custkey"])
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "c_nationkey"
        )
        .agg(
            F.count("*").alias("n_events"),
            _dsum(F.col("value"), "total_value", 6),
        )
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"SELECT window_start, c_nationkey, n_events, total_value "
        f"FROM {name}"
    )


# ===========================================================================
# TPC-H Q9 shape: profit with a two-table measure expression
# ===========================================================================

_Q9_SQL = """
SELECT n_name AS supp_nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {profit}
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%g%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
""".format(
    profit=_sql_dsum(
        "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity",
        "profit",
    )
)


@_register(
    "sql_surface_q9",
    _Q9_SQL,
    gate_priority=True,
)
def q_sql_surface_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): a
    5-way join whose aggregated measure mixes columns from TWO tables
    (lineitem revenue minus part cost x quantity) - the expression
    cannot be computed until after the part join, so column pruning
    must carry p_retailprice through the join while the LIKE filter
    prunes part rows first. Adapted to this schema (p_retailprice as
    the unit cost; the reference column set has no ps_supplycost).
    Identical SQL text in both engines.

    Shape at 100 TB: part (LIKE-filtered), supplier, and nation
    broadcast; lineitem joins orders on orderkey as the one fact-fact
    hash join. The LIKE '%g%' cannot push to parquet as a range but
    does evaluate scan-side before the join. Profit terms are per-row
    IEEE doubles summed through decimal - order-independent.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q9_SQL)
