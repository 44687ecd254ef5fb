"""Round-18 catalog entries (round 5):

* `sql_surface_q12` / `sql_surface_q14` - the two conditional-
  aggregate TPC-H queries the round-4 verdict flagged as
  claimed-by-shape only (catalog_r17's mapping note); literal
  entries close the "Q1-Q22 literal except the 4 partsupp-blocked"
  statement exactly.
* `observed_metrics_gate` - in-flight data-quality metrics via
  ``DataFrame.observe`` (CollectMetrics): quality counters computed
  DURING the business query's one pass, not by a second scan.
* `arrow_vector_stats` - ``mapInArrow`` columnar UDF over the
  embedding corpus: the zero-copy Arrow batch path, completing the
  engine's Python-UDF matrix (row UDF, pandas UDF, grouped /
  cogrouped applyInPandas, mapInPandas, applyInPandasWithState,
  mapInArrow).
* `rrf_fusion` - reciprocal-rank fusion (k=60) of a lexical and a
  semantic retrieval arm: the hybrid-search combiner over the
  catalog's sparse (`bm25_doc_scores`) and dense (`ann_bruteforce`)
  scorer shapes; both arms end in TakeOrderedAndProject and the
  fusion runs on k-row frames.
* `k_anonymity_audit` - k-anonymity / l-diversity release gate over
  structured quasi-identifier columns: per (nationkey, mktsegment)
  equivalence class, its size and sensitive-value diversity with
  pass/fail flags - one map-side-combinable aggregate, the privacy
  sibling of `pii_redact_docs`.
* `benford_digit_audit` - Benford first-digit screen over order
  totals (fraud / synthetic-batch detection): digit from the exact
  integer part, expectations injected as Python-computed literals
  into both twins (log10 is transcendental - neither engine computes
  it), one map-side-combinable aggregate to a 9-row table.
* `t_closeness_audit` - the triad's distribution check: per class,
  |p_sensitive - p_global| (variational distance, exact for a binary
  sensitive attribute) with the global distribution from an
  empty-OVER window on the bounded class table, never the corpus.
* `k_anonymity_generalize` - one iteration of the remediation loop:
  failing classes coarsen their finest QI column (segment -> 'ALL')
  and merge at nation level; the loop re-runs on the bounded class
  table, so the corpus is scanned exactly once.
* `prf_query_expansion` - pseudo-relevance feedback (RM3 shape):
  the lexical top-20 docs are mined for expansion terms ranked by
  in-feedback frequency with corpus document-frequency as the
  discriminativeness tiebreak; all-integer ranking, feedback set and
  candidate list broadcast into the corpus token stream.

Both are SQL-surface entries: the SAME SQL text runs through
`spark.sql` (over registered temp views) and the DuckDB oracle, so
the entry pins the LANGUAGE shape, not a DataFrame translation.

Q12 column note: the driver testdata's lineitem carries no
l_shipmode / l_commitdate / l_receiptdate (reference DDL ships them;
TESTDATA.md's slice does not), so the literal spec text cannot bind.
The entry keeps Q12's exact clause skeleton - two-arm CASE counts on
o_orderpriority (verbatim from the spec), a small IN-list filter on
the grouping column, a cross-column date inequality, and a one-year
date window - with l_returnflag standing in for l_shipmode and
l_shipdate > o_orderdate for the late-line commit/receipt compare.
Q14 is fully literal (p_type LIKE 'PROMO%' binds as spec'd).

Portability rules as in plans/catalog.py: revenue terms are rounded
to DECIMAL(30,4) per row before the exact decimal sum, ratios divide
as IEEE doubles only at the end, counts cast to BIGINT (HUGEINT
trap), date window bounds are TIMESTAMP literals (the parquet date
columns are timestamp_ntz).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import (
    read_table,
    register_views,
)

# ===========================================================================
# TPC-H Q12: shipping-priority two-arm conditional counts
# ===========================================================================

_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       OR o_orderpriority = '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                      AND o_orderpriority <> '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('R', 'A')
  AND l_shipdate > o_orderdate
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register(
    "sql_surface_q12",
    _Q12_SQL,
    gate_priority=True,
)
def q_sql_surface_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): per mode, count
    lines from high-priority vs low-priority orders - the canonical
    two-arm conditional aggregate (one pass, both arms from the same
    CASE column; the naive translation runs the join twice). Column
    mapping per the module docstring: the testdata lacks l_shipmode /
    l_commitdate / l_receiptdate, so l_returnflag carries the
    IN-list + GROUP BY role and l_shipdate > o_orderdate the
    cross-column late-line compare; the priority CASE arms are
    verbatim spec text.

    Shape at 100 TB: the single-column predicates (IN-list + one-year
    window) push into the parquet scan (pinned in
    tests/test_plan_quality_r18.py); the cross-column compare filters
    post-join rows before the aggregate; the join shuffles on the
    orderkey and the aggregate is map-side combinable to |modes| x 2
    cells. Nothing in the plan grows faster than the filtered fact.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q12_SQL)


# ===========================================================================
# TPC-H Q14: promotion revenue share (conditional-ratio aggregate)
# ===========================================================================

_Q14_SQL = """
SELECT 100.0
       * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(30,4))
                       ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(30,4))) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


@_register(
    "sql_surface_q14",
    _Q14_SQL,
    gate_priority=True,
)
def q_sql_surface_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), literal: the share of one month's
    revenue from PROMO-typed parts - a conditional-RATIO aggregate
    where numerator and denominator come out of ONE pass (two CASE
    sums), never two scans. Both sums are exact decimals (per-row
    terms rounded to DECIMAL(30,4), so partial-sum order cannot move
    the total in either engine); the division happens once, double vs
    double, bit-identical IEEE - the catalog's standard cross-engine
    ratio discipline.

    Shape at 100 TB: the one-month l_shipdate window prunes the fact
    scan (pushdown pinned in tests/test_plan_quality_r18.py); part is
    the small side - Catalyst broadcasts it at testdata scale, and at
    warehouse scale the partkey join co-partitions; output is a
    single cell.
    """
    register_views(spark, sf_dir)
    return spark.sql(_Q14_SQL)


# ===========================================================================
# Observed metrics: data-quality counters without a second scan
# ===========================================================================

_OBSERVE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       SUM(l_quantity) AS sum_qty,
       CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
         AS n_returned,
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_groups
FROM lineitem
"""


@_register(
    "observed_metrics_gate",
    _OBSERVE_SQL,
    gate_priority=True,
)
def q_observed_metrics_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters collected IN-FLIGHT via
    ``DataFrame.observe`` (a CollectMetrics node): row count, quantity
    total and returned-line count ride along the business query's one
    pass over the fact table - the pipeline pays ZERO extra scans for
    its quality dashboard. The alternative every naive pipeline ships
    - re-aggregating the input for each metric - doubles (or worse)
    the 100 TB read; observe's accumulator-style metrics are computed
    by the same tasks that do the business work.

    The entry runs a real consumer (the returnflag group count) on
    the observed frame, then emits one row: the three observed
    metrics plus the consumer's group count. All values are integer-
    exact (counts, and a sum of integral quantities in doubles), so
    cross-engine equality is exact regardless of partial-sum order.

    Spark surface: ``pyspark.sql.Observation`` + ``df.observe`` -
    plan pinned to contain the CollectMetrics node and only ONE scan
    of lineitem (tests/test_plan_quality_r18.py).
    """
    from pyspark.sql import Observation

    li = read_table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.when(F.col("l_returnflag") == "R", F.lit(1))).alias(
            "n_returned"
        ),
    )
    biz = observed.groupBy("l_returnflag").agg(F.count("*").alias("cnt"))
    n_groups = biz.count()  # the one action: fills the observation too
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(m["sum_qty"]),
                int(m["n_returned"]),
                int(n_groups),
            )
        ],
        "n_rows bigint, sum_qty double, n_returned bigint, n_groups bigint",
    )


# ===========================================================================
# mapInArrow: the zero-copy columnar UDF path
# ===========================================================================

_ARROW_STATS_SQL = """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(list_position(embedding, list_aggregate(embedding, 'max'))
            AS BIGINT) AS argmax_idx
FROM embeddings
"""


def _arrow_vector_stats_fn(batches):
    """Arrow-batch kernel: per vector, the positive-component count and
    the 1-based argmax index. Works on the raw Arrow buffers - the
    list column flattens to one contiguous float32 array, reshaped and
    reduced with vectorized numpy; no pandas objects, no per-row
    Python. Ties and comparisons are exact float ops, so results are
    bit-identical to the DuckDB list-function oracle."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        col = batch.column("embedding")
        if isinstance(col, pa.ChunkedArray):  # pragma: no cover
            col = col.combine_chunks()
        vals = col.flatten().to_numpy(zero_copy_only=False)
        offs = col.offsets.to_numpy(zero_copy_only=False)
        lens = np.diff(offs)
        if len(set(lens.tolist())) == 1:
            mat = vals[offs[0] : offs[-1]].reshape(n, int(lens[0]))
            n_pos = (mat > 0).sum(axis=1).astype(np.int64)
            argmax1 = mat.argmax(axis=1).astype(np.int64) + 1
        else:  # ragged fallback, still exact
            n_pos = np.empty(n, dtype=np.int64)
            argmax1 = np.empty(n, dtype=np.int64)
            for i in range(n):
                row = vals[offs[i] : offs[i + 1]]
                n_pos[i] = int((row > 0).sum())
                argmax1[i] = int(row.argmax()) + 1
        yield pa.record_batch(
            [pa.array(ids), pa.array(n_pos), pa.array(argmax1)],
            names=["vec_id", "n_pos", "argmax_idx"],
        )


@_register(
    "arrow_vector_stats",
    _ARROW_STATS_SQL,
    gate_priority=True,
)
def q_arrow_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` columnar UDF: per embedding, the positive-
    component count and 1-based argmax index, computed directly on the
    Arrow record batches - float32 buffers flattened and reduced with
    vectorized numpy, never converted to pandas objects. This is the
    fourth and fastest rung of the Python-UDF ladder (row UDF ->
    pandas UDF -> mapInPandas -> mapInArrow): for numeric-array
    kernels the pandas round-trip materializes every list cell as a
    Python/numpy object, while Arrow hands over the contiguous child
    buffer zero-copy - the difference between O(rows) object churn
    and one reshape at 100 TB.

    Only exact operations cross the boundary (comparisons, integer
    counts, first-wins argmax - numpy and DuckDB's list_position both
    take the first maximum), so the oracle matches bit-exactly with
    no rounding discipline needed.

    Shape at 100 TB: embarrassingly parallel one-pass map; the plan
    is Scan -> MapInArrow with no exchange
    (tests/test_plan_quality_r18.py pins it).
    """
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return emb.select("vec_id", "embedding").mapInArrow(
        _arrow_vector_stats_fn,
        "vec_id bigint, n_pos bigint, argmax_idx bigint",
    )


# ===========================================================================
# Prefix-filtered set-similarity join, ids-then-fetch form (the 100 TB path)
# ===========================================================================


@_register(
    "prefix_jaccard_pairs_df",
    None,  # set below: shares prefix_jaccard_pairs' oracle verbatim
    bench=True,
)
def q_prefix_jaccard_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-ordered / join-ids-then-fetch form of the exact
    set-similarity self-join (`operators/dedup.py prefix_jaccard_pairs
    order="df"`): prefixes are built from the RAREST shingles
    (document-frequency ascending - the AllPairs/PPJoin ordering), the
    candidate join ships ONLY (id, n, tok) triples, and the shingle
    arrays are fetched afterwards by two key joins against the
    persisted base for the exact verify.

    This is the network-priced deployment's form of the operator: the
    round-5 shuffle audit (SCALING.md) measured the default lex form
    carrying its arrays through the prefix exchange at 289 MiB for
    6 MiB of input at sf0.1, vs 3.4 MiB for this shape - local
    wall-clock prefers lex (2.9s vs 1.7s; exchange bytes are ~free in
    one host), cluster viability requires this one. Registering it as
    its own oracle-checked entry value-verifies the 100 TB path, not
    just the local default: results are identical BY THEOREM (both
    orders are lossless for any fixed total order) and now by driver
    gate. Shares prefix_jaccard_pairs' oracle SQL verbatim.
    """
    from formula1_etl_analytics_project_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return prefix_jaccard_pairs(docs, order="df")


def _wire_prefix_df_oracle() -> None:
    from formula1_etl_analytics_project_spark.plans.catalog import CATALOG
    from formula1_etl_analytics_project_spark.plans.catalog_r5 import (
        _PREFIX_PAIRS_SQL,
    )

    from formula1_etl_analytics_project_spark.plans.catalog_r5 import (
        _PREFIX_PAIRS_SQL_SCALE,
    )

    CATALOG["prefix_jaccard_pairs_df"].oracle = _PREFIX_PAIRS_SQL
    # the scale restatement IS this entry's own ordering (df-ascending,
    # ids-then-fetch) restated in DuckDB - see catalog_r5
    CATALOG["prefix_jaccard_pairs_df"].oracle_scale = _PREFIX_PAIRS_SQL_SCALE


_wire_prefix_df_oracle()


# ===========================================================================
# Count-min sketch: frequency estimation + the mergeability gate
# ===========================================================================

_CMS_D = 4  # hash rows
_CMS_W = 64  # buckets per row


def _sql_cms_hash(j: str, x: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({j} AS VARCHAR) || '|' "
        f"|| CAST({x} AS VARCHAR)), 1, 15))::BIGINT % {_CMS_W}"
    )


_CMS_SQL = f"""
WITH rows_j AS (
  SELECT l_partkey, j, {_sql_cms_hash('j', 'l_partkey')} AS bucket,
         l_orderkey % 2 AS half
  FROM lineitem CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1}))
                            AS j)
), cells AS (
  SELECT j, bucket, COUNT(*) AS c FROM rows_j GROUP BY j, bucket
), cells_half AS (
  SELECT j, bucket, half, COUNT(*) AS c FROM rows_j
  GROUP BY j, bucket, half
), cells_merged AS (
  SELECT j, bucket, SUM(c) AS c FROM cells_half GROUP BY j, bucket
), items AS (
  SELECT l_partkey, COUNT(*) AS true_cnt
  FROM lineitem GROUP BY l_partkey
  ORDER BY true_cnt DESC, l_partkey LIMIT 10
), est AS (
  SELECT i.l_partkey, i.true_cnt,
         MIN(c.c) AS est_cnt, MIN(m.c) AS est_merged
  FROM items i
  CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) g
  JOIN cells c
    ON c.j = g.j AND c.bucket = {_sql_cms_hash('g.j', 'i.l_partkey')}
  JOIN cells_merged m
    ON m.j = g.j AND m.bucket = {_sql_cms_hash('g.j', 'i.l_partkey')}
  GROUP BY i.l_partkey, i.true_cnt
)
SELECT l_partkey AS partkey,
       CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(est_cnt AS BIGINT) AS est_cnt,
       CAST(est_cnt >= true_cnt AS INT) AS never_underestimates,
       CAST(est_merged = est_cnt AS INT) AS merge_exact
FROM est
ORDER BY true_cnt DESC, partkey
"""


@_register(
    "countmin_sketch_gate",
    _CMS_SQL,
)
def q_countmin_sketch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation with its two provable
    invariants gated per item: the estimate NEVER underestimates
    (each of the d=4 hash rows upper-bounds the count; min of upper
    bounds is an upper bound), and the sketch is MERGEABLE (cells
    built on the two l_orderkey-parity halves and summed elementwise
    must estimate IDENTICALLY to the whole-corpus sketch - integer
    equality, not approximation). Completes the mergeable-sketch
    family: HLL re-aggregation (`sketch_rollup_gate`, distincts),
    approx_percentile (`approx_agg_gate`, quantiles), CMS here
    (frequencies) - the three sketches a 100 TB telemetry rollup
    actually ships.

    Everything is integer-exact (md5-derived buckets, integer counts,
    MIN over 4 cells), so the DuckDB twin matches bit-for-bit with no
    rounding discipline. The tracked items are the true top-10
    partkeys (total-order tie-break).

    Shape at 100 TB: the sketch build is ONE map-side-combinable
    aggregate producing d*w = 256 cells regardless of input size -
    the whole point of the sketch; the probe joins 10 items against a
    256-row broadcast. The d-way row expansion is a flatMap on the
    fact scan, shuffling only (j, bucket) partial counts.
    """
    li = read_table(spark, sf_dir, "lineitem", spread=True)

    def bucket(j_col, x_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", j_col.cast("string"), x_col.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    rows_j = li.select(
        "l_partkey", (F.col("l_orderkey") % 2).alias("half")
    ).select(
        "l_partkey",
        "half",
        F.explode(
            F.array(*[F.lit(j) for j in range(_CMS_D)])
        ).alias("j"),
    ).withColumn("bucket", bucket(F.col("j"), F.col("l_partkey")))
    cells = rows_j.groupBy("j", "bucket").agg(F.count("*").alias("c"))
    cells_half = rows_j.groupBy("j", "bucket", "half").agg(
        F.count("*").alias("c")
    )
    cells_merged = cells_half.groupBy("j", "bucket").agg(
        F.sum("c").alias("c")
    )
    items = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "l_partkey")
        .limit(10)
    )
    probes = items.select(
        "l_partkey",
        "true_cnt",
        F.explode(
            F.array(*[F.lit(j) for j in range(_CMS_D)])
        ).alias("j"),
    ).withColumn("bucket", bucket(F.col("j"), F.col("l_partkey")))
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .join(
            F.broadcast(cells_merged.withColumnRenamed("c", "cm")),
            ["j", "bucket"],
        )
        .groupBy("l_partkey", "true_cnt")
        .agg(F.min("c").alias("est_cnt"), F.min("cm").alias("est_merged"))
    )
    return est.select(
        F.col("l_partkey").alias("partkey"),
        F.col("true_cnt").cast("bigint"),
        F.col("est_cnt").cast("bigint"),
        (F.col("est_cnt") >= F.col("true_cnt")).cast("int").alias(
            "never_underestimates"
        ),
        (F.col("est_merged") == F.col("est_cnt")).cast("int").alias(
            "merge_exact"
        ),
    ).orderBy(F.desc("true_cnt"), "partkey")


# ===========================================================================
# Reciprocal-rank fusion of lexical + semantic retrieval
# ===========================================================================

from pyspark.sql import Window  # noqa: E402

from formula1_etl_analytics_project_spark.functions.text import tokens  # noqa: E402
from formula1_etl_analytics_project_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
)
from formula1_etl_analytics_project_spark.plans.catalog import (  # noqa: E402
    _sql_cosine,
)

_RRF_TERMS = ("spark", "join", "window")
_RRF_K = 60
_RRF_TOPK = 20

_RRF_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), lex_top AS (
  SELECT doc_id, COUNT(*) AS lex_score
  FROM tok
  WHERE tok IN ({', '.join(repr(t) for t in _RRF_TERMS)})
  GROUP BY doc_id
  ORDER BY lex_score DESC, doc_id
  LIMIT {_RRF_TOPK}
), lexr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id) AS lex_rank
  FROM lex_top
), q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
), sem_top AS (
  SELECT e.vec_id AS doc_id,
         ROUND({_sql_cosine('e.embedding', 'q.qvec')}, 6) AS cos_sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY cos_sim DESC, e.vec_id
  LIMIT {_RRF_TOPK}
), semr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
  FROM sem_top
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
       CAST(COALESCE(s.sem_rank, 0) AS BIGINT) AS sem_rank,
       ROUND(
         CASE WHEN l.lex_rank IS NULL THEN 0.0
              ELSE 1.0 / ({_RRF_K}.0 + CAST(l.lex_rank AS DOUBLE)) END
         + CASE WHEN s.sem_rank IS NULL THEN 0.0
                ELSE 1.0 / ({_RRF_K}.0 + CAST(s.sem_rank AS DOUBLE)) END,
         9) AS rrf_score
FROM lexr l
FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
ORDER BY rrf_score DESC, doc_id
"""


@_register(
    "rrf_fusion",
    _RRF_SQL,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two independent retrieval
    arms - lexical (query-term frequency, the posting-list shape of
    `bm25_doc_scores`) and semantic (exact cosine vs the vec_id=0
    query, the `ann_bruteforce` shape) - the standard hybrid-search
    combiner a RAG/curation stack runs over sparse + dense indexes.
    Output: every doc in either arm's top-20, with its per-arm rank
    (0 = not retrieved by that arm, never NULL - a nullable BIGINT
    materializes as float64 in pandas and breaks the driver's
    int/float-distinct hash) and rrf = sum over arms of 1/(60+rank).

    Determinism: the lexical score is an exact integer; the semantic
    score is the round-6 cosine `ann_bruteforce` already proved
    hash-stable cross-engine; both arms order by (score, doc_id) - a
    total order - BEFORE the LIMIT, so the top-20 sets are identical;
    rrf is the same two-term IEEE-double expression evaluated in the
    same operand order in both engines (round-9 is cosmetic).

    Shape at 100 TB: each arm ends in TakeOrderedAndProject
    (per-partition heaps, k-row driver merge - never a global sort);
    the lexical explode is pre-filtered to the query terms, so
    everything downstream is query-sized; the corpus-scale cosine is
    a narrow map over the embedding scan. The ROW_NUMBER windows and
    the full-outer fusion join run on two <= 20-row frames (bounded
    by k, broadcastable); at no point does a corpus-sized set cross
    an unpartitioned window.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    lex_top = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("lex_score"))
        .orderBy(F.desc("lex_score"), "doc_id")
        .limit(_RRF_TOPK)
    )
    lexr = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("lex_score"), F.col("doc_id")))
        .alias("lex_rank"),
    )
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    sem_top = brute_force_topk(emb, query_id=0, k=_RRF_TOPK)
    semr = sem_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.col("vec_id")))
        .alias("sem_rank"),
    )
    arm = lambda c: F.when(  # noqa: E731
        F.col(c) > 0,
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col(c).cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        lexr.join(semr, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("bigint").alias("sem_rank"),
        )
        .withColumn(
            "rrf_score", F.round(arm("lex_rank") + arm("sem_rank"), 9)
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
    )


# ===========================================================================
# k-anonymity generalization step (the remediation loop's iteration)
# ===========================================================================

_KANON_K = 15

_KGEN_SQL = f"""
WITH g0 AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
), kept AS (
  SELECT c_nationkey, c_mktsegment AS qi_segment, n, 0 AS level
  FROM g0 WHERE n >= {_KANON_K}
), merged AS (
  SELECT c_nationkey, 'ALL' AS qi_segment,
         CAST(SUM(n) AS BIGINT) AS n, 1 AS level
  FROM g0 WHERE n < {_KANON_K} GROUP BY c_nationkey
)
SELECT c_nationkey, qi_segment,
       CAST(n AS BIGINT) AS group_size,
       CAST(level AS INT) AS level,
       CAST(n >= {_KANON_K} AS INT) AS k_ok
FROM (SELECT * FROM kept UNION ALL SELECT * FROM merged)
ORDER BY c_nationkey, qi_segment
"""


@_register(
    "k_anonymity_generalize",
    _KGEN_SQL,
)
def q_k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of the k-anonymity REMEDIATION loop: equivalence
    classes on (c_nationkey, c_mktsegment) that already hold >= k
    members are released as-is (level 0); failing classes have their
    finest quasi-identifier column generalized away (segment -> 'ALL')
    and merge into one nation-level class (level 1), re-flagged
    against k - the classes `k_anonymity_audit` flags are exactly the
    ones this step coarsens. A full enforcement run repeats this per
    generalization level until every class passes or the QI hierarchy
    is exhausted; each iteration is this same shape on the CLASS
    table, so iteration cost is bounded by the QI domain, not the
    corpus.

    Everything is integer-exact (class counts, SUM of counts cast to
    BIGINT before the cross-engine boundary - the HUGEINT trap, a
    literal level tag), so the DuckDB twin matches bit-for-bit.

    Shape at 100 TB: one corpus-scale hash aggregate (map-side
    combinable) produces the |QI classes|-row class table; the
    pass/fail retag and the nation-level re-merge are a second
    aggregate on that bounded table (NOT a union of two filtered
    branches, which Catalyst would plan as two corpus scans - no
    subtree CSE) - the corpus is scanned exactly once no matter how
    many generalization levels the loop walks.
    """
    cust = read_table(spark, sf_dir, "customer", spread=True)
    g0 = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    )
    # One pass, no union-of-branches: a UNION ALL of two filters of g0
    # would make Catalyst scan (and aggregate) the corpus TWICE - no
    # subtree CSE. Instead each class tags its own generalization
    # target and the class table re-aggregates on it: passing classes
    # are unique on (nation, segment, 0) so SUM(n) = n; failing ones
    # merge into (nation, 'ALL', 1).
    retag = g0.select(
        "c_nationkey",
        F.when(
            F.col("n") >= _KANON_K, F.col("c_mktsegment")
        ).otherwise(F.lit("ALL")).alias("qi_segment"),
        F.when(F.col("n") >= _KANON_K, F.lit(0)).otherwise(F.lit(1)).alias(
            "level"
        ),
        "n",
    )
    return (
        retag.groupBy("c_nationkey", "qi_segment", "level")
        .agg(F.sum("n").alias("n"))
        .select(
            "c_nationkey",
            "qi_segment",
            F.col("n").cast("bigint").alias("group_size"),
            F.col("level").cast("int").alias("level"),
            (F.col("n") >= _KANON_K).cast("int").alias("k_ok"),
        )
        .orderBy("c_nationkey", "qi_segment")
    )


# ===========================================================================
# Pseudo-relevance-feedback query expansion (RM3 shape)
# ===========================================================================

_PRF_TOPN = 15

# ===========================================================================
# k-anonymity / l-diversity privacy audit
# ===========================================================================

_KANON_SQL = f"""
SELECT c_nationkey,
       c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS l_diversity,
       CAST(COUNT(*) >= {_KANON_K} AS INT) AS k_ok,
       CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) >= 2
            AS INT) AS l_ok
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


@_register(
    "k_anonymity_audit",
    _KANON_SQL,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the quasi-identifier pair
    (c_nationkey, c_mktsegment): per equivalence class, its size (the
    k in k-anonymity - any class below k re-identifies its members),
    and the number of distinct sensitive values it contains (the l in
    l-diversity, sensitive attribute = account-balance sign - a class
    where everyone shares the sensitive value leaks it even at large
    k). This is the release gate a training-data pipeline runs before
    publishing a table keyed on demographic-shaped columns - the
    privacy sibling of `pii_redact_docs` (which scrubs free text;
    this audits the STRUCTURED columns redaction cannot touch).

    Everything is integer-exact (class counts, a binary sensitive
    value, integer thresholds), so the DuckDB twin matches
    bit-for-bit with no rounding discipline.

    Shape at 100 TB: ONE hash aggregate over the QI key - count is
    map-side combinable outright, and the distinct-over-a-binary
    rides the same exchange (Spark plans count(DISTINCT) via Expand,
    but the expansion factor is the 2-value sensitive domain, not the
    row count); output is |QI classes| rows, bounded by the QI
    domain, never by the corpus. The remediation loop (generalize QI
    columns until every class passes) re-runs this same aggregate on
    coarser keys - each iteration is one pass, no joins anywhere.
    """
    cust = read_table(spark, sf_dir, "customer", spread=True)
    sensitive = F.when(F.col("c_acctbal") < 0, F.lit(1)).otherwise(F.lit(0))
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("group_size"),
            F.countDistinct(sensitive).cast("bigint").alias("l_diversity"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            "l_diversity",
            (F.col("group_size") >= _KANON_K).cast("int").alias("k_ok"),
            (F.col("l_diversity") >= 2).cast("int").alias("l_ok"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ===========================================================================
# Benford first-digit audit (fraud / synthetic-data detection)
# ===========================================================================

import math as _math

# Expected Benford proportions computed ONCE in Python and injected as
# the SAME double literals into both twins - log10 is transcendental
# and the two engines' libm results are not contractually identical,
# so neither engine computes it.
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
)

_BENFORD_SQL = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders
  WHERE o_totalprice >= 1
), cnts AS (
  SELECT digit, COUNT(*) AS cnt FROM digits GROUP BY digit
), w AS (
  SELECT digit, cnt, SUM(cnt) OVER () AS total FROM cnts
)
SELECT digit,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS observed_p,
       CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE) AS expected_p,
       ABS(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
           - CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE)) AS abs_dev
FROM w
ORDER BY digit
"""


@_register(
    "benford_digit_audit",
    _BENFORD_SQL,
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals: naturally-grown
    monetary values follow log10(1+1/d) first-digit frequencies, and
    fabricated or synthetically-generated batches don't - the classic
    screen a data-quality gate runs over financial columns and a
    training-data pipeline runs over suspect numeric fields before
    ingestion. Output: per digit 1-9, the count, observed share,
    Benford expectation, and absolute deviation.

    Cross-engine discipline: the first digit comes from the INTEGER
    part (FLOOR -> BIGINT -> string -> first char; floor and integer
    stringification are exact in both engines, while stringifying a
    raw DOUBLE is not - scientific-notation formats diverge - and
    CAST(double AS BIGINT) rounds in DuckDB but truncates in Spark);
    the Benford expectations are Python-computed double literals
    injected into BOTH twins, because log10 is transcendental and the
    engines' libm results are not contractually bit-identical; ratios
    follow the one-division rrf/t-closeness pattern.

    Shape at 100 TB: one corpus-scale hash aggregate (map-side
    combinable) to a 9-row digit table; the share window and the
    literal-CASE expectations run on those 9 rows. The corpus is
    scanned once and nothing downstream scales with it.
    """
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders", spread=True)
    digit = (
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
    ).cast("long")
    cnts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("cnt"))
    )
    total = F.sum("cnt").over(W.partitionBy())
    expected = F.when(F.lit(False), F.lit(0.0))
    for d in range(1, 10):
        expected = expected.when(F.col("digit") == d, F.lit(_BENFORD_P[d]))
    obs = F.col("cnt").cast("double") / total.cast("double")
    return (
        cnts.select(
            "digit",
            F.col("cnt").cast("bigint").alias("cnt"),
            obs.alias("observed_p"),
            expected.cast("double").alias("expected_p"),
            F.abs(obs - expected).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ===========================================================================
# t-closeness: sensitive-distribution distance per equivalence class
# ===========================================================================

_TCLOSE_T = 0.2

_TCLOSE_SQL = f"""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS n,
         SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS neg
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
), w AS (
  SELECT c_nationkey, c_mktsegment, n, neg,
         SUM(n) OVER () AS gn,
         SUM(neg) OVER () AS gneg
  FROM cls
)
SELECT c_nationkey, c_mktsegment,
       CAST(n AS BIGINT) AS group_size,
       CAST(neg AS DOUBLE) / CAST(n AS DOUBLE) AS p_neg,
       ABS(CAST(neg AS DOUBLE) / CAST(n AS DOUBLE)
           - CAST(gneg AS DOUBLE) / CAST(gn AS DOUBLE)) AS t_dist,
       CAST(ABS(CAST(neg AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(gneg AS DOUBLE) / CAST(gn AS DOUBLE)) <= {_TCLOSE_T}
            AS INT) AS t_ok
FROM w
ORDER BY c_nationkey, c_mktsegment
"""


@_register(
    "t_closeness_audit",
    _TCLOSE_SQL,
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit, completing the structured-privacy triad
    (k-anonymity: class size; l-diversity: sensitive-value count;
    t-closeness: sensitive-value DISTRIBUTION): per equivalence class
    on (c_nationkey, c_mktsegment), the distance between the class's
    sensitive distribution and the table-wide one - for the binary
    sensitive attribute (account-balance sign) the variational /
    earth-mover distance collapses to |p_class - p_global|. A class
    can pass k and l yet still leak: if 95% of one class is negative
    vs 10% globally, membership alone shifts an attacker's belief -
    exactly what t-closeness bounds.

    Cross-engine float discipline (the rrf_fusion precedent): every
    input to the ratios is an exact integer; each ratio is ONE double
    division of int64-exact operands (correctly rounded, identical
    IEEE in both engines); the distance is the same two-term
    expression in the same operand order, shipped UNROUNDED (IEEE
    divide/subtract/abs of identical operands is bit-identical, and
    round() near a half-boundary is the one step that is not), so the
    t_ok flag and the displayed distance cannot disagree between
    engines.

    Shape at 100 TB: one corpus-scale hash aggregate (map-side
    combinable) to the |QI classes|-row class table; the global
    distribution comes from an empty-OVER window on THAT bounded
    table (125 rows at sf0.1) - never on the corpus - so the plan is
    one scan, one exchange, one class-table window.
    """
    from pyspark.sql import Window as W

    cust = read_table(spark, sf_dir, "customer", spread=True)
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("c_acctbal") < 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("neg"),
    )
    w = W.partitionBy()
    p = F.col("neg").cast("double") / F.col("n").cast("double")
    gp = F.sum("neg").over(w).cast("double") / F.sum("n").over(w).cast(
        "double"
    )
    dist = F.abs(p - gp)
    return (
        cls.select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n").cast("bigint").alias("group_size"),
            p.alias("p_neg"),
            dist.alias("t_dist"),
            (dist <= F.lit(_TCLOSE_T)).cast("int").alias("t_ok"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


_PRF_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), lex_top AS (
  SELECT doc_id, COUNT(*) AS lex_score
  FROM tok
  WHERE tok IN ({', '.join(repr(t) for t in _RRF_TERMS)})
  GROUP BY doc_id
  ORDER BY lex_score DESC, doc_id
  LIMIT {_RRF_TOPK}
), cand AS (
  SELECT t.tok AS term,
         CAST(COUNT(*) AS BIGINT) AS tf_top,
         CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS docs_top
  FROM tok t
  JOIN lex_top l ON t.doc_id = l.doc_id
  WHERE t.tok NOT IN ({', '.join(repr(t) for t in _RRF_TERMS)})
  GROUP BY t.tok
), dfc AS (
  SELECT tok AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_corpus
  FROM tok
  WHERE tok IN (SELECT term FROM cand)
  GROUP BY tok
)
SELECT c.term, c.tf_top, c.docs_top, d.df_corpus
FROM cand c
JOIN dfc d ON c.term = d.term
ORDER BY c.tf_top DESC, d.df_corpus ASC, c.term
LIMIT {_PRF_TOPN}
"""


@_register(
    "prf_query_expansion",
    _PRF_SQL,
)
def q_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (the RM3/Rocchio shape): take the
    lexical arm's top-20 documents for the fixed query (the same
    posting-list-filtered top-k as `rrf_fusion`), and mine them for
    expansion terms - ranked by frequency inside the feedback set
    (tf_top DESC) with corpus document-frequency as the
    discriminativeness tiebreak (df_corpus ASC: prefer terms that are
    dense in the relevant set but rare corpus-wide), then term. This
    is the query-rewrite stage a hybrid retrieval stack runs between
    first-pass ranking and the final fused pass, completing the
    catalog's retrieval family: score (`bm25_doc_scores`), dense
    top-k (`ann_bruteforce`), fusion (`rrf_fusion`), feedback (this).

    Determinism: every ranking input is an exact integer (term counts
    and distinct-doc counts) and the final ORDER BY is total
    (tf_top, df_corpus, term) - no floats anywhere.

    Shape at 100 TB: the feedback set is k rows and BROADCAST into
    the corpus token stream (a broadcast-hash semi-join - the corpus
    never shuffles to find its 20 relevant docs); candidate term
    stats aggregate with map-side combine; the corpus-wide df pass is
    semi-join-pruned to candidate terms (bounded by the feedback
    set's vocabulary) before its distinct-doc aggregate; the final
    join and top-15 run on vocabulary-sized frames ending in
    TakeOrderedAndProject.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    lex_top = (
        tok.filter(F.col("tok").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("lex_score"))
        .orderBy(F.desc("lex_score"), "doc_id")
        .limit(_RRF_TOPK)
    )
    cand = (
        tok.join(F.broadcast(lex_top.select("doc_id")), "doc_id")
        .filter(~F.col("tok").isin(*_RRF_TERMS))
        .groupBy(F.col("tok").alias("term"))
        .agg(
            F.count("*").cast("bigint").alias("tf_top"),
            F.countDistinct("doc_id").cast("bigint").alias("docs_top"),
        )
    )
    dfc = (
        tok.join(
            F.broadcast(cand.select("term")),
            tok["tok"] == F.col("term"),
            "left_semi",
        )
        .groupBy(F.col("tok").alias("term"))
        .agg(F.countDistinct("doc_id").cast("bigint").alias("df_corpus"))
    )
    return (
        cand.join(dfc, "term")
        .select("term", "tf_top", "docs_top", "df_corpus")
        .orderBy(F.desc("tf_top"), F.asc("df_corpus"), "term")
        .limit(_PRF_TOPN)
    )
