"""Round-25 catalog entries (round 5, fourth leg) - tokenizer/corpus
reporting and training-data generation operators:

* `vocab_coverage_curve` - tokenizer-budget planning: for each
  candidate vocabulary size k, the fraction of ALL token occurrences
  covered by the k most frequent types. The corpus collapses to a
  type histogram; only the top-max(k) ranks ever see a window.
* `quantile_pinball_eval` - pinball (quantile) loss of a per-group
  quantile forecaster at q in {0.1, 0.5, 0.9} - the eval primitive
  for quantile regression / probabilistic forecasts, completing the
  eval family (`roc_auc_eval` classification, `ndcg_retrieval_eval`
  ranking, this one quantile calibration).
* `contrastive_negatives` - deterministic negative sampling for
  contrastive embedding training: k hash-ring negatives per anchor,
  cross-source filtered, reproducible from the keys alone (no stored
  sample state, no rand()).
* `lexical_diversity_report` - per-source type-token ratio and
  hapax-legomena fraction - the lexical-diversity quality signals a
  curation pipeline reads next to `repetition_signals` and
  `doc_entropy` (a boilerplate-heavy source shows low TTR and a
  thin hapax tail).

Cross-engine portability as plans/catalog.py: md5-derived hashes,
integer-first arithmetic, decimal-cast double sums, round(6) ratios.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Vocabulary coverage curve (tokenizer budget planning)
# ===========================================================================

_VOCAB_COV_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), cnt AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM cnt
), pre AS (
  SELECT rk, CAST(SUM(c) OVER (ORDER BY rk) AS BIGINT) AS cum
  FROM ranked WHERE rk <= 50
)
SELECT k, COALESCE(pre.cum, tot.total) AS covered, tot.total,
       CAST(COALESCE(pre.cum, tot.total) AS DOUBLE) / tot.total AS coverage
FROM (VALUES (CAST(1 AS BIGINT)), (2), (5), (10), (20), (50)) v(k)
LEFT JOIN pre ON pre.rk = v.k
CROSS JOIN tot
ORDER BY k
"""


@_register(
    "vocab_coverage_curve",
    _VOCAB_COV_SQL,
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab budget k,
    the fraction of all token OCCURRENCES covered by the k most
    frequent types (ties broken by token text, so the ranking is
    total). This is the curve a tokenizer-budget decision reads -
    where it flattens is where additional vocab stops paying for
    its embedding rows. k beyond the observed vocabulary clamps to
    full coverage (the 31-type corpus exercises that branch at
    k=50).

    Distributed form: corpus -> type histogram in one map-side-
    combinable groupBy (the only corpus-scale op); the rank +
    prefix-sum window runs on the top-max(k) rows ONLY (rank filter
    before the cumulative sum), so a 100 TB corpus with a billion-
    type tail never sorts its full vocabulary - TakeOrdered ships
    top-50 per partition. Counts stay BIGINT; the single double is
    the final covered/total division, identical on both engines.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    # the token histogram feeds TWO consumers (the total and the
    # top-50 cut) - checkpoint it so the explode+groupBy runs once
    # (the recompute trap, review catch)
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    ).localCheckpoint()
    tot = cnt.agg(F.sum("c").cast("bigint").alias("total"))
    topn = cnt.orderBy(F.col("c").desc(), F.col("t")).limit(50)
    rk_w = Window.orderBy(F.col("c").desc(), F.col("t"))
    cum_w = Window.orderBy("rk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = (
        topn.withColumn("rk", F.row_number().over(rk_w))
        .withColumn("cum", F.sum("c").over(cum_w).cast("bigint"))
        .select("rk", "cum")
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(1,), (2,), (5,), (10,), (20,), (50,)], ["k"]
    ).select(F.col("k").cast("bigint").alias("k"))
    return (
        ks.join(F.broadcast(pre), ks["k"] == pre["rk"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.coalesce("cum", "total").alias("covered"),
            "total",
            (
                F.coalesce("cum", "total").cast("double") / F.col("total")
            ).alias("coverage"),
        )
        .orderBy("k")
    )


# ===========================================================================
# Pinball (quantile) loss evaluation of a per-group quantile forecaster
# ===========================================================================

_PINBALL_SQL = """
WITH qt AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.10), 6) AS q10,
         ROUND(quantile_cont(value, 0.50), 6) AS q50,
         ROUND(quantile_cont(value, 0.90), 6) AS q90
  FROM events GROUP BY event_type
), long AS (
  SELECT event_type, CAST(0.1 AS DOUBLE) AS q, q10 AS qhat FROM qt
  UNION ALL
  SELECT event_type, CAST(0.5 AS DOUBLE), q50 FROM qt
  UNION ALL
  SELECT event_type, CAST(0.9 AS DOUBLE), q90 FROM qt
)
SELECT e.event_type, l.q, l.qhat,
       ROUND(CAST(SUM(CAST(
           GREATEST(l.q * (e.value - l.qhat),
                    (l.q - 1) * (e.value - l.qhat))
         AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS pinball
FROM events e JOIN long l ON e.event_type = l.event_type
GROUP BY e.event_type, l.q, l.qhat
ORDER BY e.event_type, l.q
"""


@_register(
    "quantile_pinball_eval",
    _PINBALL_SQL,
)
def q_quantile_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the per-event-type exact-quantile
    forecaster at q in {0.1, 0.5, 0.9}: loss_q = mean(max(q*(y-yhat),
    (q-1)*(y-yhat))). The canonical quantile-regression eval - a
    well-calibrated q-quantile minimizes it, so a monitoring job
    compares this number across model versions. Completes the eval
    family: `roc_auc_eval` (classification), `ndcg_retrieval_eval`
    (ranking), `km_survival`/`welch_ttest` (inference), this one
    (probabilistic forecasts).

    Distributed form: the forecaster table is k_types x 3 rows
    (exact percentile per type - the same engine-pair idiom as
    `event_value_percentiles`, rounded to the shared 6-decimal
    grid); it broadcasts to the fact scan, and the loss is one
    map-side-combinable aggregate with the repo's decimal-cast
    order-free double sum. One wide op total at any scale.
    """
    ev = read_table(spark, sf_dir, "events")
    qt = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.10)"), 6).alias("q10"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("q50"),
        F.round(F.expr("percentile(value, 0.90)"), 6).alias("q90"),
    )
    long = qt.selectExpr(
        "event_type",
        "stack(3, 0.1d, q10, 0.5d, q50, 0.9d, q90) AS (q, qhat)",
    )
    loss = (
        F.greatest(
            F.col("q") * (F.col("value") - F.col("qhat")),
            (F.col("q") - 1) * (F.col("value") - F.col("qhat")),
        )
    ).cast("decimal(38,12)")
    return (
        ev.join(F.broadcast(long), "event_type")
        .groupBy("event_type", "q", "qhat")
        .agg(
            F.round(
                F.sum(loss).cast("double") / F.count("*"), 6
            ).alias("pinball")
        )
        .orderBy("event_type", "q")
    )


# ===========================================================================
# Deterministic negative sampling for contrastive training
# ===========================================================================

_NEGATIVES_SQL = """
WITH n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), anchors AS (
  SELECT doc_id AS anchor_id, source AS anchor_source
  FROM documents WHERE doc_id % 20 = 0
), cand AS (
  SELECT a.anchor_id, a.anchor_source, CAST(i AS BIGINT) AS slot,
         CAST(('0x' || substr(md5(a.anchor_id || '-' || i), 1, 15))
              AS BIGINT) % n.n_docs AS neg_id
  FROM anchors a CROSS JOIN n,
       UNNEST(generate_series(0, 3)) AS u(i)
)
SELECT c.anchor_id, c.slot, c.neg_id, d.source AS neg_source
FROM cand c JOIN documents d ON d.doc_id = c.neg_id
WHERE c.neg_id <> c.anchor_id AND d.source <> c.anchor_source
ORDER BY c.anchor_id, c.slot
"""


@_register(
    "contrastive_negatives",
    _NEGATIVES_SQL,
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive embedding
    training: each anchor document draws 4 candidate negatives from a
    hash ring over the CONTIGUOUS doc-id space (md5(anchor||slot) mod
    N - the testdata generator guarantees ids 0..N-1; a production
    corpus gets the dense id from `surrogate_keys` first), then
    filters self-pairs and same-source pairs (the standard guard
    against false negatives when source correlates with topic).
    Hash-ring draws give what rand() cannot: the negative set is
    reproducible from (anchor_id, slot) alone, across engines, runs,
    and cluster layouts - an epoch's pairs can be re-materialized
    exactly for debugging a training divergence.

    Distributed form: the per-anchor expansion is a narrow
    generator (no shuffle); resolving negatives is ONE equi-join on
    neg_id against the corpus (shuffle keyed on the dense id - or
    pure map-side if the corpus is bucketed by doc_id, the
    `bucketed_join_agg` layout). Slot count and the anchor sample
    bound the output to k*|anchors| rows.
    """
    docs = read_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    anchors = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("source").alias("anchor_source"),
    )
    cand = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "anchor_source",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("slot"),
            "n_docs",
        )
        .select(
            "anchor_id",
            "anchor_source",
            F.col("slot").cast("bigint").alias("slot"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "-",
                                F.col("anchor_id").cast("string"),
                                F.col("slot").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n_docs")
            ).alias("neg_id"),
        )
    )
    d = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return (
        cand.join(d, "neg_id")
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_source") != F.col("anchor_source"))
        )
        .select("anchor_id", "slot", "neg_id", "neg_source")
        .orderBy("anchor_id", "slot")
    )


# ===========================================================================
# Per-source lexical diversity (TTR + hapax fraction)
# ===========================================================================

_LEXDIV_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
), tc AS (
  SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS DOUBLE) / SUM(c) AS ttr,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS hapax_frac
FROM tc GROUP BY source ORDER BY source
"""


@_register(
    "lexical_diversity_report",
    _LEXDIV_SQL,
)
def q_lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: type-token ratio and hapax-
    legomena fraction (share of types occurring exactly once). Low
    TTR with a thin hapax tail is the signature of boilerplate or
    templated text - the corpus-level cousin of the per-document
    `repetition_signals`/`doc_entropy` filters, read per SOURCE so a
    curation run can down-weight a whole feed (`domain_mix_weights`
    consumes exactly this kind of table).

    Distributed form: two stacked map-side-combinable aggregates.
    The corpus-scale exchange is the (source, type) histogram; the
    per-source rollup's second exchange moves only the collapsed
    histogram (|sources| x |vocab| rows), which is why this shape is
    preferred over pre-partitioning by source alone - with few
    sources, hashpartitioning(source) would cap parallelism at the
    source count and concentrate hot feeds on single tasks. Counts
    stay BIGINT; ratios exit as round(6) integer divisions.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            (F.count("*").cast("double") / F.sum("c")).alias("ttr"),
            (
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("hapax_frac"),
        )
        .orderBy("source")
    )
