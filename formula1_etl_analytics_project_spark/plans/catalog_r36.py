"""Round-36 catalog entry (round 5, fifteenth leg) - the curation
savings waterfall:

* `curation_waterfall` - the headline table of a corpus-curation run:
  doc and token mass after each successive stage (raw -> exact dedup
  keepers -> near-dup cluster keepers -> quality gate), each row a
  monotone subset of the previous with its share of the raw corpus.
  Every stage reuses a verified operator's exact semantics (the
  exact-dedup fingerprint, `dedup_clusters`' connected-component
  keepers via its own recursive-CTE oracle, `quality_filter_docs`'
  rule chain), so the waterfall's arithmetic is checked END TO END -
  the number reported to stakeholders is the number the operators
  actually produce, not a notebook's approximation of them.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans import catalog_ext  # noqa: F401  (registers dedup_clusters)
from formula1_etl_analytics_project_spark.plans.catalog import (
    CATALOG,
    _register,
    _SQL_PUNCT_RATIO,
    _SQL_STOP_RATIO,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

def _waterfall_sql(closure: str) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, text,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> x <> '')) AS n_tok,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
), exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM toks GROUP BY fp
), cluster_keep AS (
  SELECT doc_id FROM ({closure})
  WHERE is_keeper = 1
), quality_keep AS (
  SELECT doc_id FROM toks
  WHERE NOT (length(text) < 50)
    AND NOT ({_SQL_STOP_RATIO} < 0.02)
    AND NOT ({_SQL_PUNCT_RATIO} > 0.10)
), stages AS (
  SELECT 1 AS stage, 'raw' AS name, doc_id FROM toks
  UNION ALL
  SELECT 2, 'exact_dedup', doc_id FROM exact_keep
  UNION ALL
  SELECT 3, 'near_dedup', e.doc_id
  FROM exact_keep e JOIN cluster_keep c ON e.doc_id = c.doc_id
  UNION ALL
  SELECT 4, 'quality_gate', e.doc_id
  FROM exact_keep e
  JOIN cluster_keep c ON e.doc_id = c.doc_id
  JOIN quality_keep q ON e.doc_id = q.doc_id
), tot AS (
  SELECT CAST(SUM(n_tok) AS BIGINT) AS raw_tokens FROM toks
)
SELECT s.stage, s.name,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(t.n_tok) AS DOUBLE) / (SELECT raw_tokens FROM tot)
         AS frac_of_raw
FROM stages s JOIN toks t ON s.doc_id = t.doc_id
GROUP BY s.stage, s.name ORDER BY s.stage
"""


_WATERFALL_SQL = _waterfall_sql(CATALOG["dedup_clusters"].oracle)


@_register(
    "curation_waterfall",
    _WATERFALL_SQL,
    bench=True,
    # the near-dup stage embeds the banded scale restatement of the
    # closure (catalog_ext._SQL_CLUSTERS_SCALE); everything else in the
    # waterfall is already linear-scan SQL, so the composed form is
    # sf1-tractable exactly when the base entry's is.
    oracle_scale=_waterfall_sql(CATALOG["dedup_clusters"].oracle_scale),
)
def q_curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation savings waterfall: doc and token mass surviving
    each successive stage - raw corpus, exact-dedup keepers (min doc
    per whitespace-normalized md5), near-dup cluster keepers
    intersected on top (the `dedup_clusters` connected-component
    keepers), then the `quality_filter_docs` rule chain. Each stage
    is a monotone subset, so frac_of_raw is the number a curation
    report publishes ("dedup + quality removed 1 - x of tokens").

    Determinism: stage membership is set algebra over md5 keys and
    the rule chain's int/int ratio compares (no rounded decision
    boundary anywhere); token masses are exact BIGINTs; frac_of_raw
    is an unrounded division of exact integers.

    Distributed form: ONE tokenize/fingerprint pass is checkpointed
    and feeds every stage (the recompute trap at 4 consumers);
    keeper sets are doc_id-keyed semi-joins of collapsed aggregates;
    the near-dup fixpoint is the same banded SimHash + min-label
    iteration the base entry runs. At 100 TB each stage adds one
    digest-keyed semi-join over the shrinking keeper set - the
    corpus text is read exactly once.
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        fingerprint,
        punct_ratio,
        stopword_ratio,
        token_count,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    # no downstream consumer reads raw text - keeping it out of the
    # checkpoint keeps the materialization digest-sized instead of a
    # second full copy of the corpus (review catch)
    toks = docs.select(
        "doc_id",
        token_count("text").alias("n_tok"),
        fingerprint("text").alias("fp"),
        F.length("text").alias("n_char"),
        stopword_ratio("text").alias("stop_r"),
        punct_ratio("text").alias("punct_r"),
    ).localCheckpoint()

    exact_keep = toks.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    cluster_keep = (
        CATALOG["dedup_clusters"]
        .spark(spark, sf_dir)
        .filter(F.col("is_keeper") == 1)
        .select("doc_id")
    )
    quality_keep = toks.filter(
        ~(F.col("n_char") < 50)
        & ~(F.col("stop_r") < 0.02)
        & ~(F.col("punct_r") > 0.10)
    ).select("doc_id")

    s1 = toks.select("doc_id").withColumn("stage", F.lit(1)).withColumn(
        "name", F.lit("raw")
    )
    e = exact_keep.select("doc_id").localCheckpoint()
    s2 = e.withColumn("stage", F.lit(2)).withColumn(
        "name", F.lit("exact_dedup")
    )
    s3_ids = e.join(cluster_keep, "doc_id").localCheckpoint()
    s3 = s3_ids.withColumn("stage", F.lit(3)).withColumn(
        "name", F.lit("near_dedup")
    )
    s4 = (
        s3_ids.join(quality_keep, "doc_id")
        .withColumn("stage", F.lit(4))
        .withColumn("name", F.lit("quality_gate"))
    )
    stages = s1.unionByName(s2).unionByName(s3).unionByName(s4)
    tot = toks.agg(F.sum("n_tok").alias("_raw_tokens"))
    return (
        stages.join(toks.select("doc_id", "n_tok"), "doc_id")
        .groupBy("stage", "name")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "name",
            "n_docs",
            "n_tokens",
            (
                F.col("n_tokens").cast("double") / F.col("_raw_tokens")
            ).alias("frac_of_raw"),
        )
        .orderBy("stage")
    )
