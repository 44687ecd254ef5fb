"""Round-32 catalog entries (round 5, eleventh leg) - dedup audit
rollups:

* `dedup_cluster_size_stats` - the cluster-size histogram and
  dedup-savings report over the connected-component clusters: the
  number a curation run publishes ("X% of docs were near-dup
  copies; largest family = N") and the sanity gate that catches
  spurious mega-components (a hash-space collision or threshold bug
  shows up here as one giant cluster long before anyone reads pair
  lists).
* `minhash_estimate_error` - estimation quality of the 8-hash
  MinHash Jaccard estimator on the exact ground-truth pairs:
  `minhash_lsh_recall` prices the CANDIDATE loss of banding; this
  prices the ESTIMATOR itself (mean/max |j_hat - j|), completing
  the approximation-measurement story (recall AND accuracy, both
  measured, never assumed).

Oracle composition: both entries wrap the already-verified oracle
SQL of their base entries (`dedup_clusters`' recursive CTE, the
prefix-filtered exact pairs), so the composed audit is checked
against the same fixpoint/truth its inputs were.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans import catalog_ext  # noqa: F401  (registers dedup_clusters)
from formula1_etl_analytics_project_spark.plans.catalog import (
    CATALOG,
    _register,
    _SQL_NORM_TOKS,
)
from formula1_etl_analytics_project_spark.plans.catalog_r5 import (
    _PREFIX_PAIRS_SQL,
    _PREFIX_PAIRS_SQL_SCALE,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Cluster-size histogram + dedup savings over the CC clusters
# ===========================================================================

def _cluster_stats_sql(closure: str) -> str:
    return f"""
WITH clusters AS (
  SELECT doc_id, cluster_id FROM ({closure})
), sized AS (
  SELECT cluster_id, COUNT(*) AS size FROM clusters GROUP BY cluster_id
)
SELECT CAST(size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(size) AS BIGINT) AS n_docs,
       CAST(SUM(size - 1) AS BIGINT) AS n_removable
FROM sized GROUP BY size ORDER BY size
"""


_CLUSTER_STATS_SQL = _cluster_stats_sql(CATALOG["dedup_clusters"].oracle)


@_register(
    "dedup_cluster_size_stats",
    _CLUSTER_STATS_SQL,
    bench=True,
    # same rollup over the banded scale restatement of the closure
    # (catalog_ext._SQL_CLUSTERS_SCALE) - the composition inherits the
    # base entry's sf1-tractable form along with its equivalence proof.
    oracle_scale=_cluster_stats_sql(CATALOG["dedup_clusters"].oracle_scale),
)
def q_dedup_cluster_size_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-size histogram over the near-dup connected components:
    per size, how many clusters, how many docs they hold, and how
    many docs dedup would remove (size - 1 per cluster). This is the
    report a curation run publishes AND the mega-component alarm:
    the 16-bit SimHash space at sf0.1 birthday-collided into
    diameter-9 chains (measured, SCALING.md) - a histogram row with
    cluster_size in the thousands is that bug surfacing, caught by a
    gate instead of a slow investigation.

    Distributed form: reuses `dedup_clusters`' iterative min-label
    fixpoint (per-round localCheckpoint, banded SimHash edges); the
    rollup adds two collapsing aggregates over (doc, cluster) pairs -
    both map-side combinable, nothing corpus-scale after the labels
    exist. The oracle wraps the SAME recursive-CTE fixpoint the base
    entry is checked against, so the composition cannot drift from
    its input.
    """
    labels = CATALOG["dedup_clusters"].spark(spark, sf_dir)
    sized = labels.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return (
        sized.groupBy("size")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("size").cast("bigint").alias("n_docs"),
            F.sum(F.col("size") - 1).cast("bigint").alias("n_removable"),
        )
        .select(
            F.col("size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removable",
        )
        .orderBy("cluster_size")
    )


# ===========================================================================
# MinHash Jaccard estimator accuracy on the exact truth pairs
# ===========================================================================

# The same normalize -> 3-token shingle -> (h1, h2) -> 8 minhash chain
# as minhash_lsh_pairs' oracle (plans/catalog.py); restated here up to
# `sigs` because that entry's final SELECT consumes the chain inline.
_MH_SIGS_CTE = f"""
normed AS (
  SELECT doc_id, {_SQL_NORM_TOKS} AS toks
  FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' ')))
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM normed
), hp AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1,
         list_transform(sh, s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS h2
  FROM shingled
), sigs AS (
  SELECT doc_id,
         [list_aggregate(list_transform(generate_series(1, len(h1)),
             j -> (h1[j] + h * h2[j]) % 4294967296), 'min')
          FOR h IN [0,1,2,3,4,5,6,7]] AS mh
  FROM hp
)
"""

def _mh_err_sql(pairs_sql: str) -> str:
    return f"""
WITH truth AS (
  SELECT id_a, id_b, jaccard FROM ({pairs_sql})
), {_MH_SIGS_CTE},
scored AS (
  SELECT t.jaccard,
         CAST(len(list_filter(generate_series(1, 8),
                  j -> a.mh[j] = b.mh[j])) AS DOUBLE) / 8 AS est
  FROM truth t
  JOIN sigs a ON a.doc_id = t.id_a
  JOIN sigs b ON b.doc_id = t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(ROUND(abs(est - jaccard), 6) AS DECIMAL(30,6)))
            AS DOUBLE) / COUNT(*) AS mean_abs_err,
       MAX(ROUND(abs(est - jaccard), 6)) AS max_abs_err
FROM scored
"""


_MH_ERR_SQL = _mh_err_sql(_PREFIX_PAIRS_SQL)


@_register(
    "minhash_estimate_error",
    _MH_ERR_SQL,
    # truth pairs from the df-ordered scale restatement (catalog_r5);
    # the signature/error tail is already linear in the truth set.
    oracle_scale=_mh_err_sql(_PREFIX_PAIRS_SQL_SCALE),
)
def q_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Estimator accuracy for 8-hash MinHash: on every exact
    ground-truth pair (jaccard >= 0.5 from the lossless prefix
    filter), compare the signature-agreement estimate
    (matching hashes / 8) against the exact Jaccard; report mean and
    max absolute error. `minhash_lsh_recall` measures what the BANDS
    lose as candidates; this measures what the SIGNATURE estimates,
    so the 8-hash/4-band design point is priced on both axes (theory:
    sd ~ sqrt(j(1-j)/8) ~ 0.18 at j=0.5 - the measured mean error
    confirms the estimator is within its variance budget, not
    biased).

    Determinism: the estimate is an exact multiple of 1/8; the exact
    jaccard is the base entry's round(6) double; |est - j| therefore
    has at most 6 decimals, so the round(6)-then-decimal-sum is
    loss-free and order-free.

    Distributed form: the truth set is bounded and checkpointed;
    signatures come from one shingle pass (the persisted-words
    discipline of `minhash_lsh_pairs`); the error join moves 8-long
    signature arrays only for docs that appear in truth pairs
    (semi-join pruned), and the final aggregate is one row.
    """
    from formula1_etl_analytics_project_spark.operators.dedup import (
        minhash_signatures,
    )

    # ids-then-fetch truth variant (same exact pair set, 85x less
    # exchange than the arrays-through form - measured in SCALING.md)
    truth = (
        CATALOG["prefix_jaccard_pairs_df"]
        .spark(spark, sf_dir)
        .localCheckpoint()
    )
    ids = truth.select(
        F.col("id_a").alias("doc_id")
    ).unionByName(truth.select(F.col("id_b").alias("doc_id"))).distinct()
    docs = read_table(spark, sf_dir, "documents", spread=True)
    sigs = minhash_signatures(docs.join(F.broadcast(ids), "doc_id"))
    mh_cols = [f"mh_{i}" for i in range(8)]
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(c).alias(f"a_{c}") for c in mh_cols],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(c).alias(f"b_{c}") for c in mh_cols],
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in mh_cols
    )
    scored = (
        truth.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "jaccard",
            (matches.cast("double") / 8).alias("est"),
        )
    )
    err = F.round(F.abs(F.col("est") - F.col("jaccard")), 6)
    return scored.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (
            F.sum(err.cast("decimal(30,6)")).cast("double") / F.count("*")
        ).alias("mean_abs_err"),
        F.max(err).alias("max_abs_err"),
    )
