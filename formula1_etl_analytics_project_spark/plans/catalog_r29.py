"""Round-29 catalog entries (round 5, eighth leg) - the kNN graph,
the winnow recall gate, and the shard-balance audit:

* `knn_graph_blocked` - per-vector top-3 cosine neighbors within IVF
  cells: the kNN-graph construction step under SemDeDup-style
  curation, graph-based ANN indexes, and label propagation - the
  corpus-scale sibling of `ann_ivf` (which answers ONE query; this
  materializes the whole graph).
* `winnow_recall_eval` - candidate recall AND precision of the
  winnowing near-dup generator (`winnow_dup_pairs`) against the
  exact prefix-filtered ground truth - the same
  measure-the-approximation discipline as `minhash_lsh_recall`, so
  the two candidate generators' trade-offs are comparable numbers.
* `shard_balance_report` - per-shard doc/token mass under the md5
  hash-sharding the training-shard writer uses: the audit that a
  64-way hash partitioning actually balances token load (data
  loaders stall on the HOTTEST shard, so skew here is wall-clock).

Cross-engine portability as plans/catalog.py: md5-derived shard ids,
round(6)-pinned cosines with id tie-breaks, and UNROUNDED single
divisions of exact integer counts (the round-5 lesson: round(6) on
an exact rational flips on half-boundary quotients; one IEEE
division is bit-identical).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_cosine,
)
from formula1_etl_analytics_project_spark.plans.catalog_r5 import (
    _PREFIX_PAIRS_SQL,
)
from formula1_etl_analytics_project_spark.plans.catalog_r26 import (
    _WINNOW_PAIRS_SQL,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Cell-blocked kNN graph over the embedding corpus
# ===========================================================================

_KNN_SQL = f"""
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
), pairs AS (
  SELECT l.vec_id AS src, r.vec_id AS nbr,
         ROUND({_sql_cosine('l.embedding', 'r.embedding')}, 6) AS cos_sim
  FROM assigned l JOIN assigned r
    ON l.cell = r.cell AND l.vec_id <> r.vec_id
), ranked AS (
  SELECT src, nbr, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY cos_sim DESC, nbr) AS rank
  FROM pairs
)
SELECT src AS vec_id, CAST(rank AS INTEGER) AS rank,
       nbr AS neighbor_id, cos_sim
FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank
"""


@_register(
    "knn_graph_blocked",
    _KNN_SQL,
    bench=True,
)
def q_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus kNN graph: each vector's top-3 cosine neighbors
    among SAME-IVF-CELL candidates - the building block under
    SemDeDup keep-lists, graph-ANN indexes (NSW seeds), kNN label
    propagation, and LID estimates. `ann_ivf` answers one query
    against the index; this materializes every vector's neighborhood
    in one pass. Fully deterministic (sampled centroids, argmax cell
    with cent_id tie-break, round(6)-pinned cosines, neighbor-id tie
    break), so the oracle reproduces the blocked approximation
    exactly.

    Distributed form: the cell index is built once and persisted
    (both self-join sides read it - the recompute trap); candidates
    are limited to same-cell pairs (|corpus|^2/cells, the IVF
    blocking trade `embedding_neardup` documents), and the top-3 cut
    is a rank window PARTITIONED BY VECTOR whose filter pushes a
    WindowGroupLimit below the sort - at 100 TB each worker keeps 3
    rows per vector per partition, never a full neighbor list.
    """
    from formula1_etl_analytics_project_spark.operators.similarity import (
        assign_cells,
        cosine,
        sample_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    centroids = sample_centroids(emb, 8)
    indexed = (
        assign_cells(emb, centroids)
        .select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").alias("_vec"),
            "cell",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    indexed.count()  # eager: both self-join sides read the cell index
    pairs = (
        indexed.alias("l")
        .join(
            indexed.alias("r"),
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col("l._id") != F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("src"),
            F.col("r._id").alias("nbr"),
            F.round(cosine(F.col("l._vec"), F.col("r._vec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("nbr"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("src").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("nbr").alias("neighbor_id"),
            "cos_sim",
        )
        .orderBy("vec_id", "rank")
    )


# ===========================================================================
# Winnowing candidate recall/precision vs the exact ground truth
# ===========================================================================

_WINNOW_RECALL_SQL = f"""
WITH truth AS (
  SELECT id_a, id_b FROM ({_PREFIX_PAIRS_SQL})
), cand AS (
  SELECT doc_a, doc_b FROM ({_WINNOW_PAIRS_SQL})
), common AS (
  SELECT t.id_a FROM truth t
  JOIN cand c ON t.id_a = c.doc_a AND t.id_b = c.doc_b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM common) AS n_common,
       CAST((SELECT COUNT(*) FROM common) AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) AS recall,
       CAST((SELECT COUNT(*) FROM common) AS DOUBLE)
         / (SELECT COUNT(*) FROM cand) AS precision
"""


@_register(
    "winnow_recall_eval",
    _WINNOW_RECALL_SQL,
)
def q_winnow_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy evidence for the winnowing candidate generator:
    recall AND precision of `winnow_dup_pairs` against the exact
    jaccard >= 0.5 ground truth from the lossless prefix-filtered
    join - the same measure-the-approximation discipline as
    `minhash_lsh_recall`, which makes the repo's three candidate
    generators (LSH bands, winnow fingerprints, exact prefix filter)
    comparable by NUMBERS rather than by argument. Winnowing's
    guarantee is local (shared >= ~7-token runs), so sub-0.5-jaccard
    candidates are expected: that is what the precision column
    prices. Ratios are UNROUNDED single divisions of exact counts.

    Distributed form: both pair sets come from scalable plans (no
    all-pairs anywhere); each is localCheckpointed because it feeds
    two consumers (its own count and the intersection join - without
    the boundary the full generator re-executes per consumer, the
    recompute trap measured at 2x on `minhash_lsh_recall`); the
    intersection is an equi-join on the bounded pair sets.
    """
    from formula1_etl_analytics_project_spark.plans.catalog import CATALOG

    # ids-then-fetch variant: same exact pair set, 3.4 vs 289 MiB
    # through the exchange (SCALING.md) - the arrays-through original
    # cost this gate 296 MiB total, measured
    truth = (
        CATALOG["prefix_jaccard_pairs_df"]
        .spark(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    cand = (
        CATALOG["winnow_dup_pairs"]
        .spark(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    common = truth.join(
        cand,
        (truth.id_a == cand.doc_a) & (truth.id_b == cand.doc_b),
        "inner",
    )
    return (
        truth.agg(F.count("*").cast("bigint").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").cast("bigint").alias("n_cand")))
        .crossJoin(
            common.agg(F.count("*").cast("bigint").alias("n_common"))
        )
        .select(
            "n_truth",
            "n_cand",
            "n_common",
            (F.col("n_common").cast("double") / F.col("n_truth")).alias(
                "recall"
            ),
            (F.col("n_common").cast("double") / F.col("n_cand")).alias(
                "precision"
            ),
        )
    )


# ===========================================================================
# Training-shard balance audit (md5 hash sharding)
# ===========================================================================

_SHARD_BALANCE_SQL = """
WITH t AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 64 AS shard,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> x <> '')) AS n_tok
  FROM documents
), grp AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM t GROUP BY shard
)
SELECT CAST(shard AS INTEGER) AS shard, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE)
         / (SELECT SUM(n_tokens) FROM grp) AS token_share
FROM grp ORDER BY shard
"""


@_register(
    "shard_balance_report",
    _SHARD_BALANCE_SQL,
)
def q_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for md5 hash-sharding (the assignment the
    training-shard writer uses): per-shard document and TOKEN mass
    plus each shard's share of the total - data loaders synchronize
    on the hottest shard, so token skew here is training wall-clock,
    and the audit belongs next to the writer, not in a notebook.
    token_share is an unrounded division of exact integer sums
    (bit-identical across engines).

    Distributed form: shard id and token count are narrow per-row
    projections; the 64-group aggregate combines map-side and is
    localCheckpointed because it feeds TWO consumers (the report and
    the total) - without the boundary Catalyst re-executes the whole
    corpus scan for the 1-row total (the recompute trap; the first
    draft's plan showed two parquet scans). One corpus scan, one
    collapsing exchange, a broadcast scalar join back.
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        token_count,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    grp = (
        docs.select(
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % 64
            ).alias("shard"),
            token_count("text").alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    ).localCheckpoint()
    total = grp.agg(F.sum("n_tokens").alias("_total"))
    return (
        grp.crossJoin(F.broadcast(total))
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("_total")).alias(
                "token_share"
            ),
        )
        .orderBy("shard")
    )
