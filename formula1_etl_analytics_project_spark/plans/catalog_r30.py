"""Round-30 catalog entries (round 5, ninth leg) - diversified
retrieval selection:

* `mmr_diversify` - Maximal Marginal Relevance (Carbonell & Goldstein,
  SIGIR'98) over the BM25 candidate list: greedily pick k=3 documents
  maximizing lambda*relevance - (1-lambda)*max-similarity-to-selected.
  The missing piece between ranking (`bm25_doc_scores`, `rrf_fusion`)
  and quota diversity (`diversity_capped_topk`): quota caps diversify
  by METADATA (source), MMR diversifies by CONTENT (token-set
  overlap), which is what retrieval-augmented pipelines actually use
  to stop near-identical passages filling a context window.

Cross-engine portability: the greedy argmax chain is UNROLLED (k=3
steps as CTEs/joins - the sequential dependency is on the bounded
candidate list, never the corpus); relevance is the round(6)-pinned
BM25 score, pairwise similarity is an unrounded exact-integer token
jaccard, and every argmax breaks ties on doc_id.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.plans.catalog_r10 import (
    _BM25_SQL,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

_LAMBDA = 0.7

_MMR_SQL = f"""
WITH cand AS (
  SELECT doc_id, bm25 FROM ({_BM25_SQL})
  ORDER BY bm25 DESC, doc_id LIMIT 10
), ctoks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           UNNEST(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
    WHERE doc_id IN (SELECT doc_id FROM cand))
  GROUP BY doc_id, tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ctoks GROUP BY doc_id
), sim AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         CAST(COUNT(*) AS DOUBLE)
           / (sa.n + sb.n - COUNT(*)) AS s
  FROM ctoks a JOIN ctoks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
), s1 AS (
  SELECT doc_id, bm25, {_LAMBDA} * bm25 AS mmr
  FROM cand ORDER BY bm25 DESC, doc_id LIMIT 1
), m2 AS (
  SELECT c.doc_id,
         {_LAMBDA} * c.bm25
           - {1 - _LAMBDA:.1f} * COALESCE(p.s, 0.0) AS mmr
  FROM cand c
  LEFT JOIN sim p ON p.da = c.doc_id
                 AND p.db = (SELECT doc_id FROM s1)
  WHERE c.doc_id <> (SELECT doc_id FROM s1)
), s2 AS (
  SELECT doc_id, mmr FROM m2 ORDER BY mmr DESC, doc_id LIMIT 1
), m3 AS (
  SELECT c.doc_id,
         {_LAMBDA} * c.bm25
           - {1 - _LAMBDA:.1f} * GREATEST(COALESCE(p1.s, 0.0),
                                          COALESCE(p2.s, 0.0)) AS mmr
  FROM cand c
  LEFT JOIN sim p1 ON p1.da = c.doc_id
                  AND p1.db = (SELECT doc_id FROM s1)
  LEFT JOIN sim p2 ON p2.da = c.doc_id
                  AND p2.db = (SELECT doc_id FROM s2)
  WHERE c.doc_id <> (SELECT doc_id FROM s1)
    AND c.doc_id <> (SELECT doc_id FROM s2)
), s3 AS (
  SELECT doc_id, mmr FROM m3 ORDER BY mmr DESC, doc_id LIMIT 1
)
SELECT 1 AS pick, doc_id, mmr FROM s1
UNION ALL SELECT 2, doc_id, mmr FROM s2
UNION ALL SELECT 3, doc_id, mmr FROM s3
ORDER BY pick
"""


def _argmax1(df: DataFrame, score_col: str) -> DataFrame:
    """Deterministic 1-row argmax: highest score, doc_id tie-break."""
    return df.orderBy(F.desc(score_col), F.asc("doc_id")).limit(1)


@_register(
    "mmr_diversify",
    _MMR_SQL,
    bench=True,
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from the BM25 top-10,
    greedily select 3 documents maximizing lambda*bm25 -
    (1-lambda)*max_jaccard_to_already_selected (lambda=0.7) - the
    content-aware diversification that keeps near-duplicate passages
    from filling a retrieval budget. Deterministic end-to-end: BM25
    relevance is the existing round(6)-pinned score, the pairwise
    token-set jaccard is an UNROUNDED division of exact integer
    counts, the lambda mix is one multiply-subtract of identical
    doubles, and every greedy step breaks ties on doc_id.

    Distributed form: MMR's sequential dependency is confined to the
    BOUNDED candidate list (10 rows after the TakeOrdered BM25 cut -
    localCheckpointed once because four greedy stages consume it);
    the corpus-scale work (BM25 scoring, candidate token sets) stays
    set-oriented with map-side combines. The greedy chain is k-1
    bounded joins, not a driver loop: no collect() anywhere. At
    100 TB the candidate cut is what bounds the sequential part -
    exactly how production re-rankers stage MMR after ANN/BM25.
    """
    from formula1_etl_analytics_project_spark.plans.catalog import CATALOG

    cand = (
        CATALOG["bm25_doc_scores"]
        .spark(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "bm25")
        .localCheckpoint()
    )
    docs = read_table(spark, sf_dir, "documents", spread=True)
    from formula1_etl_analytics_project_spark.functions.text import tokens

    ctoks = (
        docs.join(F.broadcast(cand.select("doc_id")), "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    sizes = ctoks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = ctoks.select(F.col("doc_id").alias("da"), "tok")
    b = ctoks.select(F.col("doc_id").alias("db"), "tok")
    sim = (
        a.join(b, "tok")
        .filter(F.col("da") != F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
        .join(sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .select(
            "da",
            "db",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("s"),
        )
        .localCheckpoint()
    )
    lam = F.lit(_LAMBDA)
    one_m = F.lit(round(1 - _LAMBDA, 1))

    s1 = _argmax1(
        cand.select("doc_id", "bm25", (lam * F.col("bm25")).alias("mmr")),
        "mmr",
    ).localCheckpoint()
    s1_id = s1.select(F.col("doc_id").alias("_sel1"))

    m2 = (
        cand.crossJoin(F.broadcast(s1_id))
        .filter(F.col("doc_id") != F.col("_sel1"))
        .join(
            sim.select(
                F.col("da").alias("doc_id"),
                F.col("db").alias("_sel1"),
                F.col("s").alias("s1v"),
            ),
            ["doc_id", "_sel1"],
            "left",
        )
        .select(
            "doc_id",
            "_sel1",
            (
                lam * F.col("bm25")
                - one_m * F.coalesce(F.col("s1v"), F.lit(0.0))
            ).alias("mmr"),
        )
    )
    s2 = _argmax1(m2, "mmr").localCheckpoint()
    s2_id = s2.select(F.col("doc_id").alias("_sel2"))

    m3 = (
        cand.crossJoin(F.broadcast(s1_id))
        .crossJoin(F.broadcast(s2_id))
        .filter(
            (F.col("doc_id") != F.col("_sel1"))
            & (F.col("doc_id") != F.col("_sel2"))
        )
        .join(
            sim.select(
                F.col("da").alias("doc_id"),
                F.col("db").alias("_sel1"),
                F.col("s").alias("s1v"),
            ),
            ["doc_id", "_sel1"],
            "left",
        )
        .join(
            sim.select(
                F.col("da").alias("doc_id"),
                F.col("db").alias("_sel2"),
                F.col("s").alias("s2v"),
            ),
            ["doc_id", "_sel2"],
            "left",
        )
        .select(
            "doc_id",
            (
                lam * F.col("bm25")
                - one_m
                * F.greatest(
                    F.coalesce(F.col("s1v"), F.lit(0.0)),
                    F.coalesce(F.col("s2v"), F.lit(0.0)),
                )
            ).alias("mmr"),
        )
    )
    s3 = _argmax1(m3, "mmr")

    return (
        s1.select(F.lit(1).alias("pick"), "doc_id", "mmr")
        .unionByName(s2.select(F.lit(2).alias("pick"), "doc_id", "mmr"))
        .unionByName(s3.select(F.lit(3).alias("pick"), "doc_id", "mmr"))
        .orderBy("pick")
    )
