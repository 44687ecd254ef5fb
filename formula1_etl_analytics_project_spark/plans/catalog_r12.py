"""Round-12 catalog entries (round 4) - 3 entries, all data-selection /
dedup policy operators from the published LLM-curation toolbox:

* `dsir_importance_weights` - DSIR (Data Selection via Importance
  Resampling, Xie et al. 2023) reduced to its SQL-expressible core:
  hashed-bigram bag-of-features, two smoothed bucket multinomials
  (target = in-domain slice, raw = whole corpus), per-document log
  importance weight sum_b c_db * (ln p_t(b) - ln p_r(b)). Documents
  with the highest weights are the ones to keep when the training
  budget is smaller than the crawl.
* `semdedup_keep` - SemDeDup-style keeper decision (Abbas et al.
  2023): cluster embeddings into IVF cells, and within each cell drop
  every vector that has a lower-id near-duplicate (cosine >= tau).
  Where `embedding_neardup` emits the candidate PAIRS, this emits the
  per-item keep/drop verdict a curation pipeline actually applies.
* `soft_dedup_weights` - duplication-aware DOWN-WEIGHTING instead of
  removal (the SoftDeDup idea): per document, the mean document
  frequency of its distinct word 5-grams becomes a duplication factor,
  and sampling weight = 1/dup_factor. Unique prose keeps weight ~1,
  boilerplate shared by n documents decays toward 1/n - no row is
  deleted, so rare-but-duplicated knowledge is kept at reduced rate.

Portability rules as in plans/catalog.py: exact integer counts feed
deterministic double terms, each cast to DECIMAL before accumulation so
per-group sums are order-independent, ROUND(x, 6) on compared floats,
md5-derived feature hashes reproduced verbatim by the oracle.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.functions.text import (
    normalize,
    shingles,
    tokens,
)
from formula1_etl_analytics_project_spark.plans.catalog import _register, _sql_cosine
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# DSIR hashed-bigram importance weights (data selection)
# ===========================================================================

_DSIR_DIM = 256  # feature buckets; a real run uses 2^16-2^20
_DSIR_TARGET_LANG = "en"  # the "in-domain" slice the sampler aims at

_DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
           x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, lang,
         UNNEST(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1])) AS g
  FROM toks
  WHERE len(t) >= 2
), feats AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_DSIR_DIM} AS b,
         COUNT(*) AS c
  FROM bg GROUP BY doc_id, lang, b
), raw_lm AS (
  SELECT b, SUM(c) AS rc FROM feats GROUP BY b
), tgt_lm AS (
  SELECT b, SUM(c) AS tc FROM feats
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
), tots AS (
  SELECT SUM(c) AS rtot,
         SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS ttot
  FROM feats
)
SELECT f.doc_id,
       ANY_VALUE(f.lang) AS lang,
       CAST(SUM(f.c) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
           f.c * (ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE)
                      / CAST(x.ttot + {_DSIR_DIM} AS DOUBLE))
                  - ln(CAST(r.rc + 1 AS DOUBLE)
                       / CAST(x.rtot + {_DSIR_DIM} AS DOUBLE)))
           AS DECIMAL(38,12))) AS DOUBLE), 6) AS log_w
FROM feats f
JOIN raw_lm r USING (b)
LEFT JOIN tgt_lm t USING (b)
CROSS JOIN tots x
GROUP BY f.doc_id
"""


@_register(
    "dsir_importance_weights",
    _DSIR_SQL,
    gate_priority=True,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: score every document by how much more
    likely its hashed-bigram features are under the TARGET domain's
    multinomial than under the RAW corpus multinomial -
    log w(d) = sum_b c_db * (ln p_t(b) - ln p_r(b)) with add-1
    smoothing over the {_DSIR_DIM}-bucket hashed feature space. The
    target slice here is the lang='en' documents (standing in for
    "looks like Wikipedia"); resampling the corpus proportional to
    exp(log_w) yields the DSIR-selected training set.

    Determinism: exact integer bucket counts feed ln() on bit-identical
    double ratios in both engines; each c*(ln-ln) term is cast to
    decimal(38,12) so the per-doc sum is order-independent.

    Shape at 100 TB: the ONLY corpus-wide shuffle is the
    (doc_id, bucket) hash-agg (same profile as TF-IDF); both language
    models are <= {_DSIR_DIM} rows - computed with a filtered
    aggregation in one pass over the per-doc counts, then broadcast
    back. No vocabulary pass (the hashing trick needs no dictionary),
    no window, no UDF. In a real deployment the target LM comes from a
    small curated set and is a literal broadcast table; the raw LM is
    one map-side-combined agg over the crawl. The per-doc bucket-count
    table feeds BOTH the LM aggregation and the final scoring join, so
    it is persisted once (integer triples, far smaller than raw text) -
    without it the plan re-scans the corpus and re-runs the explode for
    each leg.
    """
    from pyspark import StorageLevel

    docs = read_table(spark, sf_dir, "documents", spread=True)
    t = tokens(normalize("text"))
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = (
        docs.select("doc_id", "lang", t.alias("t"))
        .filter(n >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("g"))
        .select(
            "doc_id",
            "lang",
            (F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
             % _DSIR_DIM).alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    feats.count()  # eager: shared by the LM agg and the scoring join
    is_tgt = F.col("lang") == _DSIR_TARGET_LANG
    raw_lm = feats.groupBy("b").agg(
        F.sum("c").alias("rc"),
        F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).alias("tc"),
    )
    tots = feats.agg(
        F.sum("c").alias("rtot"),
        F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).alias("ttot"),
    )
    p_t = (F.col("tc") + 1).cast("double") / (F.col("ttot") + _DSIR_DIM).cast(
        "double"
    )
    p_r = (F.col("rc") + 1).cast("double") / (F.col("rtot") + _DSIR_DIM).cast(
        "double"
    )
    term = (F.col("c") * (F.log(p_t) - F.log(p_r))).cast("decimal(38,12)")
    return (
        feats.join(F.broadcast(raw_lm), "b")
        .crossJoin(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("c").alias("n_bigrams"),
            F.round(F.sum(term).cast("double"), 6).alias("log_w"),
        )
    )


# ===========================================================================
# SemDeDup keeper decision (embedding near-dup -> keep/drop verdict)
# ===========================================================================

_SEMDEDUP_TAU = 0.4  # tuned to the synthetic corpus (max pairwise ~0.51)

_SEMDEDUP_SQL = f"""
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
), dup AS (
  SELECT DISTINCT r.vec_id
  FROM assigned l JOIN assigned r
    ON l.cell = r.cell AND l.vec_id < r.vec_id
  WHERE ROUND({_sql_cosine('l.embedding', 'r.embedding')}, 6)
        >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
"""


@_register(
    "semdedup_keep",
    _SEMDEDUP_SQL,
    gate_priority=True,
)
def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keeper policy: within each IVF cell, a vector is
    DROPPED iff some lower-id vector in the same cell has cosine
    similarity >= tau with it (lowest id per near-dup group survives -
    the same deterministic keep-first convention as `dedup_first_order`
    applied in embedding space). `embedding_neardup` checks the
    candidate pairs; this entry checks the decision a curation pipeline
    executes, covering the anti-join from candidates back to items.

    Shape at 100 TB: the pairwise cosine runs only WITHIN cells (the
    clustering bounds the quadratic term - SemDeDup's entire point),
    the dup-id set is DISTINCT vec_ids (far smaller than the pair list)
    and lands in a broadcast-able anti-join side per cell; nothing
    all-pairs anywhere. The cell index is built once and feeds both
    self-join sides (persisted - same as the pairs entry).
    """
    from formula1_etl_analytics_project_spark.operators.similarity import (
        assign_cells,
        sample_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    centroids = sample_centroids(emb, 8)
    from pyspark import StorageLevel

    indexed = (
        assign_cells(emb, centroids)
        .select("vec_id", "embedding", "cell")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    indexed.count()  # eager: the cell index feeds three plan legs
    from formula1_etl_analytics_project_spark.operators.similarity import cosine

    pairs = indexed.alias("l").join(
        indexed.alias("r"),
        (F.col("l.cell") == F.col("r.cell"))
        & (F.col("l.vec_id") < F.col("r.vec_id")),
    )
    dup = (
        pairs.filter(
            F.round(cosine(F.col("l.embedding"), F.col("r.embedding")), 6)
            >= _SEMDEDUP_TAU
        )
        .select(F.col("r.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return indexed.join(dup, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dup").isNull().alias("keep")
    )


# ===========================================================================
# Soft dedup: duplication-aware sampling weights (down-weight, don't drop)
# ===========================================================================

_SOFT_DEDUP_SQL = r"""
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
), df AS (
  SELECT gk, COUNT(*) AS n_docs FROM grams GROUP BY gk
)
SELECT g.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(c.n_docs) AS BIGINT) AS sum_df,
       ROUND(CAST(SUM(c.n_docs) AS DOUBLE) / COUNT(*), 6) AS dup_factor,
       ROUND(COUNT(*) / CAST(SUM(c.n_docs) AS DOUBLE), 6) AS weight
FROM grams g JOIN df c USING (gk)
GROUP BY g.doc_id
"""


@_register(
    "soft_dedup_weights",
    _SOFT_DEDUP_SQL,
    gate_priority=True,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware DOWN-WEIGHTING (soft dedup): instead of
    deleting near-duplicate documents, give each a sampling weight =
    1 / dup_factor where dup_factor is the mean document frequency of
    the doc's distinct word 5-grams. A unique document scores ~1.0, a
    paragraph shared verbatim by n documents drags its carriers toward
    1/n - the epoch sampler then sees every document, but duplicated
    content is not over-represented. Complements `dup_ngram_fraction`
    (which flags docs for REMOVAL past a threshold): same hashed-gram
    machinery, opposite policy; the weight column composes directly
    with `weighted_sample` / `mixture_resample_docs`.

    Shape at 100 TB: identical shuffle profile to `dup_ngram_fraction`
    - the 5-gram strings never shuffle (each collapses to a 60-bit
    md5-derived BIGINT executor-side), one global hash-agg for document
    frequency, one join back, one per-doc agg. Integer sums; the two
    compared doubles are single divisions of exact integers.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "doc_id", F.explode(shingles("text", 5)).alias("g")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("gk"),
    )
    df_tbl = grams.groupBy("gk").agg(F.count("*").alias("n_docs"))
    return (
        grams.join(df_tbl, "gk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("n_docs").alias("sum_df"),
            F.round(
                F.sum("n_docs").cast("double") / F.count("*"), 6
            ).alias("dup_factor"),
            F.round(
                F.count("*") / F.sum("n_docs").cast("double"), 6
            ).alias("weight"),
        )
    )
