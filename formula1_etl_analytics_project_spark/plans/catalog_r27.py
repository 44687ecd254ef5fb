"""Round-27 catalog entries (round 5, sixth leg) - batch model
inference, templated-spam detection, and lead-lag discovery:

* `linear_quality_classifier` - fastText-shaped batch INFERENCE: a
  hashed bag-of-words linear model scored over the corpus with the
  weight table as a broadcast dimension - the "apply a trained
  filter model to 100 TB" surface (quality classifiers are how
  production corpora are actually filtered; the heuristic scores in
  `doc_quality` are the bootstrap, this is the model-driven stage).
* `template_skeleton_stats` - templated-document detection: hash the
  NON-ALPHANUMERIC SKELETON of each document (digits/letters
  collapsed to a placeholder) so machine-generated families that
  exact dedup misses (same boilerplate, different payload) group
  together; reported per source as template counts and dup rates.
* `xcorr_best_lag` - lead-lag discovery between two daily series
  (order count leading revenue): Pearson correlation at every lag
  0..14 via exact decimal moments over a banded day-dimension join.

Cross-engine portability as plans/catalog.py: md5-derived hashes and
weights (never engine RNG or murmur), integer weight arithmetic,
decimal moment sums cast to double only at the output expression,
IEEE sqrt (correctly rounded, hence engine-identical) instead of
pow/exp in scored paths, round(6) boundaries.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _SQL_NORM_TOKS,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

_TOKS_SQL = _SQL_NORM_TOKS

# ===========================================================================
# Hashed linear classifier inference (fastText-shaped quality filter)
# ===========================================================================

_N_BUCKETS = 4096

_CLASSIFIER_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
), feat AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 8))::BIGINT % {_N_BUCKETS} AS bucket
  FROM toks
), wts AS (
  SELECT i AS bucket,
         (('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2001)
           - 1000 AS w
  FROM range(0, {_N_BUCKETS}) r(i)
), scored AS (
  SELECT f.doc_id, CAST(SUM(w.w) AS BIGINT) AS sum_w,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM feat f JOIN wts w ON f.bucket = w.bucket
  GROUP BY f.doc_id
)
SELECT doc_id, n_tok,
       CAST(sum_w AS DOUBLE) / (1000.0 * n_tok) AS logit,
       CASE WHEN sum_w > 0 THEN 'keep' ELSE 'drop' END AS label
FROM scored ORDER BY doc_id
"""


@_register(
    "linear_quality_classifier",
    _CLASSIFIER_SQL,
    bench=True,
)
def q_linear_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch inference of a hashed bag-of-words linear classifier
    (the fastText / quality-filter shape): tokens hash into 4096
    feature buckets, each bucket carries a model weight, a document's
    logit is the mean bucket weight, and the label thresholds at 0.
    The weight table here is md5-DERIVED (deterministic, engine-
    identical) because the container has no trained model - the
    Spark-side plumbing (hashing-trick featurizer, broadcast weight
    join, map-side partial aggregation, integer-exact logits) is the
    real, tested surface a production model would drop into; the
    classification threshold compares the INTEGER weight sum, so no
    float boundary decides a label.

    Distributed form: the 4096-row weight table broadcasts (a real
    model's dense head fits the same pattern); the exploded token
    stream never shuffles - the bucket join is map-side against the
    broadcast and the per-doc aggregate combines partially before
    the single doc_id exchange. At 100 TB: one scan, one exchange of
    (doc_id, partial-sum) pairs. No sigmoid in the checked output:
    exp() ulps differ across libms, the raw logit doesn't. The logit
    is deliberately UNROUNDED: one IEEE division of two exact
    integers is bit-identical across engines, whereas round(6)
    flipped on exact half-boundary quotients (sum_w/(1000*n_tok) =
    -0.0649375 rounded differently at sf0.1 - caught pre-driver).
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        normalize,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    feat = docs.select(
        "doc_id", F.explode(tokens(normalize("text"))).alias("t")
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("bigint")
            % _N_BUCKETS
        ).alias("bucket"),
    )
    wts = spark.range(0, _N_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.conv(
                F.substring(F.md5(F.col("id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2001
            - 1000
        ).alias("w"),
    )
    scored = (
        feat.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("w").cast("bigint").alias("sum_w"),
            F.count("*").cast("bigint").alias("n_tok"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tok",
        (
            F.col("sum_w").cast("double")
            / (F.lit(1000.0) * F.col("n_tok"))
        ).alias("logit"),
        F.when(F.col("sum_w") > 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    ).orderBy("doc_id")


# ===========================================================================
# Templated-document (boilerplate-family) detection via skeleton hash
# ===========================================================================

_SKELETON_SQL = """
WITH skel AS (
  SELECT source,
         md5(trim(regexp_replace(
           regexp_replace(text, '[A-Za-z0-9]+', '#', 'g'),
           '\\s+', ' ', 'g'))) AS skel_hash
  FROM documents
), grp AS (
  SELECT source, skel_hash, COUNT(*) AS cnt
  FROM skel GROUP BY source, skel_hash
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_templates,
       CAST(MAX(cnt) AS BIGINT) AS max_template_docs,
       CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt)
         AS template_dup_rate
FROM grp GROUP BY source ORDER BY source
"""


@_register(
    "template_skeleton_stats",
    _SKELETON_SQL,
)
def q_template_skeleton_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Templated-spam detection: collapse every alphanumeric run to a
    placeholder, whitespace-normalize, and hash the remaining
    STRUCTURAL SKELETON (punctuation, layout, markup) - documents
    stamped from the same template (product pages, log lines, SEO
    spam) collide on the skeleton even though their payloads differ,
    which is exactly the family exact-hash dedup (`exact_dedup_docs`)
    misses and near-dup scoring prices one pair at a time. Reported
    per source: doc and template counts, the largest template family,
    and the template dup rate (fraction of docs that are a repeat of
    some earlier skeleton).

    Distributed form: the skeleton is a narrow per-row projection
    (two regex passes + md5, one codegen stage over the scan); the
    (source, skeleton) aggregate combines map-side and its exchange
    carries 16-byte digests, never text; the per-source rollup moves
    already-collapsed group rows. At 100 TB: one scan, two
    collapsing exchanges, no joins.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    skel = docs.select(
        "source",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace("text", "[A-Za-z0-9]+", "#"),
                    r"\s+",
                    " ",
                )
            )
        ).alias("skel_hash"),
    )
    grp = skel.groupBy("source", "skel_hash").agg(
        F.count("*").alias("cnt")
    )
    return (
        grp.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_templates"),
            F.max("cnt").cast("bigint").alias("max_template_docs"),
            (
                (F.sum("cnt") - F.count("*")).cast("double")
                / F.sum("cnt")
            ).alias("template_dup_rate"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Lead-lag discovery: Pearson cross-correlation over a banded day join
# ===========================================================================

_XCORR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS DECIMAL(19,0)) AS cnt,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) * 100 AS DECIMAL(19,0)) AS rev_c
  FROM orders GROUP BY 1
), lagged AS (
  SELECT date_diff('day', b.day, a.day) AS lag,
         a.rev_c AS x, b.cnt AS y
  FROM daily a JOIN daily b
    ON b.day BETWEEN a.day - 14 AND a.day
), mom AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n_days,
       ROUND(
         (n_days * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(n_days * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(n_days * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS xcorr
FROM mom ORDER BY lag
"""


@_register(
    "xcorr_best_lag",
    _XCORR_SQL,
)
def q_xcorr_best_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag discovery: Pearson cross-correlation between daily
    revenue and the order COUNT `lag` days earlier, for every lag in
    0..14 - the diagnostic that finds how far one series leads
    another (demand signals leading revenue, ingestion leading
    storage) before anyone fits a forecasting model. All five
    moments accumulate as EXACT integers (revenue scaled to cents,
    both series as DECIMAL(19,0) so every product computes in
    int128/DECIMAL(38,0) - DECIMAL(18) operands overflowed DuckDB's
    int64 multiply at sf0.1; Pearson is scale-invariant so the cents
    scaling cancels) and convert to double only inside the final
    correlation expression - and the only non-rational step, sqrt,
    is correctly rounded by IEEE-754 in both engines, so the
    round(6) output cannot flip on a libm ulp the way pow/exp can.

    Distributed form: the corpus-scale work is the daily rollup (one
    map-side-combinable exchange); the 15-lag pairing joins the
    BOUNDED day dimension to itself via the banded broadcast
    (buckets of width 15, broadcast side replicated to two buckets,
    band filter after the hash match) - never a fact-table self-join
    and never a window that would single-partition the series. The
    moment aggregate then collapses 15x|days| rows map-side to 15
    output rows.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count("*").cast("decimal(19,0)").alias("cnt"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            * 100
        )
        .cast("decimal(19,0)")
        .alias("rev_c"),
    )
    ed = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    a = daily.select("day", F.col("rev_c").alias("x")).withColumn(
        "bucket", F.floor(ed / 15)
    )
    ed_b = F.datediff(F.col("day_b"), F.lit("1970-01-01").cast("date"))
    b = (
        daily.select(F.col("day").alias("day_b"), F.col("cnt").alias("y"))
        .withColumn(
            "bucket",
            F.explode(F.array(F.floor(ed_b / 15), F.floor(ed_b / 15) + 1)),
        )
    )
    lagged = (
        a.join(F.broadcast(b), "bucket")
        .filter(
            (F.col("day_b") >= F.date_sub(F.col("day"), 14))
            & (F.col("day_b") <= F.col("day"))
        )
        .select(
            F.datediff(F.col("day"), F.col("day_b")).alias("lag"), "x", "y"
        )
    )
    mom = lagged.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_days").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    return mom.select(
        F.col("lag").cast("int").alias("lag"),
        "n_days",
        F.round(
            (nd * F.col("sxy").cast("double") - sx * sy)
            / (
                F.sqrt(nd * F.col("sxx").cast("double") - sx * sx)
                * F.sqrt(nd * F.col("syy").cast("double") - sy * sy)
            ),
            6,
        ).alias("xcorr"),
    ).orderBy("lag")
