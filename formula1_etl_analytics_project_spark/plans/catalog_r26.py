"""Round-26 catalog entries (round 5, fifth leg) - robust local
fingerprinting, winnow-based near-dup candidates, the per-source
datasheet, and a banded-join EMA trend:

* `winnow_fingerprints` - MOSS-style winnowing (Schleimer et al.,
  SIGMOD'03): per-document LOCAL fingerprints (window-minima of
  4-gram rolling hashes) instead of the whole-doc md5 of
  `doc_fingerprint` - robust to small edits, the unit for
  copy-detection and near-dup candidate generation.
* `winnow_dup_pairs` - near-dup candidate pairs from shared winnow
  fingerprints: the alternative candidate generator to MinHash-LSH
  (`minhash_lsh_pairs`) that needs NO signature tuning and gives
  per-pair match evidence (shared fingerprint count).
* `source_datasheet` - the one-stop per-source dataset card (volume,
  token mass, mean quality, exact-dup rate, language share) a
  curation run publishes as its datasheet; one corpus scan.
* `ema_revenue_trend` - exponentially-weighted (truncated 20-day)
  daily revenue trend via a BANDED self-join on the bounded day
  dimension - the time-series smoothing surface, shuffle-free past
  the daily rollup.

Cross-engine portability as plans/catalog.py: md5-derived 60-bit
hashes, integer-first arithmetic, decimal-cast double sums, UNROUNDED
single divisions for exact-integer ratios (round(6) on an exact
rational flips on half-boundary quotients - the classifier lesson),
digests instead of list columns at the output boundary (the driver
comparator rejects LIST outputs - COVERAGE.md ledger notes).

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _dsum,
    _sql_dsum,
    _SQL_NORM_TOKS,
    _SQL_QUALITY,
    _SQL_TOKENS,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Winnowing fingerprints (shared gram/window pipeline for both entries)
# ===========================================================================

_WINNOW_CTE = f"""
WITH normed AS (
  SELECT doc_id, {_SQL_NORM_TOKS} AS toks
  FROM documents
), grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))
           ::BIGINT AS h
  FROM normed, UNNEST(generate_series(1, len(toks) - 3)) AS u(i)
  WHERE len(toks) >= 4
), wmin AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wmin
)
"""

_WINNOW_FP_SQL = (
    _WINNOW_CTE
    + """
, per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
), agg2 AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
         md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)) AS fp_digest
  FROM fps GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.n_grams AS BIGINT) AS n_grams, a.n_fp,
       CAST(a.n_fp AS DOUBLE) / p.n_grams AS fp_density,
       a.fp_digest
FROM per_doc p JOIN agg2 a ON p.doc_id = a.doc_id
ORDER BY p.doc_id
"""
)


def _winnow_fps(spark: SparkSession, sf_dir: str, persist_grams=False):
    """(grams, fps) DataFrames shared by both winnow entries: 4-token
    gram hashes with positions, and the distinct winnowed fingerprints
    per document (window-minima, w=4, left-closed so short prefixes
    still fingerprint). persist_grams=True caches the gram table for
    callers that consume it through MORE THAN ONE subtree (the
    fingerprint entry aggregates grams directly AND through fps -
    without the boundary the scan+tokenize+md5 pipeline runs twice,
    the recompute trap)."""
    from formula1_etl_analytics_project_spark.functions.text import (
        normalize,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    sized = docs.select(
        "doc_id", tokens(normalize("text")).alias("toks")
    ).filter(F.size("toks") >= 4)
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 3),
        lambda i: F.array_join(F.slice(F.col("toks"), i, 4), " "),
    )
    grams = sized.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    if persist_grams:
        from pyspark.storagelevel import StorageLevel

        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    fps = (
        grams.select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
    )
    return grams, fps


@_register(
    "winnow_fingerprints",
    _WINNOW_FP_SQL,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: hash every 4-token
    gram, slide a window of 4 consecutive gram hashes, keep each
    window's minimum - the guarantee is that any shared run of
    ~7 tokens between two documents yields at least one shared
    fingerprint, while only ~2/(w+1) of gram hashes are kept. Unlike
    `doc_fingerprint`'s whole-doc md5 (brittle to a single edit),
    these LOCAL fingerprints survive insertions and reorderings -
    the copy-detection primitive. Output per doc: gram count,
    fingerprint count, density, and an md5 digest of the sorted
    fingerprint set (a digest, not a LIST column - the driver
    comparator rejects list cells).

    Distributed form: gram hashing is a narrow projection; the
    window-min partitions BY DOCUMENT (millions of independent
    small windows - no global sort, parallelism = doc count); the
    only exchanges are the doc_id-keyed window/groupBys. Fingerprints
    ship as 60-bit BIGINTs, never gram strings.
    """
    grams, fps = _winnow_fps(spark, sf_dir, persist_grams=True)
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    agg2 = fps.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("fp")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("fp_digest"),
    )
    return (
        per_doc.join(agg2, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_fp",
            (F.col("n_fp").cast("double") / F.col("n_grams")).alias(
                "fp_density"
            ),
            "fp_digest",
        )
        .orderBy("doc_id")
    )


_WINNOW_PAIRS_SQL = (
    _WINNOW_CTE
    + """
, df AS (
  SELECT fp, COUNT(*) AS nd FROM fps GROUP BY fp
), keyed AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN df ON f.fp = df.fp
  WHERE df.nd BETWEEN 2 AND 50
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM keyed a JOIN keyed b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
)
SELECT p.doc_a, p.doc_b, p.shared_fps,
       CAST(p.shared_fps AS DOUBLE)
         / (sa.n_fp + sb.n_fp - p.shared_fps) AS est_jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""
)


@_register(
    "winnow_dup_pairs",
    _WINNOW_PAIRS_SQL,
    bench=True,
)
def q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing
    fingerprints: documents sharing >= 2 window-min fingerprints,
    scored by fingerprint-set Jaccard. The third candidate generator
    in the dedup family - MinHash-LSH trades recall for tuning
    (bands/rows), prefix-filtered set-similarity is exact but
    gram-heavy; winnowing needs no tuning and carries per-pair match
    EVIDENCE (which fingerprints, how many) for audit.

    Distributed form: the pair generation is an equi-join keyed on
    the 60-bit fingerprint (8-byte exchange, never gram text).
    Stop-fingerprints - boilerplate window-minima appearing in > 50
    docs - are dropped BEFORE the self-join (the df CTE), bounding
    any key's fanout at 50*49/2 pairs, the same hot-key cap the
    LSH band join uses; singleton fingerprints (nd=1) are dropped
    too since they cannot form a pair. Doc sizes join back on
    doc_id. At 100 TB the fp->doc_id inverted index is the only
    corpus-scale shuffle.
    """
    _, fps = _winnow_fps(spark, sf_dir)
    fps = fps.persist()
    df_counts = fps.groupBy("fp").agg(F.count("*").alias("nd"))
    keyed = (
        fps.join(
            df_counts.filter(
                (F.col("nd") >= 2) & (F.col("nd") <= 50)
            ).select("fp"),
            "fp",
        )
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp")
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp")
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_fp", "na"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_fp", "nb"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            (
                F.col("shared_fps").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_fps"))
            ).alias("est_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ===========================================================================
# Per-source dataset datasheet (one-scan card)
# ===========================================================================

_DATASHEET_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(CAST({_SQL_QUALITY}
         AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS mean_quality,
       CAST(COUNT(*) - COUNT(DISTINCT
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
         AS DOUBLE) / COUNT(*) AS exact_dup_rate,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS en_frac
FROM documents GROUP BY source ORDER BY source
"""


@_register(
    "source_datasheet",
    _DATASHEET_SQL,
)
def q_source_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dataset card a curation run publishes: volume
    (docs, tokens, chars), mean heuristic quality, exact-duplicate
    rate, and English share - the datasheet row consumed by
    `domain_mix_weights`-style mixing decisions and dataset
    documentation. Composes four signal families the catalog checks
    individually (`doc_token_stats`, `doc_quality`,
    `exact_dedup_docs`, lang mix) into ONE table, so their
    interaction (same normalization, same denominators) is itself
    oracle-checked.

    Distributed form: one corpus scan. Every signal is a narrow
    per-row projection folded into a single groupBy(source): counts
    and token sums combine map-side; the per-doc quality score
    (already round(6)) sums order-free via the decimal cast; the
    dup rate rides COUNT(DISTINCT md5), whose two-phase rewrite
    adds one (source, fp) exchange of collapsed partials - the only
    exchanges move aggregates, never text. No second scan, no join
    of 4 sub-aggregates - at 100 TB the scan IS the cost, so the
    card must come out of one pass.
    """
    from formula1_etl_analytics_project_spark.functions.text import (
        fingerprint,
        quality_score,
        token_count,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    per_doc = docs.select(
        "source",
        "lang",
        "n_chars",
        token_count("text").alias("n_tok"),
        quality_score("text").alias("q"),
        fingerprint("text").alias("fp"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            (
                _dsum(F.col("q"), "_", scale=6).cast("double")
                / F.count("*")
            ).alias("mean_quality"),
            (
                (F.count("*") - F.countDistinct("fp")).cast("double")
                / F.count("*")
            ).alias("exact_dup_rate"),
            (
                F.sum(
                    F.when(F.col("lang") == "en", 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("en_frac"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Truncated-EMA daily revenue trend via a banded day-dimension join
# ===========================================================================

# Exact decimal weights 0.8^lag quantized to 6 dp HALF_UP, shared by
# BOTH twins as literals: runtime pow() differs by 1 ulp between the
# JVM and DuckDB's libm, and that ulp survived round(6) into the final
# quotient (caught at sf0.001 pre-driver). Literals make the weight
# table bit-identical by construction. 20 lags.
_EMA_W = [
    str(
        (Decimal(8) ** d / Decimal(10) ** d).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )
    for d in range(20)
]

_EMA_W_CASE = (
    "CASE date_diff('day', b.day, a.day) "
    + " ".join(
        f"WHEN {d} THEN CAST('{w}' AS DECIMAL(8,6))"
        for d, w in enumerate(_EMA_W)
    )
    + " END"
)

def _ema_w_col():
    """The same exact-decimal weight table as the oracle CASE, as a
    Spark WHEN chain keyed on the day lag."""
    lag = F.datediff(F.col("day"), F.col("day_b"))
    expr = F.when(lag == 0, F.lit(_EMA_W[0]).cast("decimal(8,6)"))
    for d, w in enumerate(_EMA_W[1:], start=1):
        expr = expr.when(lag == d, F.lit(w).cast("decimal(8,6)"))
    return expr


_EMA_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         {_sql_dsum('o_totalprice', 'revenue')},
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS rev_dec
  FROM orders GROUP BY 1
), lagged AS (
  SELECT a.day, a.n_orders, a.revenue,
         {_EMA_W_CASE} AS w,
         b.rev_dec AS rev_b
  FROM daily a JOIN daily b
    ON b.day BETWEEN a.day - 19 AND a.day
)
SELECT day, n_orders, revenue,
       CAST(ROUND(SUM(CAST(w AS DECIMAL(19,6)) * rev_b), 4) AS DOUBLE)
         / CAST(SUM(w) AS DOUBLE) AS ema20
FROM lagged GROUP BY day, n_orders, revenue ORDER BY day
"""


@_register(
    "ema_revenue_trend",
    _EMA_SQL,
)
def q_ema_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily revenue trend: for each day, the
    weight-normalized sum of the trailing 20 days' revenue with
    weights 0.8^lag (lag in DAYS, so calendar gaps decay correctly -
    a row-frame EMA would mis-weight across gaps). Truncating the
    classic recursive EMA at 20 days (0.8^20 ~ 0.011) makes it an
    associative windowed aggregate both engines state identically -
    the recursive form is order-sequential and neither distributes
    nor cross-checks. Weights are EXACT DECIMAL LITERALS shared by
    both twins (runtime pow() ulp differences between libm
    implementations survived round(6) - caught pre-driver), and the
    weighted sum stays in decimal until the single double division
    at the output boundary, with operands cast to DECIMAL(19,*) so
    the product computes in int128 (DuckDB multiplies narrower
    decimals in int64 and overflows at large daily revenue - review
    catch). The numerator sum is round(4)-quantized before its
    double cast so its scaled integer stays under 2^53 (above that,
    DuckDB's decimal->double conversion double-rounds where the JVM
    BigDecimal path is correctly rounded - caught at sf1); the
    quotient itself ships UNROUNDED, since round(6) can flip on an
    exact half-boundary rational.

    Distributed form: the corpus-scale work is the daily rollup (one
    map-side-combinable exchange). The 20-day trailing join runs on
    the DAY DIMENSION - bounded (~10k rows for a 27-year corpus), so
    it is replicated as a banded BROADCAST equi-join: each day
    bucketed to floor(epoch_day/20), the broadcast side replicated
    to (bucket, bucket+1), band filter after the hash match - never
    a nested-loop over the fact table and never a corpus-scale
    window. Weighted sums exit through the decimal cast, order-free.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            _dsum(F.col("o_totalprice"), "revenue"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev_dec"),
        )
    )
    ed = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    a = daily.withColumn("bucket", F.floor(ed / 20))
    b = (
        daily.select(
            F.col("day").alias("day_b"), F.col("rev_dec").alias("rev_b")
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.floor(
                        F.datediff(
                            F.col("day_b"), F.lit("1970-01-01").cast("date")
                        )
                        / 20
                    ),
                    F.floor(
                        F.datediff(
                            F.col("day_b"), F.lit("1970-01-01").cast("date")
                        )
                        / 20
                    )
                    + 1,
                )
            ),
        )
    )
    lagged = (
        a.join(F.broadcast(b), "bucket")
        .filter(
            (F.col("day_b") >= F.date_sub(F.col("day"), 19))
            & (F.col("day_b") <= F.col("day"))
        )
        .withColumn("w", _ema_w_col())
    )
    return (
        lagged.groupBy("day", "n_orders", "revenue")
        .agg(
            # DECIMAL(19,6) x DECIMAL(18,2): product precision lands
            # exactly at 38/scale 8 - wider operands make Spark CAP
            # the precision by reducing the scale (rounding every
            # product), while a 19-digit operand forces DuckDB's
            # multiply into int128 (int64 overflows at large daily
            # revenue)
            # round(4) the exact decimal numerator BEFORE the double
            # cast: at sf1 its scale-8 scaled integer passes 2^53,
            # where DuckDB's int128->double-then-divide conversion
            # double-rounds while the JVM BigDecimal path is
            # correctly rounded (the sum_charge cliff, third
            # sighting; the denominator sum(w) ~ 5 is decades away).
            (
                F.round(
                    F.sum(
                        F.col("w").cast("decimal(19,6)") * F.col("rev_b")
                    ),
                    4,
                ).cast("double")
                / F.sum("w").cast("double")
            ).alias("ema20")
        )
        .orderBy("day")
    )
