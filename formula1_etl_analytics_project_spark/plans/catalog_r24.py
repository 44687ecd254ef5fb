"""Round-24 catalog entries (round 5, third leg) - model-evaluation
and curation operators that finish the offline-ML support surface:

* `roc_auc_eval` - tie-aware ROC-AUC as a rank statistic
  (Mann-Whitney form), computed on a bounded score histogram with an
  ALL-INTEGER numerator so both engines reach the identical double.
* `isotonic_calibration` - isotonic (monotone) calibration of a
  score against an outcome rate via the minimax closed form of PAVA
  (fit_k = max_{i<=k} min_{j>=k} avg(i..j)) on a bounded bin table -
  the iterative pool-adjacent-violators loop becomes three joins on
  a <=20-row aggregate, fully declarative on both engines.
* `line_dedup_docs` - C4-style span-level dedup: every disjoint
  10-token span is deduplicated CORPUS-GLOBALLY (first occurrence by
  (doc_id, span_idx) survives, later copies are cut), and each doc is
  reassembled from its surviving spans. The line/span-granular
  counterpart of `exact_dedup_docs` (whole-doc) and
  `dup_ngram_fraction` (measurement without removal).
* `stratified_kfold_assign` - deterministic stratified k-fold
  assignment (hash-mod folds within each source stratum) with
  per-(stratum, fold) balance accounting - the cross-validation
  counterpart of `train_val_test_split`.
* `seasonal_trend_decompose` - classical seasonal decomposition of
  the hourly event series: centered +/-12h moving-average trend
  (time-true RANGE frame, majority-coverage gated), hour-of-day
  seasonal index from the detrended series, and per-hour mean
  absolute remainder. Extends `dow_seasonality` (raw profile) with
  trend removal, so the seasonal index is not confounded by drift.

Cross-engine portability as plans/catalog.py: md5-derived hashes,
integer-first arithmetic, decimal-cast double sums, BIGINT counts.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Tie-aware ROC-AUC (Mann-Whitney rank form on a bounded histogram)
# ===========================================================================

_AUC_SQL = """
WITH scored AS (
  SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
), g AS (
  SELECT score, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS p
  FROM scored GROUP BY score
), c AS (
  SELECT score, n, p,
         COALESCE(SUM(n) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
), s AS (
  SELECT CAST(SUM(p * (2 * cum_before + n + 1)) AS BIGINT) AS num2,
         CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(n - p) AS BIGINT) AS n_neg
  FROM c
)
SELECT n_pos, n_neg,
       CAST(num2 - n_pos * (n_pos + 1) AS DOUBLE)
         / (2.0 * n_pos * n_neg) AS auc
FROM s
"""


@_register(
    "roc_auc_eval",
    _AUC_SQL,
)
def q_roc_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware ROC-AUC as the Mann-Whitney rank statistic: with tied
    scores sharing their average rank, AUC = (R+ - P(P+1)/2) / (P*N)
    where R+ is the positive-class rank sum. The pipeline evaluation
    primitive for any binary scorer (quality filter, dedup keeper
    model, toxicity gate) - `mann_whitney_u` is the hypothesis-test
    view of the same statistic; this is the classifier-metric view.

    Distributed form: scores quantize onto a BOUNDED grid (floor(
    price/1k) ~ 500 cells; a real scorer's calibrated output is
    quantized the same way), so one map-side-combinable groupBy
    collapses the corpus to the grid, and ranks come from a prefix
    sum over that tiny table - never a corpus-scale sort. The rank
    sum is kept as the INTEGER 2*R+ = sum p*(2*cum_before + n + 1)
    (tie-average ranks are .5-multiples, so doubling stays exact);
    both engines divide identical BIGINTs at the very end, making
    the double bit-identical. Shape at 100 TB: the only wide op is
    the histogram groupBy; the window runs on <=O(grid) rows.
    """
    orders = read_table(spark, sf_dir, "orders")
    g = (
        orders.select(
            F.floor(F.col("o_totalprice") / 1000)
            .cast("bigint")
            .alias("score"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.count("*").alias("n"),
            F.sum("pos").cast("bigint").alias("p"),
        )
    )
    w = (
        Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.withColumn("cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return c.agg(
        F.sum(F.col("p") * (2 * F.col("cum_before") + F.col("n") + 1))
        .cast("bigint")
        .alias("num2"),
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("p")).cast("bigint").alias("n_neg"),
    ).select(
        "n_pos",
        "n_neg",
        (
            (F.col("num2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                "double"
            )
            / (2.0 * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


# ===========================================================================
# Isotonic calibration via the minimax (max-min) closed form of PAVA
# ===========================================================================

_ISO_SQL = """
WITH scored AS (
  SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
), b AS (
  SELECT bin, COUNT(*) AS w, CAST(SUM(y) AS BIGINT) AS s
  FROM scored GROUP BY bin
), pre AS (
  SELECT bin, w, s,
         SUM(w) OVER (ORDER BY bin) AS cw,
         SUM(s) OVER (ORDER BY bin) AS cs
  FROM b
), mn AS (
  SELECT k.bin AS kb, i.bin AS ib,
         MIN(CAST(j.cs - (i.cs - i.s) AS DOUBLE)
             / (j.cw - (i.cw - i.w))) AS m
  FROM pre k
  JOIN pre i ON i.bin <= k.bin
  JOIN pre j ON j.bin >= k.bin
  GROUP BY k.bin, i.bin
), fit AS (
  SELECT kb AS bin, MAX(m) AS iso_rate FROM mn GROUP BY kb
)
SELECT b.bin, CAST(b.w AS BIGINT) AS n,
       CAST(b.s AS DOUBLE) / b.w AS raw_rate,
       fit.iso_rate
FROM b JOIN fit ON b.bin = fit.bin
ORDER BY b.bin
"""


@_register(
    "isotonic_calibration",
    _ISO_SQL,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (monotone regression of outcome rate on
    score) via the minimax identity for pool-adjacent-violators:
    fit_k = max_{i<=k} min_{j>=k} avg(i..j), with interval averages
    read off prefix sums. The iterative PAVA loop - hostile to both
    engines - becomes three self-joins over the BOUNDED bin table
    (<=20 rows here; a production calibrator uses O(100) bins), i.e.
    O(bins^3) trivial arithmetic after the corpus collapses in ONE
    map-side-combinable groupBy. This is how a quality-score ->
    keep-probability curve is calibrated before threshold selection.

    Portability: prefix sums and interval numerators stay BIGINT;
    the only doubles are final integer/integer divisions, identical
    on both engines; min/max over those doubles is exact. The output
    is provably nondecreasing in bin (pinned by test).

    Shape at 100 TB: corpus -> bin histogram is the single wide op;
    the cubic join runs on a broadcast-sized table regardless of
    input scale.
    """
    orders = read_table(spark, sf_dir, "orders")
    b = (
        orders.select(
            F.floor(F.col("o_totalprice") / 25000)
            .cast("bigint")
            .alias("bin"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("w"),
            F.sum("y").cast("bigint").alias("s"),
        )
    ).localCheckpoint()  # the <=20-row bin table feeds FOUR consumers
    # (prefix sums -> k/i/j plus the final join); without the boundary
    # each re-executes the orders scan + aggregate (the recompute trap,
    # review catch)
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = b.withColumn("cw", F.sum("w").over(wcum)).withColumn(
        "cs", F.sum("s").over(wcum)
    )
    k = pre.select(F.col("bin").alias("kb"))
    i = pre.select(
        F.col("bin").alias("ib"),
        F.col("cw").alias("icw"),
        F.col("cs").alias("ics"),
        F.col("w").alias("iw"),
        F.col("s").alias("is_"),
    )
    j = pre.select(
        F.col("bin").alias("jb"),
        F.col("cw").alias("jcw"),
        F.col("cs").alias("jcs"),
    )
    mn = (
        k.join(F.broadcast(i), F.col("ib") <= F.col("kb"))
        .join(F.broadcast(j), F.col("jb") >= F.col("kb"))
        .groupBy("kb", "ib")
        .agg(
            F.min(
                (F.col("jcs") - (F.col("ics") - F.col("is_"))).cast(
                    "double"
                )
                / (F.col("jcw") - (F.col("icw") - F.col("iw")))
            ).alias("m")
        )
    )
    fit = mn.groupBy("kb").agg(F.max("m").alias("iso_rate"))
    return (
        b.join(fit, b["bin"] == fit["kb"])
        .select(
            "bin",
            F.col("w").cast("bigint").alias("n"),
            (F.col("s").cast("double") / F.col("w")).alias("raw_rate"),
            "iso_rate",
        )
        .orderBy("bin")
    )


# ===========================================================================
# C4-style span-level dedup with document reassembly
# ===========================================================================

_LINEDEDUP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), l AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx,
         array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ') AS line
  FROM t, UNNEST(generate_series(
    1, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS u(i)
), k AS (
  -- injective first-occurrence key: a lexicographic (doc_id, idx)
  -- struct min; the earlier doc_id*1000+idx encoding collided for
  -- documents with >= 1000 spans (review catch)
  SELECT md5(line) AS h, MIN({'d': doc_id, 'i': idx}) AS keep
  FROM l GROUP BY md5(line)
), j AS (
  SELECT l.doc_id, l.idx, l.line,
         (l.doc_id = k.keep.d AND l.idx = k.keep.i) AS kept
  FROM l JOIN k ON md5(l.line) = k.h
)
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN kept THEN line END, ' '
                               ORDER BY idx), '')) AS kept_md5
FROM j GROUP BY doc_id ORDER BY doc_id
"""


@_register(
    "line_dedup_docs",
    _LINEDEDUP_SQL,
    bench=True,
)
def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level corpus dedup in the C4 style: the unit of
    deduplication is a SPAN WITHIN a document (here: each disjoint
    10-token window, the whitespace-corpus analogue of C4's
    three-sentence span), deduplicated globally - the first
    occurrence by (doc_id, span_idx) survives, every later copy
    anywhere in the corpus is cut - and each document is reassembled
    from its surviving spans in order. Completes the dedup
    granularity ladder: whole-doc (`exact_dedup_docs`), chunk
    (`cdc_chunk_dedup`), measured-not-removed n-grams
    (`dup_ngram_fraction`), and now remove-and-reassemble spans.

    Distributed form: docs explode to (doc_id, idx, span) once (the
    span table is persisted - it feeds both the keeper aggregate and
    the join-back); the global first-occurrence is the lexicographic
    MIN over (doc_id, idx) structs grouped by the span's md5 (an
    INJECTIVE key - an arithmetic doc_id*k+idx encoding collides once
    a document has >= k spans) - only the 32-byte digest and two
    BIGINTs go through the wide shuffle that determines keepers; the
    join back to span text is digest-keyed. Reassembly is the repo's order-stable
    collect: array_sort over (idx, span) structs, then join+md5, so
    the output row is a fixed-width fingerprint, not a text blob.

    Shape at 100 TB: keeper table is corpus-scale -> sort-merge join
    on the digest (no broadcast); spans never pairwise-compare
    (exact-match semantics, unlike the LSH family); reassembly
    re-groups by doc_id, the same key the explode started from.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    lines = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, int(ceil(size(toks) / 10.0))),"
                " i -> array_join(slice(toks, (i-1)*10+1, 10), ' '))"
            )
        ).alias("idx", "line"),
    ).select(
        "doc_id", F.col("idx").cast("bigint").alias("idx"), "line",
        F.md5("line").alias("h"),
    )
    # the span table feeds BOTH the keeper aggregate and the join-back;
    # without a boundary the scan+split+md5 pipeline executes twice
    # (the recompute trap, review catch)
    from pyspark.storagelevel import StorageLevel

    lines = lines.persist(StorageLevel.MEMORY_AND_DISK)
    # injective first-occurrence key: lexicographic (doc_id, idx)
    # struct min - doc_id*1000+idx collided for docs with >= 1000
    # spans (review catch; both twins shared the bug, so parity
    # could not see it)
    keep = lines.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("keep")
    )
    joined = lines.join(keep, "h").withColumn(
        "kept",
        (F.col("doc_id") == F.col("keep.doc_id"))
        & (F.col("idx") == F.col("keep.idx")),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(
                F.coalesce(
                    F.expr(
                        "array_join(transform(array_sort(collect_list("
                        "CASE WHEN kept THEN struct(idx, line) END)),"
                        " s -> s.line), ' ')"
                    ),
                    F.lit(""),
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


# ===========================================================================
# Stratified k-fold assignment (cross-validation splits)
# ===========================================================================

_KFOLD_SQL = """
WITH f AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 5 AS fold
  FROM documents
)
SELECT source, fold,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) AS DOUBLE)
         / SUM(COUNT(*)) OVER (PARTITION BY source) AS frac
FROM f
GROUP BY source, fold
ORDER BY source, fold
"""


@_register(
    "stratified_kfold_assign",
    _KFOLD_SQL,
)
def q_stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment for cross-validation:
    fold = md5(doc_id) mod 5 computed WITHIN each source stratum, so
    every stratum contributes to every fold (per-stratum fold
    fractions are the balance report this entry emits). The
    cross-validation counterpart of `train_val_test_split` (fixed
    three-way split): same engine-portable hash, but k rotating
    held-out folds. Hash-of-key assignment gives the two properties
    rand() cannot: a document's fold is stable across runs, engines,
    and cluster layouts, and fold membership is recomputable from the
    key alone - no stored assignment table to keep in sync.

    Shape at 100 TB: the assignment itself is a narrow map (no
    shuffle); this report is one map-side-combinable groupBy to
    k*strata rows plus a window over that bounded aggregate. A
    training job never materializes folds - it filters
    `fold != held_out` at the scan.
    """
    docs = read_table(spark, sf_dir, "documents")
    f = docs.select(
        "source",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("bigint")
            % 5
        ).alias("fold"),
    )
    g = f.groupBy("source", "fold").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("source")
    return (
        g.select(
            "source",
            "fold",
            "n_docs",
            (
                F.col("n_docs").cast("double") / F.sum("n_docs").over(w)
            ).alias("frac"),
        )
        .orderBy("source", "fold")
    )


# ===========================================================================
# Seasonal decomposition of the hourly event series
# ===========================================================================

_SEASONAL_SQL = """
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS hv
  FROM events GROUP BY 1
), tr AS (
  SELECT hr, hv,
         CAST(SUM(CAST(hv AS DECIMAL(30,6))) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS trend,
         COUNT(*) OVER w AS nw
  FROM hourly
  WINDOW w AS (ORDER BY hr RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), detr AS (
  SELECT hr % 24 AS hod, hv - trend AS d
  FROM tr WHERE nw >= 13
), seas AS (
  SELECT hod, COUNT(*) AS n_obs,
         CAST(SUM(CAST(d AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
           AS seasonal
  FROM detr GROUP BY hod
)
SELECT s.hod, s.n_obs, ROUND(s.seasonal, 6) AS seasonal,
       ROUND(CAST(SUM(CAST(abs(d.d - s.seasonal) AS DECIMAL(30,12)))
                  AS DOUBLE) / s.n_obs, 6) AS mean_abs_resid
FROM detr d JOIN seas s ON d.hod = s.hod
GROUP BY s.hod, s.n_obs, s.seasonal
ORDER BY s.hod
"""


@_register(
    "seasonal_trend_decompose",
    _SEASONAL_SQL,
)
def q_seasonal_trend_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (moving-average) seasonal decomposition of the hourly
    event-value series: trend = centered +/-12h mean over a TIME-TRUE
    RANGE frame on the integer hour index (robust to missing hours -
    sf0.001 has 531 of 720 observed; a ROWS frame would silently
    stretch across gaps), gated on majority coverage (>=13 of 25
    hours); hour-of-day seasonal index = mean of the detrended
    series per hod; remainder summarized as per-hod mean |residual|.
    Extends `dow_seasonality`: that entry reads the raw profile,
    this one removes trend first so drift cannot masquerade as
    seasonality - the decomposition a forecasting or anomaly job
    runs before `cusum_changepoint`/`rolling_zscore` thresholds.

    Portability: hourly sums exit decimal once; trend and both
    means re-enter decimal for the cross-engine order-free sum
    (the repo-wide pattern), and every division is by an integer
    count - both engines reach identical doubles.

    Shape at 100 TB: the corpus-scale op is events -> hourly (one
    map-side-combinable groupBy; 100 TB of events still collapses to
    ~years*8760 rows). The unpartitioned RANGE window runs on that
    TIME-BOUNDED table - same documented bound as the other
    series entries (`autocorr_revenue`, `resample_ffill`); at
    multi-decade scale you'd range-partition by year with a +/-12h
    halo exchange.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
        )
        .cast("bigint")
        .alias("hr")
    ).agg(
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("hv")
    )
    w = Window.orderBy("hr").rangeBetween(-12, 12)
    tr = hourly.select(
        "hr",
        "hv",
        (
            F.sum(F.col("hv").cast("decimal(30,6)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("trend"),
        F.count("*").over(w).alias("nw"),
    )
    # the detrended series feeds TWO consumers (the seasonal index and
    # the remainder join) - checkpoint so the events scan + trend
    # window run once (the recompute trap, review catch)
    detr = tr.filter(F.col("nw") >= 13).select(
        (F.col("hr") % 24).alias("hod"),
        (F.col("hv") - F.col("trend")).alias("d"),
    ).localCheckpoint()
    seas = detr.groupBy("hod").agg(
        F.count("*").alias("n_obs"),
        (
            F.sum(F.col("d").cast("decimal(30,12)")).cast("double")
            / F.count("*")
        ).alias("seasonal"),
    )
    return (
        detr.join(F.broadcast(seas), "hod")
        .groupBy("hod", "n_obs", "seasonal")
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("d") - F.col("seasonal")).cast(
                        "decimal(30,12)"
                    )
                ).cast("double")
                / F.col("n_obs"),
                6,
            ).alias("mean_abs_resid")
        )
        .select(
            "hod",
            "n_obs",
            F.round("seasonal", 6).alias("seasonal"),
            "mean_abs_resid",
        )
        .orderBy("hod")
    )
