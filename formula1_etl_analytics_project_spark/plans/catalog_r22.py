"""Round-22 catalog entries (round 5, second leg):

* `dbscan_labels` - density-based clustering (DBSCAN) over the
  embedding corpus, blocked to same-IVF-cell neighbor candidates:
  per vector, its role (core / border / noise) and cluster label
  (min core id in its density-connected component). Completes the
  clustering family: centroidal (`kmeans_centroids`), similarity
  components (`dedup_clusters`), density (this).
* `best_split_finding` - the histogram split search at the heart of
  distributed gradient-boosted-tree training (XGBoost/LightGBM
  shape): bucket the feature, one pass builds the (pos, tot)
  histogram, prefix sums over the bounded bucket table evaluate
  Gini gain at every boundary, argmax picks the split.
* `ab_srm_check` - sample-ratio-mismatch gate for hash-based A/B
  assignment: the chi-squared 1-dof test that every experimentation
  pipeline runs BEFORE reading any metric (a biased split silently
  invalidates everything downstream).
* `conformal_threshold` - split conformal calibration: the
  ceil((1-alpha)(n+1))-th smallest calibration score becomes the
  prediction threshold; reported with its empirical coverage on the
  held-out half. The distribution-free uncertainty wrapper an ML
  serving pipeline computes at corpus scale.

Cross-engine portability as plans/catalog.py: md5-seeded splits,
integer-exact histograms/ranks (the conformal rank uses the integer
ceiling identity, not float ceil), doubles only through shared
expression trees, BIGINT at the boundary, round(6) on reported
ratios. The DBSCAN fixpoint runs imperatively on Spark
(`operators.dedup.connected_components`) and declaratively in the
oracle (WITH RECURSIVE reachability + MIN), the same twin pairing as
`dedup_clusters` / `recursive_cte_closure`.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import (
    _register,
    _sql_cosine,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# DBSCAN over cell-blocked embedding neighbors
# ===========================================================================

_DB_EPS = 0.3  # cosine similarity floor for eps-neighborhood
_DB_MINPTS = 4  # |N_eps(p)| >= minPts including p itself

# head (cell assignment -> eps pairs -> core graph) and tail (labels ->
# border -> role projection) are shared verbatim by the driver-facing
# form and its sf1 scale restatement; only the closure CTE differs.
_DBSCAN_HEAD = f"""
WITH RECURSIVE cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
), assigned AS MATERIALIZED (
  SELECT vec_id, embedding, cent_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cent_id
           ) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1
), pairs AS MATERIALIZED (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM assigned l JOIN assigned r
    ON l.cell = r.cell AND l.vec_id < r.vec_id
  WHERE ROUND({_sql_cosine('l.embedding', 'r.embedding')}, 6) >= {_DB_EPS}
), und AS (
  SELECT a AS n, b AS m FROM pairs
  UNION ALL
  SELECT b, a FROM pairs
), deg AS (
  SELECT n, COUNT(*) AS d FROM und GROUP BY n
), core AS MATERIALIZED (
  SELECT n FROM deg WHERE d + 1 >= {_DB_MINPTS}
), core_edges AS MATERIALIZED (
  SELECT u.n AS src, u.m AS dst
  FROM und u
  WHERE EXISTS (SELECT 1 FROM core c WHERE c.n = u.n)
    AND EXISTS (SELECT 1 FROM core c WHERE c.n = u.m)
)"""

_DBSCAN_TAIL = """, clab AS (
  SELECT node, MIN(r) AS cluster FROM reach GROUP BY node
), border AS (
  SELECT u.n AS node, MIN(cl.cluster) AS cluster
  FROM und u
  JOIN clab cl ON cl.node = u.m
  WHERE NOT EXISTS (SELECT 1 FROM core c WHERE c.n = u.n)
  GROUP BY u.n
)
SELECT e.vec_id,
       CASE WHEN cl.node IS NOT NULL THEN 'core'
            WHEN b.node IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cl.cluster, b.cluster, -1) AS BIGINT) AS cluster
FROM embeddings e
LEFT JOIN clab cl ON cl.node = e.vec_id
LEFT JOIN border b ON b.node = e.vec_id
ORDER BY e.vec_id
"""

_DBSCAN_SQL = (
    _DBSCAN_HEAD
    + """, reach AS (
  SELECT n AS node, n AS r FROM core
  UNION
  SELECT re.node, e.dst FROM reach re JOIN core_edges e ON e.src = re.r
)"""
    + _DBSCAN_TAIL
)

# Scale restatement of the closure (r07 verdict task 4). The
# driver-facing reach above accumulates EVERY (core, reachable-core)
# pair - sum(C^2) over components, measured 47.4M pairs over a
# degree-45 core graph at sf1, where it honest-timed-out in r06/r07.
# This form seeds only the LOCAL-MINIMUM cores (no core neighbor with a
# smaller id) and propagates a label only while it is smaller than the
# receiving node. Equivalence: a component's min core id m is itself a
# local minimum (it is smaller than all its neighbors), and m < every
# other node in its component, so the pruning never blocks m's
# propagation along any path; every core therefore still receives m,
# and MIN(r) per node is unchanged. Isolated cores are their own seeds.
# Volume drops from sum(C^2) to ~|cores| * (seeds per component).
_DBSCAN_SQL_SCALE = (
    _DBSCAN_HEAD
    + """, seeds AS (
  SELECT n FROM core c
  WHERE NOT EXISTS (SELECT 1 FROM core_edges e
                    WHERE e.src = c.n AND e.dst < c.n)
), reach AS (
  SELECT n AS node, n AS r FROM seeds
  UNION
  SELECT e.dst AS node, re.r FROM reach re
  JOIN core_edges e ON e.src = re.node
  WHERE re.r < e.dst
)"""
    + _DBSCAN_TAIL
)


@_register(
    "dbscan_labels",
    _DBSCAN_SQL,
    oracle_scale=_DBSCAN_SQL_SCALE,
)
def q_dbscan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding corpus: a vector is CORE if its
    eps-neighborhood (cosine >= 0.3, itself included) holds >= 4
    vectors; clusters are the density-connected components of the
    core-core graph labeled by min core id; non-core vectors adjacent
    to a core are BORDER (joining their smallest adjacent cluster,
    the deterministic resolution of DBSCAN's classic border
    ambiguity); the rest is NOISE (cluster -1). Neighbor candidates
    are blocked to same-IVF-cell pairs - the `embedding_neardup`
    recall trade, shared by BOTH twins so the oracle checks the
    blocked algorithm exactly (cross-cell edges are the documented,
    measurable miss - `minhash_lsh_recall` is the pattern for
    quantifying such blocking).

    The component fixpoint is the imperative min-label loop
    (`operators.dedup.connected_components` - per-round
    localCheckpoint, decimal convergence guard); the oracle states
    the same fixpoint declaratively (WITH RECURSIVE reachability with
    UNION-dedup + MIN) - the `dedup_clusters` twin pairing.

    Shape at 100 TB: candidates exist only inside cells (the
    all-pairs cosine never happens); degrees, core flags, and border
    attachment are hash aggregates / semi-joins on the edge list;
    CC iterations cost diameter shuffle-joins of the (bounded)
    core-core edge list. The final labeling is two broadcast-able
    left joins against corpus keys.
    """
    from pyspark import StorageLevel

    from formula1_etl_analytics_project_spark.operators.dedup import (
        connected_components,
    )
    from formula1_etl_analytics_project_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    pairs = (
        embedding_neardup_pairs(emb, threshold=_DB_EPS, n_cells=8)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    und = pairs.select(
        F.col("id_a").alias("n"), F.col("id_b").alias("m")
    ).unionByName(
        pairs.select(F.col("id_b").alias("n"), F.col("id_a").alias("m"))
    )
    deg = und.groupBy("n").agg(F.count("*").alias("d"))
    core = (
        deg.filter(F.col("d") + 1 >= _DB_MINPTS)
        .select("n")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    core_edges = (
        und.join(core.withColumnRenamed("n", "_cn"), und["n"] == F.col("_cn"), "left_semi")
        .join(core.withColumnRenamed("n", "_cm"), und["m"] == F.col("_cm"), "left_semi")
        .select(F.col("n").alias("id_a"), F.col("m").alias("id_b"))
    )
    clab = connected_components(
        core_edges, core.withColumnRenamed("n", "node")
    ).withColumnRenamed("label", "cluster")
    border = (
        und.join(core.withColumnRenamed("n", "_cn"), und["n"] == F.col("_cn"), "left_anti")
        .join(
            clab.select(
                F.col("node").alias("m"), F.col("cluster").alias("mc")
            ),
            "m",
        )
        .groupBy("n")
        .agg(F.min("mc").alias("cluster"))
    )
    return (
        emb.select("vec_id")
        .join(
            clab.select(F.col("node").alias("vec_id"), F.col("cluster").alias("core_cluster")),
            "vec_id",
            "left",
        )
        .join(
            border.select(F.col("n").alias("vec_id"), F.col("cluster").alias("border_cluster")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("core_cluster").isNotNull(), "core")
            .when(F.col("border_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("core_cluster", "border_cluster", F.lit(-1))
            .cast("bigint")
            .alias("cluster"),
        )
        .orderBy("vec_id")
    )


# ===========================================================================
# Histogram split finding (GBDT training inner loop)
# ===========================================================================

_SPLIT_BUCKET_W = 8192.0
_SPLIT_NBUCKETS = 64

_SPLIT_SQL = f"""
WITH lab AS (
  SELECT CAST(least({_SPLIT_NBUCKETS - 1},
                    floor(o_totalprice / {_SPLIT_BUCKET_W})) AS BIGINT)
           AS bucket,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
), hist AS (
  SELECT bucket, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM lab GROUP BY bucket
), cum AS (
  SELECT bucket,
         CAST(SUM(pos) OVER (ORDER BY bucket) AS BIGINT) AS cpos,
         CAST(SUM(tot) OVER (ORDER BY bucket) AS BIGINT) AS ctot,
         CAST(SUM(pos) OVER () AS BIGINT) AS tpos,
         CAST(SUM(tot) OVER () AS BIGINT) AS ttot
  FROM hist
), gains AS (
  SELECT bucket, ttot,
         (1.0 - (CAST(tpos AS DOUBLE) / CAST(ttot AS DOUBLE))
              * (CAST(tpos AS DOUBLE) / CAST(ttot AS DOUBLE))
              - (CAST(ttot - tpos AS DOUBLE) / CAST(ttot AS DOUBLE))
              * (CAST(ttot - tpos AS DOUBLE) / CAST(ttot AS DOUBLE)))
         - ((CAST(ctot AS DOUBLE) / CAST(ttot AS DOUBLE))
            * (1.0 - (CAST(cpos AS DOUBLE) / CAST(ctot AS DOUBLE))
                   * (CAST(cpos AS DOUBLE) / CAST(ctot AS DOUBLE))
                   - (CAST(ctot - cpos AS DOUBLE) / CAST(ctot AS DOUBLE))
                   * (CAST(ctot - cpos AS DOUBLE) / CAST(ctot AS DOUBLE)))
            + (CAST(ttot - ctot AS DOUBLE) / CAST(ttot AS DOUBLE))
              * (1.0 - (CAST(tpos - cpos AS DOUBLE)
                        / CAST(ttot - ctot AS DOUBLE))
                     * (CAST(tpos - cpos AS DOUBLE)
                        / CAST(ttot - ctot AS DOUBLE))
                     - (CAST((ttot - ctot) - (tpos - cpos) AS DOUBLE)
                        / CAST(ttot - ctot AS DOUBLE))
                     * (CAST((ttot - ctot) - (tpos - cpos) AS DOUBLE)
                        / CAST(ttot - ctot AS DOUBLE))))
           AS gain
  FROM cum
  WHERE ctot > 0 AND ctot < ttot
)
SELECT CAST(bucket AS BIGINT) AS best_bucket,
       CAST((bucket + 1) * {_SPLIT_BUCKET_W} AS DOUBLE) AS split_value,
       CAST(ttot AS BIGINT) AS n,
       ROUND(gain, 6) AS gini_gain
FROM gains
ORDER BY gain DESC, bucket
LIMIT 1
"""


@_register(
    "best_split_finding",
    _SPLIT_SQL,
)
def q_best_split_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed GBDT inner loop (XGBoost/LightGBM histogram
    method): bucket the feature into 64 fixed-width bins, build the
    per-bucket (positives, total) histogram in ONE map-side
    combinable pass, prefix-sum the bounded histogram, and score
    every boundary by Gini impurity reduction
    gain(s) = gini(parent) - [nL/n gini(L) + nR/n gini(R)],
    keeping the argmax (ties to the lower boundary). Feature =
    order total, label = high priority - one (feature, node) cell of
    the real algorithm's loop, which is this exact query per feature
    per tree node over gradient histograms.

    Exactness: the histogram and its prefix sums are exact integers;
    gain is one shared double expression (squares via multiplication,
    never pow); the ORDER BY (gain DESC, bucket) is total because
    the doubles are cross-engine identical.

    Shape at 100 TB: the fact collapses to <= 64 histogram rows
    before anything else runs (partial aggregation - the whole point
    of histogram-based split finding vs sorting the feature); the
    windows and the argmax run on the bounded bucket table.
    """
    orders = read_table(spark, sf_dir, "orders", spread=True)
    lab = orders.select(
        F.least(
            F.lit(_SPLIT_NBUCKETS - 1),
            F.floor(F.col("o_totalprice") / F.lit(_SPLIT_BUCKET_W)),
        )
        .cast("bigint")
        .alias("bucket"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    hist = lab.groupBy("bucket").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.count("*").cast("bigint").alias("tot"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("pos").over(w_cum).cast("bigint").alias("cpos"),
        F.sum("tot").over(w_cum).cast("bigint").alias("ctot"),
        F.sum("pos").over(w_all).cast("bigint").alias("tpos"),
        F.sum("tot").over(w_all).cast("bigint").alias("ttot"),
    )

    def d(c):
        return c.cast("double")

    def gini(p, n):
        return (
            F.lit(1.0)
            - (d(p) / d(n)) * (d(p) / d(n))
            - (d(n - p) / d(n)) * (d(n - p) / d(n))
        )

    cpos, ctot = F.col("cpos"), F.col("ctot")
    tpos, ttot = F.col("tpos"), F.col("ttot")
    rpos, rtot = tpos - cpos, ttot - ctot
    gain = gini(tpos, ttot) - (
        (d(ctot) / d(ttot)) * gini(cpos, ctot)
        + (d(rtot) / d(ttot)) * gini(rpos, rtot)
    )
    return (
        cum.filter((ctot > 0) & (ctot < ttot))
        .select(
            F.col("bucket").alias("best_bucket"),
            ((F.col("bucket") + 1) * F.lit(_SPLIT_BUCKET_W))
            .cast("double")
            .alias("split_value"),
            ttot.alias("n"),
            gain.alias("_g"),
        )
        .orderBy(F.desc("_g"), "best_bucket")
        .limit(1)
        .select(
            "best_bucket",
            "split_value",
            "n",
            F.round("_g", 6).alias("gini_gain"),
        )
    )


# ===========================================================================
# Sample-ratio-mismatch gate for hash-based A/B assignment
# ===========================================================================

_SRM_CRIT = 3.841459  # chi2(1) critical value at alpha = 0.05

_SRM_SQL = f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events
), g AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS grp
  FROM u
), agg AS (
  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(grp) AS BIGINT) AS n_b
  FROM g
)
SELECT n_a, n_b,
       CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
         / CAST(n_a + n_b AS DOUBLE) AS chi2,
       CAST(CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE) > {_SRM_CRIT}
                 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM agg
"""


@_register(
    "ab_srm_check",
    _SRM_SQL,
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate: users are assigned to arms by
    md5(user_id) mod 2 (the hash-based 50/50 split every
    experimentation platform uses - deterministic, sticky, and
    cross-engine checkable); the chi-squared 1-dof statistic against
    the expected equal split reduces to (n_a - n_b)^2 / n. A flagged
    SRM means the assignment or logging pipeline is dropping one arm
    - the check that must pass BEFORE any A/B metric is read
    (`ab_test_ztest` is only valid downstream of this gate).

    Shape at 100 TB: distinct users collapse map-side, the split is
    pure projection on the distinct keys, and the gate is one 2-cell
    conditional aggregate to a single row.
    """
    ev = read_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    grp = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 2"
    )
    agg = u.select(grp.alias("grp")).agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum("grp").cast("bigint").alias("n_b"),
    )
    chi2 = ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))).cast(
        "double"
    ) / (F.col("n_a") + F.col("n_b")).cast("double")
    return agg.select(
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        F.when(chi2 > _SRM_CRIT, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("srm_flag"),
    )


# ===========================================================================
# Split conformal threshold calibration
# ===========================================================================

_CONF_ALPHA_NUM = 9  # (1 - alpha) = 9/10 kept as integers

_CONF_SQL = """
WITH s AS (
  SELECT n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS grp
  FROM documents
), byv AS (
  SELECT grp, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM s GROUP BY grp, n_chars
), nc AS (
  SELECT CAST(SUM(CASE WHEN grp = 0 THEN c ELSE 0 END) AS BIGINT) AS n_cal,
         CAST(SUM(CASE WHEN grp = 1 THEN c ELSE 0 END) AS BIGINT) AS n_test
  FROM byv
), calcum AS (
  SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS crank
  FROM byv WHERE grp = 0
), th AS (
  SELECT MIN(v) AS threshold
  FROM calcum CROSS JOIN nc
  WHERE crank >= (9 * (n_cal + 1) + 9) // 10
), cov AS (
  SELECT CAST(SUM(CASE WHEN b.v <= t.threshold THEN b.c ELSE 0 END)
              AS BIGINT) AS covered
  FROM byv b CROSS JOIN th t WHERE b.grp = 1
)
SELECT nc.n_cal, nc.n_test,
       CAST(th.threshold AS BIGINT) AS threshold,
       CAST(cov.covered AS DOUBLE) / CAST(nc.n_test AS DOUBLE)
         AS coverage
FROM nc CROSS JOIN th CROSS JOIN cov
"""


@_register(
    "conformal_threshold",
    _CONF_SQL,
)
def q_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal calibration at alpha = 0.1: hash-split the
    corpus into calibration/test halves, take the
    ceil((1-alpha)(n_cal+1))-th smallest calibration score (doc
    length as the stand-in nonconformity score) as the threshold, and
    report its empirical coverage on the held-out half - by the
    conformal guarantee, coverage >= 90% in expectation regardless of
    the score distribution. The conformal rank uses the INTEGER
    ceiling identity (9(n+1)+9) div 10, never float ceil (a x.0
    boundary could round differently after float multiplication).

    Shape at 100 TB: ONE scan into a (split, score) hash aggregate;
    the rank window runs on the score-domain-bounded value table
    (the calendar_dim bounded-window argument - doc lengths, not
    docs); threshold and coverage are k-row reductions off the same
    cell table, which is localCheckpointed so its four consumers do
    not each re-scan the corpus.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    grp = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 2"
    )
    byv = (
        docs.select(grp.alias("grp"), F.col("n_chars").alias("v"))
        .groupBy("grp", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    nc = byv.agg(
        F.sum(F.when(F.col("grp") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_cal"),
        F.sum(F.when(F.col("grp") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    calcum = (
        byv.filter(F.col("grp") == 0)
        .select("v", F.sum("c").over(w_cum).cast("bigint").alias("crank"))
    )
    # integer ceil(9(n+1)/10) via `div` (Column has no // operator)
    k = F.expr(f"({_CONF_ALPHA_NUM} * (n_cal + 1) + 9) div 10")
    th = (
        calcum.crossJoin(F.broadcast(nc))
        .filter(F.col("crank") >= k)
        .agg(F.min("v").alias("threshold"))
    )
    cov = (
        byv.filter(F.col("grp") == 1)
        .crossJoin(F.broadcast(th))
        .agg(
            F.sum(
                F.when(F.col("v") <= F.col("threshold"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("covered")
        )
    )
    return (
        nc.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal",
            "n_test",
            F.col("threshold").cast("bigint").alias("threshold"),
            (
                F.col("covered").cast("double")
                / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
    )
