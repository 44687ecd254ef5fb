"""Round-21 catalog entries (round 5, second leg):

* `bootstrap_ci_mean` - Poisson-bootstrap confidence interval for
  the mean order total: B=100 deterministic replicates in ONE pass
  (per-row replicate weights drawn from a hash-seeded Poisson(1)
  approximation), replicate means reduced map-side, CI from the
  nearest-rank percentiles of the 100-row replicate table. The
  scalable bootstrap: resampling-with-replacement is impossible
  distributed, per-row independent Poisson weights are its standard
  one-pass equivalent.
* `fs_linkage_scores` - Fellegi-Sunter probabilistic record-linkage
  scoring over the blocked fuzzy candidate pairs (`fuzzy_name_pairs`'
  blocking): per-field agreement weights ln(m/u) / ln((1-m)/(1-u))
  with u-probabilities ESTIMATED FROM THE DATA (exact collision
  counts) and documented m priors - the Splink-style scoring layer on
  top of blocking, upgrading edit-distance cutoffs to calibrated
  match scores.
* `wilson_funnel_ci` - step-conversion rates for the
  view->click->purchase funnel with Wilson 95% score intervals (the
  interval that behaves at small n and extreme rates, unlike the
  normal approximation) - the reporting layer over `event_funnel`.
* `power_iteration_pc1` - first principal component of the embedding
  corpus by three unrolled, mean-centered power iterations: the
  iterative distributed linear algebra shape (matvec as join +
  aggregate) that k-means (`kmeans_centroids`) pins for cluster
  centers, here for spectra. Deterministic by construction: fixed
  uniform init, fixed iteration count, decimal-summed reductions.

Cross-engine portability as plans/catalog.py: hash-seeded
pseudo-randomness (md5, never rand()), exact-integer collision
counts, decimal sums before every double conversion, identical
double expression trees, BIGINT counts, round(6) at the boundary.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Poisson-bootstrap CI for the mean order total
# ===========================================================================

_B_REPS = 100
# Poisson(1) CDF thresholds scaled to 100000 (exact integers, same
# literals in both engines): P(X<=k) for k=0..6.
_POIS_CDF = (36788, 73576, 91970, 98101, 99634, 99941, 99992)


def _pois_case_sql(h: str) -> str:
    arms = "\n".join(
        f"         WHEN {h} < {t} THEN {k}"
        for k, t in enumerate(_POIS_CDF)
    )
    return f"    CASE\n{arms}\n         ELSE 7 END"


_BOOT_SQL = f"""
WITH rep AS (
  SELECT j.j,
         CAST(o_totalprice AS DECIMAL(18,4)) AS x,
         md5(CAST(o_orderkey AS VARCHAR) || '_'
             || CAST(j.j AS VARCHAR)) AS md
  FROM orders CROSS JOIN (SELECT UNNEST(range({_B_REPS // 4})) AS j) j
), hashed AS (
  SELECT j * 4 + w.i AS b,
         x,
         CAST(('0x' || substr(md, 1 + 8 * w.i, 8)) AS BIGINT)
           % 100000 AS h
  FROM rep CROSS JOIN (SELECT UNNEST(range(4)) AS i) w
), weighted AS (
  SELECT b,
         x,
         CAST(
{_pois_case_sql("h")}
         AS DECIMAL(8,0)) AS w
  FROM hashed
), means AS (
  SELECT b,
         CAST(SUM(x * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
  FROM weighted GROUP BY b
), ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
       CAST(ROUND(SUM(CAST(m AS DECIMAL(38,12))), 6) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_boot,
       MAX(CASE WHEN rn = 3 THEN m END) AS ci_lo,
       MAX(CASE WHEN rn = 98 THEN m END) AS ci_hi
FROM ranked
"""


@_register(
    "bootstrap_ci_mean",
    _BOOT_SQL,
    bench=True,
)
def q_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: classic resampling draws n rows with
    replacement per replicate - impossible to do distributed without
    a global coordinated sample. The standard scalable equivalent
    gives every row an INDEPENDENT Poisson(1) weight per replicate
    (the multinomial's limit), so all B=100 replicates compute in one
    pass with map-side partial aggregation. Weights come from a
    hash-seeded uniform (md5 - reproducible cross-engine and
    cross-layout, the `weighted_sample` discipline) through exact
    integer CDF thresholds; each 128-bit digest is split into FOUR
    independent 32-bit uniforms (replicates b = 4j..4j+3 share one
    md5(key, j) call), quartering the digest work - at sf0.1 the
    per-(row, replicate) md5 was the entry's whole cost (3.41s ->
    measured after: see SCALING.md). The 95% CI is nearest-rank percentiles
    (rows 3 and 98 of the ordered 100 replicate means).

    Exactness: weights are small integers, weighted sums accumulate
    in DECIMAL, each replicate mean is ONE double division; the
    ROW_NUMBER runs on the 100-row replicate table (bounded window),
    tie-broken on b.

    Shape at 100 TB: the explode multiplies rows x100 BEFORE the
    exchange, but partial aggregation collapses each partition to
    <= 100 cells, so the shuffle carries partitions x 100 tiny rows
    regardless of fact size - the bootstrap costs one scan plus B
    counters per partition, the textbook mergeable-statistic shape.
    """
    orders = read_table(spark, sf_dir, "orders", spread=True)
    rep = orders.select(
        F.col("o_totalprice").cast("decimal(18,4)").alias("x"),
        "o_orderkey",
        F.explode(
            F.sequence(F.lit(0), F.lit(_B_REPS // 4 - 1))
        ).alias("j"),
    ).withColumn(
        "md",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("_"),
                F.col("j").cast("string"),
            )
        ),
    )
    words = F.array(
        *[
            F.expr(
                f"CAST(conv(substr(md, {1 + 8 * i}, 8), 16, 10)"
                " AS BIGINT) % 100000"
            )
            for i in range(4)
        ]
    )
    hashed = rep.select(
        "x", "j", F.posexplode(words).alias("i", "h")
    ).select((F.col("j") * 4 + F.col("i")).alias("b"), "x", "h")
    h = F.col("h")
    w = F.when(h < _POIS_CDF[0], 0)
    for k, t in enumerate(_POIS_CDF[1:], start=1):
        w = w.when(h < t, k)
    w = w.otherwise(7).cast("decimal(8,0)")
    means = (
        hashed.select("b", "x", w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("x") * F.col("w")).cast("double")
                / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    w_rank = Window.orderBy("m", "b")
    ranked = means.select(
        "m", F.row_number().over(w_rank).alias("rn")
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_reps"),
        # round(6) the exact decimal sum BEFORE the double cast: the
        # replicate means are ~order-total magnitude, so the scale-12
        # sum's scaled integer passes 2^53 at sf1 and DuckDB's
        # int128->double-then-divide conversion double-rounds where
        # the JVM BigDecimal path is correctly rounded (the
        # pricing_summary sum_charge cliff, second sighting).
        (
            F.round(F.sum(F.col("m").cast("decimal(38,12)")), 6)
            .cast("double")
            / F.count("*").cast("double")
        ).alias("mean_boot"),
        F.max(F.when(F.col("rn") == 3, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == 98, F.col("m"))).alias("ci_hi"),
    )


# ===========================================================================
# Fellegi-Sunter linkage scoring over blocked candidates
# ===========================================================================

# m priors (documented match-probability assumptions per field; the
# u side is estimated from the data as exact collision probabilities)
_FS_M = {"t1": 0.95, "t2": 0.9, "ln": 0.8}

_FS_SQL = r"""
WITH d AS (
  SELECT DISTINCT regexp_replace(lower(trim(p_name)), '\s+', ' ', 'g') AS n
  FROM part
), f AS (
  SELECT n, split_part(n, ' ', 1) AS t1, split_part(n, ' ', 2) AS t2,
         length(n) AS ln FROM d
), nn AS (
  SELECT COUNT(*) AS n_names FROM d
), u1 AS (
  SELECT CAST(SUM(c * (c - 1)) AS DOUBLE)
         / CAST((SELECT n_names FROM nn)
                * ((SELECT n_names FROM nn) - 1) AS DOUBLE) AS u
  FROM (SELECT COUNT(*) AS c FROM f GROUP BY t1)
), u2 AS (
  SELECT CAST(SUM(c * (c - 1)) AS DOUBLE)
         / CAST((SELECT n_names FROM nn)
                * ((SELECT n_names FROM nn) - 1) AS DOUBLE) AS u
  FROM (SELECT COUNT(*) AS c FROM f GROUP BY t2)
), u3 AS (
  SELECT CAST(SUM(c * (c - 1)) AS DOUBLE)
         / CAST((SELECT n_names FROM nn)
                * ((SELECT n_names FROM nn) - 1) AS DOUBLE) AS u
  FROM (SELECT COUNT(*) AS c FROM f GROUP BY ln)
), b1 AS (
  SELECT n, split_part(n, ' ', 2) AS b FROM d
), b2 AS (
  SELECT n, split_part(n, ' ', 1) AS b FROM d
), cand AS (
  SELECT a.n AS left_name, c.n AS right_name
  FROM b1 a JOIN b1 c ON a.b = c.b AND a.n < c.n
  WHERE abs(length(a.n) - length(c.n)) <= 3 AND levenshtein(a.n, c.n) <= 3
  UNION
  SELECT a.n, c.n
  FROM b2 a JOIN b2 c ON a.b = c.b AND a.n < c.n
  WHERE abs(length(a.n) - length(c.n)) <= 3 AND levenshtein(a.n, c.n) <= 3
), scored AS (
  SELECT p.left_name, p.right_name,
         levenshtein(p.left_name, p.right_name) AS edit_dist,
         CAST(
           (CASE WHEN la.t1 = ra.t1
                 THEN ln(0.95 / u1.u) ELSE ln(0.05 / (1.0 - u1.u)) END)
         + (CASE WHEN la.t2 = ra.t2
                 THEN ln(0.9 / u2.u) ELSE ln(0.1 / (1.0 - u2.u)) END)
         + (CASE WHEN la.ln = ra.ln
                 THEN ln(0.8 / u3.u) ELSE ln(0.2 / (1.0 - u3.u)) END)
         AS DOUBLE) AS fs_score
  FROM cand p
  JOIN f la ON la.n = p.left_name
  JOIN f ra ON ra.n = p.right_name
  CROSS JOIN u1 CROSS JOIN u2 CROSS JOIN u3
)
SELECT left_name, right_name, edit_dist,
       ROUND(fs_score, 6) AS fs_score
FROM scored
ORDER BY fs_score DESC, left_name, right_name
"""


@_register(
    "fs_linkage_scores",
    _FS_SQL,
)
def q_fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter match scoring over the blocked fuzzy candidate
    pairs: each comparison field f contributes ln(m_f/u_f) on
    agreement and ln((1-m_f)/(1-u_f)) on disagreement; the summed
    log-likelihood ratio is the match score a linkage pipeline
    thresholds (the Splink model). Fields: first token, second token,
    exact length. u_f (chance-agreement probability) is estimated
    EXACTLY from the data as the collision probability of two random
    distinct names, sum c_v(c_v-1) / N(N-1) - integer counts, one
    double division; m_f are documented priors (0.95/0.9/0.8).

    Blocking reuses `fuzzy_name_pairs`' two complementary token
    blockers, widened to edit distance <= 3 so the scorer sees
    borderline pairs worth discriminating (a scorer over only
    dist<=2 pairs has nothing to rank).

    Shape at 100 TB: candidate pairs exist only inside blocks over
    the DISTINCT name vocabulary; the u aggregates are
    vocabulary-sized with k-row outputs cross-joined (broadcast) into
    the pair scorer; field values join back by name (hash join on the
    vocabulary). Nothing is all-pairs, and every ln operand is one
    shared double.
    """
    from formula1_etl_analytics_project_spark.operators.linkage import (
        blocked_edit_pairs,
        normalize_name,
    )

    part = read_table(spark, sf_dir, "part")
    # The distinct vocabulary feeds the blockers (x4 consumers), both
    # field sides, and three u-estimates - persist it once or every
    # consumer re-scans and re-distincts the dimension (12 scans
    # measured on the unpersisted plan; 1 after).
    d = (
        part.select(normalize_name("p_name").alias("n"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = blocked_edit_pairs(
        d,
        "n",
        blockers=(
            lambda n: F.split(n, " ").getItem(1),
            lambda n: F.split(n, " ").getItem(0),
        ),
        max_dist=3,
    )
    f = d.select(
        "n",
        F.split("n", " ").getItem(0).alias("t1"),
        F.split("n", " ").getItem(1).alias("t2"),
        F.length("n").alias("ln"),
    )
    nn = d.agg(F.count("*").alias("n_names"))

    def u_of(field):
        return (
            f.groupBy(field)
            .agg(F.count("*").alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1)).alias("coll")
            )
            .crossJoin(F.broadcast(nn))
            .select(
                (
                    F.col("coll").cast("double")
                    / (
                        F.col("n_names") * (F.col("n_names") - 1)
                    ).cast("double")
                ).alias(f"u_{field}")
            )
        )

    us = (
        u_of("t1")
        .crossJoin(F.broadcast(u_of("t2")))
        .crossJoin(F.broadcast(u_of("ln")))
    )

    def fs_term(agree, m, u_col):
        return F.when(
            agree, F.log(F.lit(m) / F.col(u_col))
        ).otherwise(F.log(F.lit(round(1.0 - m, 2)) / (F.lit(1.0) - F.col(u_col))))

    la, ra = f.alias("la"), f.alias("ra")
    scored = (
        pairs.join(la, F.col("la.n") == F.col("left_name"))
        .join(ra, F.col("ra.n") == F.col("right_name"))
        .crossJoin(F.broadcast(us))
        .select(
            "left_name",
            "right_name",
            "edit_dist",
            F.round(
                fs_term(
                    F.col("la.t1") == F.col("ra.t1"), _FS_M["t1"], "u_t1"
                )
                + fs_term(
                    F.col("la.t2") == F.col("ra.t2"), _FS_M["t2"], "u_t2"
                )
                + fs_term(
                    F.col("la.ln") == F.col("ra.ln"), _FS_M["ln"], "u_ln"
                ),
                6,
            ).alias("fs_score"),
        )
    )
    return scored.orderBy(
        F.desc("fs_score"), "left_name", "right_name"
    )


# ===========================================================================
# Wilson score intervals for funnel conversion rates
# ===========================================================================

_WILSON_Z = 1.959964

_WILSON_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), agg AS (
  SELECT (SELECT COUNT(*) FROM v) AS n_view,
         (SELECT COUNT(*) FROM c) AS n_click,
         (SELECT COUNT(*) FROM p) AS n_purchase
), steps AS (
  SELECT 'click_given_view' AS step, n_view AS n, n_click AS k FROM agg
  UNION ALL
  SELECT 'purchase_given_click', n_click, n_purchase FROM agg
), wil AS (
  SELECT step, n, k,
         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
         1.959964 * 1.959964 AS z2,
         CAST(n AS DOUBLE) AS nd
  FROM steps
)
SELECT step,
       CAST(n AS BIGINT) AS n,
       CAST(k AS BIGINT) AS k,
       p_hat AS rate,
       ROUND((p_hat + z2 / (2.0 * nd)
              - 1.959964 * sqrt(p_hat * (1.0 - p_hat) / nd
                                + z2 / (4.0 * nd * nd)))
             / (1.0 + z2 / nd), 6) AS ci_lo,
       ROUND((p_hat + z2 / (2.0 * nd)
              + 1.959964 * sqrt(p_hat * (1.0 - p_hat) / nd
                                + z2 / (4.0 * nd * nd)))
             / (1.0 + z2 / nd), 6) AS ci_hi
FROM wil
ORDER BY step
"""


@_register(
    "wilson_funnel_ci",
    _WILSON_SQL,
)
def q_wilson_funnel_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion rates with Wilson 95% score intervals: the
    reporting layer over `event_funnel`'s strict-ordering first-times.
    Wilson (score) intervals stay inside [0,1] and behave at small n
    and extreme rates where the Wald normal interval collapses - the
    right default for conversion dashboards.

    The two (step, n, k) rows are EXPLODED out of the single
    aggregate row, not UNION'd from it: a union consumes the funnel
    subtree twice, and the funnel is |users|-sized work (the same
    single-consumer discipline as psi_drift's grid).

    Exactness: n and k are exact integers from the funnel counts;
    z enters as the literal 1.959964 (z^2 as the literal product) and
    the whole interval is one shared double expression tree.

    Shape at 100 TB: the funnel's per-stage state is |users| rows
    keyed and joined on one partitioning (operator docstring); the
    Wilson arithmetic runs on a 2-row frame.
    """
    from formula1_etl_analytics_project_spark.operators.linkage import (
        funnel_first_times,
    )

    ev = read_table(spark, sf_dir, "events")
    fun = funnel_first_times(
        ev,
        "user_id",
        "ts",
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    agg = fun.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    steps = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("click_given_view").alias("step"),
                    F.col("n_view").alias("n"),
                    F.col("n_click").alias("k"),
                ),
                F.struct(
                    F.lit("purchase_given_click").alias("step"),
                    F.col("n_click").alias("n"),
                    F.col("n_purchase").alias("k"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    p_hat = F.col("k").cast("double") / F.col("n").cast("double")
    nd = F.col("n").cast("double")
    z = F.lit(_WILSON_Z)
    z2 = z * z
    center = p_hat + z2 / (F.lit(2.0) * nd)
    half = z * F.sqrt(
        p_hat * (F.lit(1.0) - p_hat) / nd
        + z2 / (F.lit(4.0) * nd * nd)
    )
    denom = F.lit(1.0) + z2 / nd
    return steps.select(
        "step",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        p_hat.alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    ).orderBy("step")


# ===========================================================================
# First principal component via unrolled power iteration
# ===========================================================================

_PC_DIM = 64
_PC_ITERS = 3


def _pc_iter_sql(i: int, prev: str) -> str:
    return f"""d{i} AS (
  SELECT e.vec_id,
         CAST(SUM(CAST(e.val * v.v AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM exc e JOIN {prev} v USING (pos) GROUP BY e.vec_id
), y{i} AS (
  SELECT e.pos,
         CAST(SUM(CAST(d.dot * e.val AS DECIMAL(38,12))) AS DOUBLE) AS y
  FROM exc e JOIN d{i} d USING (vec_id) GROUP BY e.pos
), v{i} AS (
  SELECT pos, y,
         y / sqrt(CAST(SUM(CAST(y * y AS DECIMAL(38,12))) OVER ()
                       AS DOUBLE)) AS v,
         sqrt(CAST(SUM(CAST(y * y AS DECIMAL(38,12))) OVER ()
                   AS DOUBLE)) AS nrm
  FROM y{i}
)"""


_PC_SQL = f"""
WITH ex AS (
  SELECT vec_id, g.pos, CAST(embedding[g.pos + 1] AS DOUBLE) AS val
  FROM embeddings
  CROSS JOIN (SELECT UNNEST(range({_PC_DIM})) AS pos) g
), mu AS (
  SELECT pos,
         CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mu
  FROM ex GROUP BY pos
), exc AS (
  SELECT e.vec_id, e.pos, e.val - m.mu AS val
  FROM ex e JOIN mu m USING (pos)
), v0 AS (
  SELECT UNNEST(range({_PC_DIM})) AS pos, 0.125 AS v
), {_pc_iter_sql(1, "v0")},
{_pc_iter_sql(2, "v1")},
{_pc_iter_sql(3, "v2")}
SELECT CAST(pos AS BIGINT) AS pos,
       ROUND(v, 6) AS loading,
       ROUND(nrm, 6) AS lambda1
FROM v3
ORDER BY pos
"""


@_register(
    "power_iteration_pc1",
    _PC_SQL,
    bench=True,
)
def q_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the (mean-centered) embedding
    corpus by three unrolled power iterations - the direction a
    curation pipeline uses for spectral diagnostics (anisotropy /
    dominant-axis checks) and whitening. Each iteration is the
    distributed matvec y = X^T (X v) stated relationally: dot = per
    vector sum(val * v[pos]) (join on pos + aggregate by vec_id),
    y = sum(dot * val) by pos, then normalize by the full-frame
    window norm over the 64-row spectrum table. lambda1 reports
    ||y_3|| - the scatter-matrix (unnormalized covariance) top
    eigenvalue estimate.

    Deterministic by construction: uniform 1/8 init (positive, so
    the sign convention is fixed), exactly three iterations,
    every reduction decimal-summed, every division/sqrt one shared
    double expression. No rand(), no convergence test (a tolerance
    loop would make iteration count data-dependent and the result
    engine-dependent).

    Shape at 100 TB: the corpus never shuffles as vectors - the
    exploded (vec_id, pos, val) stream aggregates map-side for both
    halves of each matvec; the spectrum table is 64 rows, persisted
    per iteration (the kmeans_centroids discipline) so the next
    round's join starts from materialized values instead of
    replaying the lineage. The per-iteration dot aggregate keys on
    vec_id (corpus-sized but narrow); everything else is
    dimension-sized.
    """
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fval")
    ).select("vec_id", "pos", F.col("fval").cast("double").alias("val"))
    # mu is 64 rows but sits inside every exc consumer (6 of them:
    # two matvec halves x 3 iterations) - persisted, each consumer
    # re-scans the pruned parquet once instead of twice. exc itself
    # (corpus x 64 exploded) is deliberately NOT cached: at 100 TB
    # re-scanning the column-pruned source beats materializing a
    # 64x-exploded copy (the kmeans_centroids trade).
    mu = ex.groupBy("pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    exc = ex.join(F.broadcast(mu), "pos").select(
        "vec_id", "pos", (F.col("val") - F.col("mu")).alias("val")
    )
    v = spark.range(_PC_DIM).select(
        F.col("id").cast("int").alias("pos"), F.lit(0.125).alias("v")
    )
    w_all = Window.partitionBy()
    last = None
    for _ in range(_PC_ITERS):
        d = (
            exc.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    (F.col("val") * F.col("v")).cast("decimal(38,12)")
                )
                .cast("double")
                .alias("dot")
            )
        )
        y = (
            exc.join(d, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum(
                    (F.col("dot") * F.col("val")).cast("decimal(38,12)")
                )
                .cast("double")
                .alias("y")
            )
        )
        nrm = F.sqrt(
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)"))
            .over(w_all)
            .cast("double")
        )
        last = y.select(
            "pos",
            (F.col("y") / nrm).alias("v"),
            nrm.alias("nrm"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        v = last.select("pos", "v")
    return last.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.round("v", 6).alias("loading"),
        F.round("nrm", 6).alias("lambda1"),
    ).orderBy("pos")
