"""Similarity search over embedding columns (SURVEY.md M6).

Two tiers:
  * ``brute_force_topk`` - exact cosine top-k: one narrow map over the
    corpus plus a TakeOrderedAndProject reduction. The correctness
    baseline; at 100 TB it reads everything but never shuffles more
    than k rows per partition.
  * ``ivf_topk`` - IVF-style pruned search: vectors are assigned to
    their nearest centroid cell at index time; a query probes only its
    ``nprobe`` nearest cells. Centroids here are deterministic data
    samples (first-k by id) so the DuckDB oracle can reproduce the
    assignment; a production index would k-means them - the Spark
    plumbing (cell column, partition-by-cell layout, cell-pruned scan)
    is identical.
  * ``lsh_bucket_topk`` - random-hyperplane LSH bucketing, same idea
    with sign-bit buckets.

Embedding near-dup dedup composes these: candidate pairs within a cell,
cosine >= threshold (``embedding_neardup_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from formula1_etl_analytics_project_spark.functions.vectors import cosine, dot

# Every operator here reads the embeddings table's id and vector columns.
_ID, _VEC = "vec_id", "embedding"
# The IVF probe width, and the product-quantization shape: m subvectors of
# sub_len dims, k centroids per subspace.
_NPROBE = 2
_PQ_M, _PQ_SUB_LEN, _PQ_K = 4, 16, 4


def _query_vec(df: DataFrame, query_id: int):
    """The query vector as a 1-row broadcastable DataFrame (never a
    driver-side collect - composes into one distributed plan)."""
    return F.broadcast(
        df.filter(F.col(_ID) == query_id).select(
            F.col(_VEC).alias("_qvec")
        )
    )


def brute_force_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against the vector of ``query_id``."""
    q = _query_vec(df, query_id)
    scored = (
        df.filter(F.col(_ID) != query_id)
        .crossJoin(q)
        .select(
            F.col(_ID),
            F.round(cosine(F.col(_VEC), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(_ID)).limit(k)


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """IVF index build: each vector joins (broadcast) against all
    centroids, keeps its argmax-cosine cell. Adds a ``cell`` column."""
    w = Window.partitionBy(_ID).orderBy(
        F.col("_csim").desc(), F.col("cent_id")
    )
    return (
        df.crossJoin(F.broadcast(centroids))
        .withColumn("_csim", cosine(F.col(_VEC), F.col("cent_vec")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(df["*"], F.col("cent_id").alias("cell"))
    )


def sample_centroids(
    df: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Deterministic centroid pick: the n lowest-id vectors. Stands in
    for k-means so tests/oracle are reproducible."""
    return (
        df.orderBy(_ID)
        .limit(n)
        .select(F.col(_ID).alias("cent_id"), F.col(_VEC).alias("cent_vec"))
    )


def ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
) -> DataFrame:
    """IVF search: score only vectors in the query's ``_NPROBE`` nearest
    cells. At scale the index table is written partitioned by cell, so
    the probe is a partition-pruned scan of nprobe/n_cells of the data.
    """
    centroids = sample_centroids(df, n_cells)
    indexed = assign_cells(df, centroids)
    qcells = (
        indexed.filter(F.col(_ID) == query_id)
        .crossJoin(F.broadcast(centroids))
        .select(
            F.col("cent_id"),
            cosine(F.col(_VEC), F.col("cent_vec")).alias("_csim"),
        )
        .orderBy(F.col("_csim").desc(), F.col("cent_id"))
        .limit(_NPROBE)
        .select("cent_id")
    )
    candidates = indexed.join(
        F.broadcast(qcells), indexed["cell"] == qcells["cent_id"], "left_semi"
    )
    q = _query_vec(df, query_id)
    scored = (
        candidates.filter(F.col(_ID) != query_id)
        .crossJoin(q)
        .select(
            F.col(_ID),
            F.round(cosine(F.col(_VEC), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(_ID)).limit(k)


def lsh_bucket(
    df: DataFrame,
    hyperplanes: DataFrame,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = concatenated sign bits of the
    dot product with each hyperplane. ``hyperplanes`` is (hp_id, hp_vec)."""
    signed = (
        df.crossJoin(F.broadcast(hyperplanes))
        .withColumn("_bit", F.when(dot(F.col(_VEC), F.col("hp_vec")) >= 0, "1").otherwise("0"))
        .groupBy(_ID)
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(F.struct("hp_id", "_bit"))), lambda s: s["_bit"])
            ).alias("bucket")
        )
    )
    return df.join(signed, on=_ID)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, candidate-limited to
    same-IVF-cell pairs: (id_a, id_b, cos_sim) with id_a < id_b."""
    centroids = sample_centroids(df, n_cells)
    # Persist the cell index: it feeds both sides of the self-join (the
    # local analog of the IVF index written partitioned-by-cell).
    indexed = (
        assign_cells(df, centroids)
        .select(F.col(_ID).alias("_id"), F.col(_VEC).alias("_vec"), "cell")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    indexed.count()  # eager: both self-join sides read the cell index
    pairs = indexed.alias("l").join(
        indexed.alias("r"),
        (F.col("l.cell") == F.col("r.cell")) & (F.col("l._id") < F.col("r._id")),
    )
    sim = F.round(cosine(F.col("l._vec"), F.col("r._vec")), 6)
    return (
        pairs.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def kmeans_lloyd_centroids(df: DataFrame) -> DataFrame:
    """Distributed Lloyd's k-means: the centroid trainer for the IVF
    index (``sample_centroids`` is the deterministic stand-in this
    replaces when real training is wanted).

    Each iteration is two shuffle-bounded relational steps:
      1. assign: broadcast the k centroids, argmax-cosine per vector
         (``assign_cells`` - the corpus never shuffles);
      2. update: per-(cell, dimension) mean via posexplode + hash agg -
         the only shuffle, k*dim grouped rows.

    Everything is deterministic (first-k seed, cent_id tie-break on
    assignment, decimal-cast sums for order-independent means), so the
    whole training loop is reproducible cross-engine. At cluster scale
    each iteration's centroid table is k*dim doubles - persisted (here)
    or checkpointed to cut the replayed lineage per round.

    Returns (cent_id, cent_vec array<double>): k = 4 centroids after 2
    updates.
    """
    cents = sample_centroids(df, 4)
    for _ in range(2):
        assigned = assign_cells(df, cents)
        per_dim = (
            assigned.select(
                "cell", F.posexplode(F.col(_VEC)).alias("_pos", "_val")
            )
            .groupBy("cell", "_pos")
            .agg(
                (
                    F.sum(F.col("_val").cast("decimal(30,12)")).cast("double")
                    / F.count("*")
                ).alias("_cval")
            )
        )
        cents = (
            per_dim.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_cval"))).alias("_pv"))
            .select(
                F.col("cell").alias("cent_id"),
                F.transform("_pv", lambda s: s["_cval"]).alias("cent_vec"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    return cents


def ivf_recall_at_k(df: DataFrame) -> DataFrame:
    """Recall@10 of IVF-pruned search (8 cells, ``_NPROBE`` probed)
    against the exact brute-force answer, evaluated SET-BASED for the
    10 queries with the lowest ids in two corpus
    scans (one brute pass, one candidate pass) - never a per-query
    driver loop. The standard ANN quality gate: at 100 TB you tune
    nprobe until recall@k clears the product bar, and this is the
    query that measures it.

    Everything joins against broadcast-sized tables (queries,
    centroids, probed cells), so the corpus only ever streams. Returns
    (query_id, recall_at_k). Deterministic end-to-end: same sampled
    centroids / tie-breaks as ``ivf_topk``, so an oracle can reproduce
    the approximation exactly.
    """
    k = 10
    queries = df.filter(F.col(_ID) < 10).select(
        F.col(_ID).alias("qid"), F.col(_VEC).alias("qvec")
    )
    wq = Window.partitionBy("qid").orderBy(F.col("_cos").desc(), F.col(_ID))

    brute = (
        df.crossJoin(F.broadcast(queries))
        .filter(F.col(_ID) != F.col("qid"))
        .withColumn("_cos", cosine(F.col(_VEC), F.col("qvec")))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= k)
        .select("qid", F.col(_ID).alias("_hit"))
    )

    centroids = sample_centroids(df, 8)
    indexed = assign_cells(df, centroids)
    wc = Window.partitionBy("qid").orderBy(F.col("_csim").desc(), F.col("cent_id"))
    qcells = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_csim", cosine(F.col("qvec"), F.col("cent_vec")))
        .withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") <= _NPROBE)
        .select("qid", "qvec", "cent_id")
    )
    ivf = (
        indexed.join(F.broadcast(qcells), indexed["cell"] == qcells["cent_id"])
        .filter(F.col(_ID) != F.col("qid"))
        .withColumn("_cos", cosine(F.col(_VEC), F.col("qvec")))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= k)
        .select("qid", F.col(_ID).alias("_hit"))
    )

    return (
        brute.alias("b")
        .join(
            ivf.alias("i"),
            (F.col("b.qid") == F.col("i.qid"))
            & (F.col("b._hit") == F.col("i._hit")),
            "left",
        )
        .groupBy(F.col("b.qid").alias("query_id"))
        .agg(
            F.round(F.count(F.col("i._hit")) / k, 6).alias("recall_at_k")
        )
    )


def _pq_sqdist(a, b):
    """Strict left-fold squared L2 - bit-identical to DuckDB's
    list_reduce over the same element order."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(df: DataFrame, m: int, sub_len: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, sub_id, sv): each vector exploded into its m subvectors."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub_id"),
                        F.slice(F.col(vec_col), j * sub_len + 1, sub_len).alias(
                            "sv"
                        ),
                    )
                    for j in range(m)
                ]
            )
        ).alias("_s"),
    ).select(id_col, F.col("_s.sub_id").alias("sub_id"), F.col("_s.sv").alias("sv"))


def _pq_train(
    df: DataFrame,
    m: int,
    sub_len: int,
    k: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared PQ trainer: first-k seed, one decimal-mean Lloyd update,
    final assignment. Returns (subs, codebook, assigned) where
    codebook = (sub_id, cent_id, cv array<double>) and assigned =
    (id, sub_id, code, _d). Determinism and scale notes on pq_encode.
    """
    subs = _pq_subvectors(df, m, sub_len, _ID, _VEC)

    seed_ids = df.select(_ID).orderBy(_ID).limit(k)
    cent0 = (
        subs.join(F.broadcast(seed_ids), _ID)
        .select(
            F.col(_ID).alias("cent_id"),
            "sub_id",
            F.col("sv").alias("cv"),
        )
    )

    def assign(cents: DataFrame) -> DataFrame:
        w = Window.partitionBy(_ID, "sub_id").orderBy("_d", "cent_id")
        return (
            subs.join(F.broadcast(cents), "sub_id")
            .withColumn("_d", _pq_sqdist(F.col("sv"), F.col("cv")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(_ID, "sub_id", F.col("cent_id").alias("code"), "_d")
        )

    a1 = assign(cent0)
    upd = (
        a1.join(subs, [_ID, "sub_id"])
        .select("sub_id", F.col("code").alias("cell"), F.posexplode("sv").alias("_p", "_v"))
        .groupBy("sub_id", "cell", "_p")
        .agg(
            (
                F.sum(F.col("_v").cast("decimal(30,12)")).cast("double")
                / F.count("*")
            ).alias("_cv")
        )
    )
    cent1 = (
        upd.groupBy("sub_id", "cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("_p", "_cv"))).alias("_pv")
        )
        .select(
            "sub_id",
            F.col("cell").alias("cent_id"),
            F.transform("_pv", lambda s: s["_cv"]).alias("cv"),
        )
    )
    return subs, cent1, assign(cent1)


def pq_encode(
    df: DataFrame,
    m: int = _PQ_M,
    sub_len: int = _PQ_SUB_LEN,
) -> DataFrame:
    """Product quantization: split each ``m * sub_len``-dim vector into
    ``m`` subvectors, train ``_PQ_K`` centroids per subspace (deterministic
    first-k seed + one decimal-mean Lloyd update), and assign every
    subvector its nearest (squared-L2) centroid. Output per vector:
    the ``m``-entry code word plus the reconstruction MSE - the memory
    side of the ANN stack (IVF prunes WHERE to look, PQ shrinks WHAT
    is kept: 64 floats -> m small ints, a 64x compression at the
    default shape, searched via asymmetric distance against the codebook).

    Determinism: seeds are the subvectors of the _PQ_K smallest ids;
    squared distances are strict left-fold doubles (bit-identical in
    DuckDB's list_reduce); argmin tie-breaks on cent_id; the Lloyd
    update means are decimal-cast sums. The whole train+assign loop is
    therefore cross-engine reproducible, like kmeans_lloyd_centroids.

    Scale shape: the corpus never shuffles - both assignment passes
    broadcast the m*k codebook; the only shuffles are the
    (sub_id, cell, pos)-grouped centroid update (m*k*sub_len rows out)
    and the final per-vector code collect, which is keyed by the id
    and combines map-side. At 100 TB you persist the codebook once and
    the encode pass is a single narrow map over the fact table.
    """
    _, _, a2 = _pq_train(df, m, sub_len, _PQ_K)
    dim = m * sub_len
    return (
        a2.groupBy(_ID)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
                lambda s: s["code"],
            ).alias("codes"),
            F.round(
                F.sum(F.col("_d").cast("decimal(38,12)")).cast("double")
                / F.lit(float(dim)),
                6,
            ).alias("recon_mse"),
        )
    )


def pq_adc_recall(df: DataFrame) -> DataFrame:
    """Recall@10 of PQ asymmetric-distance (ADC) search against the
    exact squared-L2 answer - the quality gate that closes the PQ
    loop (pq_encode compresses; this measures what the compression
    costs at query time). Queries are the vectors with id % 200 == 0,
    evaluated SET-BASED like ivf_recall_at_k: never a per-query loop.

    ADC works exactly as on a real serving tier: per query, an
    m x k distance TABLE (query subvector vs every codebook centroid)
    is computed once and broadcast; each corpus vector's approximate
    distance is then the sum of m table LOOKUPS keyed by its code -
    the corpus side touches only its m small ints, never the floats.

    Determinism: both distance sides are strict-left-fold doubles; the
    m-term ADC sum is decimal-cast (order-independent); every top-k
    rank tie-breaks on the vector id.

    Scale shape: the codebook and the q x m x k distance table
    broadcast; the corpus codes table shuffles only for the per-query
    top-k (partial per-partition heaps). The exact brute side - the
    eval-only cost - is one corpus scan per evaluation, same as
    ivf_recall_at_k.
    """
    topk = 10
    subs, cents, assigned = _pq_train(df, _PQ_M, _PQ_SUB_LEN, _PQ_K)
    codes = assigned.select(_ID, "sub_id", "code")

    queries = df.filter(F.col(_ID) % 200 == 0).select(
        F.col(_ID).alias("qid"), F.col(_VEC).alias("qvec")
    )
    qsubs = _pq_subvectors(queries, _PQ_M, _PQ_SUB_LEN, "qid", "qvec")
    dtab = qsubs.join(F.broadcast(cents), "sub_id").select(
        "qid",
        "sub_id",
        F.col("cent_id").alias("code"),
        _pq_sqdist(F.col("sv"), F.col("cv")).alias("qd"),
    )

    adc = (
        codes.join(F.broadcast(dtab), ["sub_id", "code"])
        .filter(F.col(_ID) != F.col("qid"))
        .groupBy("qid", _ID)
        .agg(
            F.sum(F.col("qd").cast("decimal(38,12)"))
            .cast("double")
            .alias("adc_d")
        )
    )
    wa = Window.partitionBy("qid").orderBy("adc_d", _ID)
    adck = (
        adc.withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") <= topk)
        .select("qid", F.col(_ID).alias("_hit"))
    )

    wb = Window.partitionBy("qid").orderBy("_d", _ID)
    brute = (
        df.crossJoin(F.broadcast(queries))
        .filter(F.col(_ID) != F.col("qid"))
        .withColumn("_d", _pq_sqdist(F.col(_VEC), F.col("qvec")))
        .withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") <= topk)
        .select("qid", F.col(_ID).alias("_hit"))
    )

    return (
        brute.alias("b")
        .join(
            adck.alias("a"),
            (F.col("b.qid") == F.col("a.qid"))
            & (F.col("b._hit") == F.col("a._hit")),
            "left",
        )
        .groupBy(F.col("b.qid").alias("query_id"))
        .agg(
            F.round(
                F.count(F.col("a._hit")).cast("double") / F.lit(float(topk)), 6
            ).alias("recall_at_k")
        )
    )
