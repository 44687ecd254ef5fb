"""Property tests for the product-quantization trainer
(operators/similarity.py) and the deterministic epoch shuffle entry.

The PQ invariant worth pinning is Lloyd monotonicity: one centroid
update never increases the total assignment error (each new centroid
is the mean of its cell - the L2-optimal point for that cell - and
re-assignment only moves a vector when strictly closer, modulo the
deterministic tie-break).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F, types as T

from formula1_etl_analytics_project_spark.operators.similarity import (
    _pq_subvectors,
    _pq_sqdist,
    _pq_train,
    pq_encode,
)


def _vectors(spark, n=60, dim=16, seed=9):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_lloyd_update_never_increases_assignment_error(spark):
    df = _vectors(spark)
    m, sub_len, k = 2, 8, 4
    subs = _pq_subvectors(df, m, sub_len, "vec_id", "embedding")
    seed_ids = df.select("vec_id").orderBy("vec_id").limit(k)
    cent0 = subs.join(F.broadcast(seed_ids), "vec_id").select(
        F.col("vec_id").alias("cent_id"), "sub_id", F.col("sv").alias("cv")
    )

    def total_err(cents):
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id", "sub_id").orderBy("_d", "cent_id")
        assigned = (
            subs.join(F.broadcast(cents), "sub_id")
            .withColumn("_d", _pq_sqdist(F.col("sv"), F.col("cv")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        return assigned.agg(F.sum("_d")).collect()[0][0]

    err0 = total_err(cent0)
    _, cent1, _ = _pq_train(df, m, sub_len, k)
    err1 = total_err(cent1)
    assert err1 <= err0 + 1e-9, (err0, err1)


def test_pq_codes_are_valid_and_mse_consistent(spark):
    df = _vectors(spark)
    out = pq_encode(df, m=2, sub_len=8).collect()
    assert len(out) == 60
    seed_ids = {0, 1, 2, 3}
    for r in out:
        assert len(r["codes"]) == 2
        assert all(c in seed_ids for c in r["codes"])  # cent ids = seeds
        assert r["recon_mse"] >= 0


def test_epoch_shuffle_is_a_permutation_and_deterministic(spark):
    from formula1_etl_analytics_project_spark.plans.catalog import CATALOG

    fn = CATALOG["epoch_shuffle_docs"].spark
    a = fn(spark, "/root/testdata/sf0.001").collect()
    positions = sorted(r["shuffle_pos"] for r in a)
    assert positions == list(range(1, len(a) + 1))  # dense 1..N
    b = fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # re-runnable


def test_distributed_sequence_invariant_to_partition_count(spark):
    """The rank must be a pure function of the ORDER, not of the
    physical partitioning - the driver's harness may run at any
    parallelism and the epoch-shuffle / Gini / surrogate-key entries
    all sit on this operator."""
    from formula1_etl_analytics_project_spark.operators.sequence import (
        distributed_sequence,
    )

    df = _vectors(spark, n=200, dim=2, seed=3).select(
        "vec_id", F.md5(F.col("vec_id").cast("string")).alias("k")
    )
    a = {
        r["vec_id"]: r["pos"]
        for r in distributed_sequence(
            df, ["k", "vec_id"], "pos", num_partitions=3
        ).collect()
    }
    b = {
        r["vec_id"]: r["pos"]
        for r in distributed_sequence(
            df.repartition(17), ["k", "vec_id"], "pos", num_partitions=11
        ).collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1, 201))
