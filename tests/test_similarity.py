"""Similarity-search tests: brute-force exactness, IVF recall against
the exact baseline, and embedding near-dup with planted duplicates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import types as T

from formula1_etl_analytics_project_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_topk,
)

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


import random

N_CLUSTERS = 4
DIM = 16


def _center(c: int) -> list[float]:
    rng = random.Random(1000 + c)
    return [rng.uniform(-1, 1) for _ in range(DIM)]


def _vec(i: int) -> list[float]:
    # clustered corpus: vector i belongs to cluster i % N_CLUSTERS
    # (so ids 0..3 - the deterministic sample centroids - cover all
    # clusters), with small per-vector noise
    rng = random.Random(i)
    center = _center(i % N_CLUSTERS)
    return [v + rng.uniform(-0.1, 0.1) for v in center]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, [float(v) for v in _vec(i)]) for i in range(48)]
    # plant a near-duplicate of vector 7
    near = [v + 0.001 for v in _vec(7)]
    rows.append((999, [float(v) for v in near]))
    return spark.createDataFrame(rows, SCHEMA)


def test_brute_force_cosine_exact(spark, emb):
    out = brute_force_topk(emb, query_id=7, k=5).collect()
    assert len(out) == 5
    # the planted near-dup must be the top hit with sim ~ 1
    assert out[0]["vec_id"] == 999
    assert out[0]["cos_sim"] > 0.999
    # scores sorted descending
    sims = [r["cos_sim"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_bruteforce(spark, emb):
    exact = {r["vec_id"] for r in brute_force_topk(emb, 7, k=5).collect()}
    approx = {r["vec_id"] for r in ivf_topk(emb, 7, k=5, n_cells=4).collect()}
    # clustered corpus: the query's true neighbors live in its cluster,
    # whose cell IVF probes first -> near-perfect recall expected
    assert 999 in approx
    assert len(exact & approx) >= 4


def test_embedding_neardup_planted(spark, emb):
    pairs = embedding_neardup_pairs(emb, threshold=0.999, n_cells=4).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(7, 999)]
