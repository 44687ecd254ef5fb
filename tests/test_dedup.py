"""Dedup operator tests: deterministic keep-first, and the near-dup
family (minhash+LSH, simhash, n-gram Jaccard) on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.operators.dedup import (
    dedup_keep_first,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away "
    "into the deep green forest to find some food for the long winter"
)
NEAR = BASE.replace("green", "dark")  # one token changed
FAR = (
    "completely different content about spark query engines and "
    "distributed columnar execution with shuffles and partitions"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, NEAR),          # near-dup of 1
        (3, FAR),
        (4, BASE),          # exact dup of 1
        (5, FAR + " extra tail words here"),  # near-dup of 3
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_approx_sketches_within_bounds(spark):
    """The sketch-based scale paths (HLL approx_count_distinct,
    t-digest approx_percentile) must land within their documented error
    of the exact answers they replace at 100 TB (where exact distinct /
    exact percentile need a full shuffle the sketches avoid)."""
    from formula1_etl_analytics_project_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    li = read_table(spark, "/root/testdata/sf0.01", "lineitem")
    row = li.agg(
        F.count_distinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(l_quantity, 0.95)").alias("exact_p"),
        F.expr("approx_percentile(l_quantity, 0.95, 10000)").alias("approx_p"),
    ).collect()[0]
    assert abs(row["approx_d"] - row["exact_d"]) / row["exact_d"] < 0.06
    assert abs(row["approx_p"] - row["exact_p"]) <= 1.0


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, "first"), (1, 20, "second"), (2, 5, "only")],
        ["k", "ord", "v"],
    )
    # run repeatedly with different partition layouts - result stable
    for n in (1, 3, 7):
        out = {
            r["k"]: r["v"]
            for r in dedup_keep_first(df.repartition(n), ["k"], ["ord"]).collect()
        }
        assert out == {1: "first", 2: "only"}


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert (3, 5) in pairs
    assert not any({a, b} == {1, 3} for a, b in pairs)  # unrelated docs


def test_ngram_jaccard_exact_values(docs):
    # one (lang, source) block holds every doc, so every pair is scored
    blocked = docs.withColumn("lang", F.lit("en")).withColumn("source", F.lit("web"))
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(blocked, threshold=0.2).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert 0.5 < pairs[(1, 2)] < 1.0


def test_simhash_hamming(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 4)) == 0  # identical text -> identical signature
    assert (1, 2) in pairs  # near dup within hamming budget
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash64_banding_pigeonhole_exact(spark):
    """64-bit banding loses NOTHING: over real documents, the banded
    pair set (8 bands of 8 bits > max_hamming=2, pigeonhole) must equal
    brute-force all-pairs hamming<=2 over the same 64-bit signatures.
    Also pins the wide signature's integer packing: 64 distinct bits,
    sign bit legal."""
    from formula1_etl_analytics_project_spark.operators.dedup import (
        _word_digests,
        simhash64_wide_from_digests,
    )
    from formula1_etl_analytics_project_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    sig = docs.select(
        "doc_id", simhash64_wide_from_digests(_word_digests("text")).alias("sig")
    ).cache()
    # brute force: all-pairs on signatures (fine at this row count)
    brute = (
        sig.alias("l")
        .join(sig.alias("r"), F.col("l.doc_id") < F.col("r.doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))),
        )
        .filter(F.col("hamming") <= 2)
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            "hamming",
        )
    )
    banded = simhash_pairs(docs, nbits=64, max_hamming=2, band_bits=8)
    b = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    g = {(r["id_a"], r["id_b"], r["hamming"]) for r in banded.collect()}
    assert g == b
    # signatures genuinely span the upper half (packing not truncated)
    spread = sig.agg(
        F.max(F.shiftrightunsigned("sig", 32)).alias("hi"),
    ).first()
    assert spread["hi"] > 0
    sig.unpersist()


def test_simhash_banding_rejects_unsound_params(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        simhash_pairs(df, nbits=16, band_bits=8, max_hamming=2).collect()


def test_prefix_jaccard_is_lossless_vs_all_pairs(spark, docs):
    """The AllPairs prefix filter must return EXACTLY the naive
    all-pairs result - it is a lossless pruning, not a heuristic."""
    from formula1_etl_analytics_project_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )
    from formula1_etl_analytics_project_spark.functions.text import shingles

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_jaccard_pairs(docs).collect()
    }
    sh = docs.select(
        F.col("doc_id").alias("_id"),
        shingles("text", k=3).alias("_sh"),
    )
    jac = F.size(F.array_intersect("l._sh", "r._sh")) / F.size(
        F.array_union("l._sh", "r._sh")
    )
    naive = {
        (r.id_a, r.id_b, r.jaccard)
        for r in sh.alias("l")
        .join(sh.alias("r"), F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == naive
    assert (1, 4, 1.0) in got  # the exact-dup pair survives


def test_prefix_jaccard_df_order_matches_lex(spark, docs):
    """Both total orders are lossless, so their outputs must be
    IDENTICAL - the df mode's extra frequency pass buys selectivity,
    never a different answer."""
    from formula1_etl_analytics_project_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    lex = {
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_jaccard_pairs(docs).collect()
    }
    df_ = {
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_jaccard_pairs(docs, order="df").collect()
    }
    assert lex == df_ and lex
