"""UDAF/UDTF surface: each Python extension point agrees with its
native-expression twin (which is what hot paths should use)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.functions.udx import (
    sentence_split_udtf,
    weighted_mean_udaf,
)
from formula1_etl_analytics_project_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def weighted_mean_native(x, w):
    """The expression Catalyst can optimize - prefer in hot paths."""
    x = F.col(x) if isinstance(x, str) else x
    w = F.col(w) if isinstance(w, str) else w
    return F.sum(x * w) / F.sum(w)


def test_weighted_mean_udaf_matches_native(spark):
    li = read_table(spark, SF, "lineitem")
    # grouped-agg pandas UDFs cannot share an agg() with JVM aggregates
    udaf = li.groupBy("l_returnflag").agg(
        weighted_mean_udaf()("l_extendedprice", "l_quantity").alias("udaf")
    )
    native = li.groupBy("l_returnflag").agg(
        weighted_mean_native("l_extendedprice", "l_quantity").alias("native")
    )
    got = udaf.join(native, "l_returnflag").collect()
    assert got and all(math.isclose(r.udaf, r.native, rel_tol=1e-9) for r in got)


def test_sentence_split_udtf_matches_posexplode(spark):
    docs = read_table(spark, SF, "documents").limit(50)
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("sentence_split", sentence_split_udtf())
    got = spark.sql(
        "SELECT d.doc_id, s.pos, s.sentence FROM _udtf_docs d, "
        "LATERAL sentence_split(d.text) s"
    )
    native = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.transform(F.split("text", r"\."), lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("pos", "sentence"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, native.collect()))
