"""Per-partition key Bloom index (operators/bloom_index.py): the
sidecar-only moved-key probe that the catalog entry
``bloom_moved_key_probe`` runs.

Covers: filter build/probe correctness (no false negatives ever — a
Bloom filter's hard guarantee), the FPP bound on honest inserts, and
the plan property that a clean probe never touches the data table.
"""

from __future__ import annotations

import pytest

from formula1_etl_analytics_project_spark.operators import bloom_index as bi
from formula1_etl_analytics_project_spark.sources.sinks import write_parquet


def _mk_table(spark, tmp_path, n=300):
    """keys 0..n-1 split across three partitions by modulo."""
    base = spark.createDataFrame(
        [(i, ["A", "B", "C"][i % 3], float(i)) for i in range(n)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])
    return path


def test_bloom_params_sizing():
    nbits, nhashes = bi.bloom_params(1000, fpp=0.001)
    assert nbits % 64 == 0
    assert 10 * 1000 < nbits < 20 * 1000  # ~14.4 bits/key at 0.1%
    assert 5 <= nhashes <= 14
    with pytest.raises(ValueError):
        bi.bloom_params(0)
    with pytest.raises(ValueError):
        bi.bloom_params(100, fpp=1.5)


def test_probe_has_no_false_negatives_and_bounded_false_positives(
    spark, tmp_path
):
    path = _mk_table(spark, tmp_path)
    bi.build_key_bloom_index(
        spark, path, ["k"], "part", expected_keys_per_partition=100, fpp=0.01
    )
    # every existing key claimed under a DIFFERENT partition must be
    # found (no false negatives): keys 0,3,6,... live in A; claim in B
    movers = spark.createDataFrame(
        [(i, "B", -1.0) for i in range(0, 300, 3)], ["k", "part", "v"]
    )
    found = bi.probe_moved_keys(spark, path, movers, ["k"], "part")
    got = {(r["k"], r["suspect_partition"]) for r in found.collect()}
    assert {(i, "A") for i in range(0, 300, 3)} <= got
    # honest brand-new keys: exact verification stage clears every
    # Bloom false positive, so the confirmed set is EMPTY
    inserts = spark.createDataFrame(
        [(i, "A", 1.0) for i in range(10_000, 10_200)], ["k", "part", "v"]
    )
    assert bi.probe_moved_keys(spark, path, inserts, ["k"], "part").count() == 0
    # same-partition updates are not moves
    updates = spark.createDataFrame(
        [(i, ["A", "B", "C"][i % 3], 2.0) for i in range(0, 300, 7)],
        ["k", "part", "v"],
    )
    assert bi.probe_moved_keys(spark, path, updates, ["k"], "part").count() == 0


def test_probe_finds_a_move_out_of_a_partition_the_batch_also_writes(
    spark, tmp_path
):
    """A key that leaves a partition the same batch also writes is a
    mover: key 1 lives in B and claims C, while key 4 updates B in
    place. Each row is probed against every partition but its own."""
    path = _mk_table(spark, tmp_path, n=30)
    bi.build_key_bloom_index(
        spark, path, ["k"], "part", expected_keys_per_partition=10
    )
    batch = spark.createDataFrame(
        [(1, "C", -1.0), (4, "B", -4.0)], ["k", "part", "v"]
    )
    found = bi.probe_moved_keys(spark, path, batch, ["k"], "part").collect()
    assert [(r["k"], r["part"], r["suspect_partition"]) for r in found] == [
        (1, "C", "B")
    ]


def test_clean_probe_plan_never_scans_the_data_table(spark, tmp_path):
    """The point of the index: a batch of honest inserts whose probe
    comes back all-negative must decide WITHOUT reading the data table
    (the exact check's full key-projection scan is exactly what the
    index removes). Clean probes skip stage 3, so the only parquet
    reads are the sidecar's."""
    path = _mk_table(spark, tmp_path)
    bi.build_key_bloom_index(
        spark, path, ["k"], "part", expected_keys_per_partition=100, fpp=0.001
    )
    inserts = spark.createDataFrame(
        [(i, "A", 1.0) for i in range(20_000, 20_050)], ["k", "part", "v"]
    )
    result = bi.probe_moved_keys(spark, path, inserts, ["k"], "part")
    assert result.count() == 0
    plan = result._jdf.queryExecution().executedPlan().toString()
    # location strings truncate in toString(), so distinguish scans by
    # ReadSchema: the sidecar reads (word_idx, word); a data-table scan
    # would read the key column k. Every parquet scan in a clean probe
    # must be a sidecar scan.
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert any("word" in s for s in schemas), (
        f"expected sidecar parquet scans in:\n{plan[:2000]}"
    )
    for s in schemas:
        # struct<> = a partition-values-only scan (no data columns);
        # any scan reading the key column k is the data table
        assert "k:" not in s, (
            f"all-negative probe read the data table ({s}):\n{plan[:2000]}"
        )
