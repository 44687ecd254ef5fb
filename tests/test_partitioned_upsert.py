"""Partitioned fact-scale MERGE: only touched partitions are read and
rewritten; untouched partition files stay byte-identical on disk."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.sources.sinks import (
    upsert_parquet_partitioned,
    write_parquet,
)


def _files(path: str, part: str) -> dict[str, float]:
    out = {}
    for f in glob.glob(os.path.join(path, part, "*.parquet")):
        out[f] = os.path.getmtime(f)
    return out


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])

    before_a = _files(path, "part=A")
    before_b = _files(path, "part=B")
    assert before_a and before_b

    # incoming touches only partition A: update k=10, insert k=1000
    incoming = spark.createDataFrame(
        [(10, "A", 999.0), (1000, "A", 111.0)], ["k", "part", "v"]
    )
    upsert_parquet_partitioned(spark, incoming, path, keys=["k"], partition_col="part")

    after = spark.read.parquet(path)
    assert after.count() == 101
    got = {r["k"]: r["v"] for r in after.filter(F.col("k").isin(10, 1000, 60)).collect()}
    assert got == {10: 999.0, 1000: 111.0, 60: 60.0}
    # partition B files untouched (same paths, same mtimes)
    assert _files(path, "part=B") == before_b
    # partition A rewritten
    assert _files(path, "part=A") != before_a


def test_partitioned_upsert_detects_cross_partition_key_move(spark, tmp_path):
    """ADVICE r02: an incoming row whose key exists under a DIFFERENT
    partition value would be silently duplicated by dynamic overwrite
    (the old partition is never rewritten). The default check must
    refuse the batch before any write."""
    import pytest

    base = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 2.0)], ["k", "part", "v"]
    )
    path = str(tmp_path / "snap3")
    write_parquet(base, path, partition_by=["part"])
    moved = spark.createDataFrame([(2, "A", 9.0)], ["k", "part", "v"])
    with pytest.raises(ValueError, match="across partitions"):
        upsert_parquet_partitioned(
            spark, moved, path, keys=["k"], partition_col="part"
        )
    # nothing was written: snapshot unchanged
    rows = {r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("A", 1.0), 2: ("B", 2.0)}
    # partition_col inside keys: a "moved" key is a new key - no check,
    # no raise, straight merge
    base2 = str(tmp_path / "snap4")
    write_parquet(base, base2, partition_by=["part"])
    upsert_parquet_partitioned(
        spark, moved, base2, keys=["k", "part"], partition_col="part"
    )
    assert spark.read.parquet(base2).count() == 3


def test_partitioned_upsert_keep_last_on_duplicate_incoming(spark, tmp_path):
    base = spark.createDataFrame([(1, "A", 1.0, 0)], ["k", "part", "v", "seq"])
    path = str(tmp_path / "snap2")
    write_parquet(base, path, partition_by=["part"])
    incoming = spark.createDataFrame(
        [(1, "A", 5.0, 1), (1, "A", 7.0, 2)], ["k", "part", "v", "seq"]
    )
    upsert_parquet_partitioned(
        spark, incoming, path, keys=["k"], partition_col="part", order_col="seq"
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["v"] == 7.0


def test_versioned_upsert_merges_and_prunes(spark, tmp_path):
    """The whole-table versioned store (the commit log) merges on key
    and keeps the current and previous snapshot dirs, pruning older
    ones, so an in-flight reader of the previous version still works."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        commit_log_upsert,
        read_committed,
        read_committed_snapshot,
    )

    def rows():
        table = read_committed_snapshot(spark, path)
        return {r["k"]: r["v"] for r in table.collect()}

    def snap_dirs():
        return sorted(n for n in os.listdir(path) if n.startswith("_snap_"))

    path = str(tmp_path / "store")
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    commit_log_upsert(spark, base, path, keys=["k"])
    assert rows() == {1: 1.0, 2: 2.0}
    first = read_committed(path)[1]

    inc = spark.createDataFrame([(2, 9.0), (3, 3.0)], ["k", "v"])
    commit_log_upsert(spark, inc, path, keys=["k"])
    assert rows() == {1: 1.0, 2: 9.0, 3: 3.0}
    second = read_committed(path)[1]
    assert snap_dirs() == sorted([first, second])

    commit_log_upsert(
        spark, spark.createDataFrame([(4, 4.0)], ["k", "v"]), path, keys=["k"]
    )
    assert rows() == {1: 1.0, 2: 9.0, 3: 3.0, 4: 4.0}
    assert snap_dirs() == sorted([second, read_committed(path)[1]])


@pytest.mark.parametrize("store", ["commit_log", "partitioned"])
def test_first_batch_keeps_last_per_key(spark, tmp_path, store):
    """``order_col`` dedups the first batch into a new table too, not
    only a merge into an existing one."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        commit_log_upsert,
        read_committed_snapshot,
    )

    path = str(tmp_path / "new_table")
    batch = spark.createDataFrame(
        [(1, "A", 1), (1, "A", 2), (2, "A", 1)], "k long, part string, seq long"
    )
    if store == "commit_log":
        commit_log_upsert(spark, batch, path, ["k"], order_col="seq")
        table = read_committed_snapshot(spark, path)
    else:
        upsert_parquet_partitioned(
            spark, batch, path, keys=["k"], partition_col="part", order_col="seq"
        )
        table = spark.read.parquet(path)
    assert sorted((r["k"], r["seq"]) for r in table.collect()) == [(1, 2), (2, 1)]


def test_partitioned_upsert_evolve_schema_mixed_lake(spark, tmp_path):
    """evolve_schema=True: an incoming batch carrying a brand-new
    column rewrites ONLY its partitions with the widened schema;
    untouched partition files stay byte-identical (old schema), and a
    mergeSchema read NULL-fills the column for them - the
    Delta mergeSchema-on-MERGE composition (VERDICT r06 task 7)."""
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])
    before_b = _files(path, "part=B")

    incoming = spark.createDataFrame(
        [(10, "A", 999.0, "x"), (1000, "A", 111.0, "y")],
        ["k", "part", "v", "tag"],
    )
    upsert_parquet_partitioned(
        spark, incoming, path, keys=["k"], partition_col="part",
        evolve_schema=True,
    )

    # B untouched on disk: still the ORIGINAL schema, same files
    assert _files(path, "part=B") == before_b
    b_direct = spark.read.parquet(os.path.join(path, "part=B"))
    assert "tag" not in b_direct.columns

    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert merged.count() == 101
    got = {
        r["k"]: (r["v"], r["tag"])
        for r in merged.filter(F.col("k").isin(10, 1000, 20, 60)).collect()
    }
    assert got == {
        10: (999.0, "x"),       # updated row carries the new column
        1000: (111.0, "y"),     # inserted row carries it
        20: (20.0, None),       # un-updated row in the REWRITTEN partition
        60: (60.0, None),       # row in the untouched old-schema partition
    }


def test_partitioned_upsert_without_evolve_rejects_new_column(spark, tmp_path):
    """Default (evolve_schema=False) keeps strict-pipeline semantics:
    silent schema drift must fail loudly, not widen the table."""
    import pytest

    base = spark.createDataFrame([(1, "A", 1.0)], ["k", "part", "v"])
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])
    incoming = spark.createDataFrame(
        [(1, "A", 2.0, "x")], ["k", "part", "v", "tag"]
    )
    with pytest.raises(Exception):
        upsert_parquet_partitioned(
            spark, incoming, path, keys=["k"], partition_col="part"
        )


def test_partitioned_upsert_second_evolving_merge_preserves_values(
    spark, tmp_path
):
    """A SECOND evolve_schema merge on the mixed lake must read the
    snapshot with mergeSchema: a plain read picks its schema from an
    arbitrary footer, and when an old-schema file wins the evolved
    column's stored values get NULLed out in the rewritten
    partitions - silent data loss (round-7 review finding)."""
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])

    first = spark.createDataFrame(
        [(10, "A", 999.0, "x")], ["k", "part", "v", "tag"]
    )
    upsert_parquet_partitioned(
        spark, first, path, keys=["k"], partition_col="part",
        evolve_schema=True,
    )
    # second evolving merge touches A again with a DIFFERENT key; the
    # stored tag of k=10 must survive the partition rewrite
    second = spark.createDataFrame(
        [(11, "A", 111.0, "y")], ["k", "part", "v", "tag"]
    )
    upsert_parquet_partitioned(
        spark, second, path, keys=["k"], partition_col="part",
        evolve_schema=True,
    )
    merged = spark.read.option("mergeSchema", True).parquet(path)
    got = {
        r["k"]: r["tag"]
        for r in merged.filter(F.col("k").isin(10, 11, 60)).collect()
    }
    assert got == {10: "x", 11: "y", 60: None}


# ---------------------------------------------------------------------------
# Merge mechanics: file layout, self-derived batches, loud failures,
# null partitions, and the session conf
# ---------------------------------------------------------------------------


def _parts(spark, rows, path):
    """Write ``rows`` of (k, part, v) partitioned by ``part``, several
    files per partition, and return the path."""
    base = spark.createDataFrame(rows, "k long, part string, v double")
    write_parquet(base.repartition(4), path, partition_by=["part"])
    return path


def _snapshot(spark, path):
    return sorted(
        (r["k"], r["part"], r["v"]) for r in spark.read.parquet(path).collect()
    )


def test_partitioned_upsert_writes_one_file_per_touched_partition(
    spark, tmp_path
):
    path = _parts(
        spark,
        [(i, "ABC"[i % 3], float(i)) for i in range(90)],
        str(tmp_path / "snap"),
    )
    assert len(_files(path, "part=A")) > 1
    before_c = _files(path, "part=C")
    incoming = spark.createDataFrame(
        [(0, "A", -1.0), (1, "B", -1.0), (500, "B", 5.0)],
        "k long, part string, v double",
    )
    upsert_parquet_partitioned(
        spark, incoming, path, keys=["k"], partition_col="part"
    )
    for part in ("part=A", "part=B"):
        names = [os.path.basename(f) for f in _files(path, part)]
        assert len(names) == 1 and names[0].startswith("part-"), names
    assert _files(path, "part=C") == before_c
    assert spark.read.parquet(path).count() == 91


def test_partitioned_upsert_batch_derived_from_the_table(spark, tmp_path):
    """The batch reads the very files the merge overwrites: the write
    swaps partitions in only at commit, after every read is done."""
    path = _parts(
        spark,
        [(i, "AB"[i % 2], float(i)) for i in range(100)],
        str(tmp_path / "snap"),
    )
    incoming = (
        spark.read.parquet(path)
        .filter(F.col("k") % 10 == 0)
        .withColumn("v", F.col("v") + 1000.0)
    )
    upsert_parquet_partitioned(
        spark, incoming, path, keys=["k"], partition_col="part"
    )
    after = spark.read.parquet(path)
    assert after.count() == 100
    assert after.agg(F.sum("v")).head()[0] == sum(range(100)) + 10 * 1000.0
    assert {
        r["k"]: r["v"] for r in after.filter(F.col("k") % 10 == 0).collect()
    } == {k: k + 1000.0 for k in range(0, 100, 10)}


def test_partitioned_upsert_unreadable_snapshot_raises_and_keeps_rows(
    spark, tmp_path
):
    """A snapshot that exists but cannot be read is not a new table:
    the merge must fail before its write commits, not overwrite the
    touched partition with the batch alone."""
    import pytest

    path = str(tmp_path / "snap")
    write_parquet(
        spark.createDataFrame(
            [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
            "k long, part string, v double",
        ),
        path,
        partition_by=["part"],
    )
    garbage = os.path.join(path, "part=A", "part-99999-garbage.parquet")
    with open(garbage, "wb") as f:
        f.write(os.urandom(200_000))
    incoming = spark.createDataFrame(
        [(1, "A", -1.0)], "k long, part string, v double"
    )
    with pytest.raises(Exception):
        upsert_parquet_partitioned(
            spark, incoming, path, keys=["k"], partition_col="part"
        )
    os.remove(garbage)
    assert _snapshot(spark, path) == [
        (i, "A" if i < 50 else "B", float(i)) for i in range(100)
    ]


def test_partitioned_upsert_null_partition(spark, tmp_path):
    """Rows whose partition value is null live in one (default-named)
    partition; a merge must match it like any other partition value."""
    import pytest

    path = _parts(
        spark, [(1, "A", 1.0), (2, None, 2.0), (3, None, 3.0)],
        str(tmp_path / "snap"),
    )
    update = spark.createDataFrame(
        [(2, None, 20.0)], "k long, part string, v double"
    )
    upsert_parquet_partitioned(
        spark, update, path, keys=["k"], partition_col="part"
    )
    assert _snapshot(spark, path) == [
        (1, "A", 1.0), (2, None, 20.0), (3, None, 3.0)
    ]
    for k, part in ((3, "A"), (1, None)):  # out of / into the null partition
        mover = spark.createDataFrame(
            [(k, part, -1.0)], "k long, part string, v double"
        )
        with pytest.raises(ValueError, match="across partitions"):
            upsert_parquet_partitioned(
                spark, mover, path, keys=["k"], partition_col="part"
            )
    assert _snapshot(spark, path) == [
        (1, "A", 1.0), (2, None, 20.0), (3, None, 3.0)
    ]


def test_bloom_mode_detects_moves_across_the_null_partition(spark, tmp_path):
    """The sidecar probe treats the null partition as a partition: a
    key moving out of it, or into it, is a confirmed mover."""
    from formula1_etl_analytics_project_spark.operators import bloom_index as bi

    path = _parts(
        spark,
        [(i, [None, "A", "B"][i % 3], float(i)) for i in range(30)],
        str(tmp_path / "snap"),
    )
    bi.build_key_bloom_index(
        spark, path, ["k"], "part", expected_keys_per_partition=10
    )
    # k=0 lives in the null partition, k=1 in A; one batch each
    found = []
    for k, part in ((0, "B"), (1, None)):
        mover = spark.createDataFrame(
            [(k, part, -1.0)], "k long, part string, v double"
        )
        found += bi.probe_moved_keys(spark, path, mover, ["k"], "part").collect()
    assert [(r["k"], r["suspect_partition"]) for r in found] == [
        (0, None), (1, "A")
    ]


def test_merges_leave_the_session_overwrite_mode_alone(
    spark, tmp_path, monkeypatch
):
    """The merge overwrites partitions dynamically through a per-write
    option. Setting and restoring the session conf instead would race
    with other threads planning a static overwrite."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, k, v):
        sets.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    try:
        path = _parts(
            spark,
            [(i, "ABC"[i % 3], float(i)) for i in range(30)],
            str(tmp_path / "snap"),
        )
        batch = spark.createDataFrame(
            [(0, "A", -1.0)], "k long, part string, v double"
        )
        upsert_parquet_partitioned(
            spark, batch, path, keys=["k"], partition_col="part"
        )
        assert key not in sets
        assert spark.conf.get(key) == "static"
        # the overwrites stayed dynamic: B and C survived
        assert spark.read.parquet(path).count() == 30
    finally:
        spark.conf.set(key, prev)
