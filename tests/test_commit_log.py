"""Tests for the commit-log snapshot store (sources/sinks.py
commit_log_upsert): optimistic concurrency on plain parquet.

The two-writer test is GENUINELY concurrent (threads merging
interleaved batches against the same store) and asserts no lost
updates - the anomaly a last-write-wins pointer store cannot prevent
and the reason transactional table formats exist.
"""

from __future__ import annotations

import threading

from formula1_etl_analytics_project_spark.sources.sinks import (
    commit_log_upsert,
    read_committed,
    read_committed_snapshot,
)


def _snap_dirs(path):
    import os

    return sorted(n for n in os.listdir(path) if n.startswith("_snap_"))


def test_commit_log_basic_merge(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("clog") / "store")
    n1 = commit_log_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path,
        ["k"],
    )
    assert n1 == 1
    n2 = commit_log_upsert(
        spark,
        spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"),
        path,
        ["k"],
    )
    assert n2 == 2
    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}
    assert read_committed(path)[0] == 2


def test_commit_log_crash_windows_never_lose_the_snapshot(
    spark, tmp_path_factory
):
    """Walk a commit step by step, crashing after each step, and prove
    a reader ALWAYS gets a complete snapshot: a staged snapshot is
    invisible until its claim is linked, the claim publishes it whole,
    the previous snapshot stays readable, and the next commit prunes
    only older dirs."""
    import os

    from formula1_etl_analytics_project_spark.sources.sinks import (
        upsert,
        write_parquet,
    )

    def rows(version=None):
        df = read_committed_snapshot(spark, path, version=version)
        return {r["k"]: r["v"] for r in df.collect()}

    path = str(tmp_path_factory.mktemp("clog_crash") / "store")
    commit_log_upsert(
        spark, spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
        path, ["k"],
    )
    old = rows()

    # CRASH after staging (merged snapshot fully written, no claim):
    # the reader still sees commit 1, intact
    staged = "_snap_00000002_deadbeef"
    merged = upsert(
        read_committed_snapshot(spark, path),
        spark.createDataFrame([(2, 9.0)], "k long, v double"),
        ["k"],
    )
    write_parquet(merged, f"{path}/{staged}")
    assert read_committed(path)[0] == 1
    assert rows() == old

    # the claim is one atomic link of a fully written temp file:
    # afterwards the reader sees the new rows, and commit 1's dir is
    # still on disk for readers that resolved it before the link
    tmp_claim = f"{path}/_log/.claim_tmp_cafebabe"
    with open(tmp_claim, "w") as f:
        f.write(staged + "\n")
    os.link(tmp_claim, f"{path}/_log/00000002.commit")
    os.unlink(tmp_claim)
    assert rows() == {1: 1.0, 2: 9.0}
    assert rows(version=1) == old

    # the next commit keeps its base (commit 2) and prunes commit 1
    n = commit_log_upsert(
        spark, spark.createDataFrame([(5, 5.0)], "k long, v double"),
        path, ["k"],
    )
    assert n == 3
    assert rows() == {1: 1.0, 2: 9.0, 5: 5.0}
    assert _snap_dirs(path) == sorted([staged, read_committed(path)[1]])


def test_concurrent_writers_lose_no_updates(spark, tmp_path_factory):
    """Two writers race 5 commits each over disjoint key ranges; every
    one of the 10 batches must survive in the final snapshot. A
    pointer store would interleave read-merge-swap and silently drop
    whole batches."""
    path = str(tmp_path_factory.mktemp("clog_mw") / "store")
    errors: list[Exception] = []

    def writer(offset: int) -> None:
        try:
            for i in range(5):
                batch = spark.createDataFrame(
                    [(offset + i, f"w{offset}_{i}")], "k long, v string"
                )
                commit_log_upsert(spark, batch, path, ["k"], max_retries=30)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors

    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    expected = {100 + i: f"w100_{i}" for i in range(5)}
    expected.update({200 + i: f"w200_{i}" for i in range(5)})
    assert snap == expected
    # exactly 10 commits happened - one per applied batch
    assert read_committed(path)[0] == 10


def test_loser_orphans_are_invisible_and_pruned(spark, tmp_path_factory):
    """Underscore-prefixed loser/orphan snapshot dirs must never be
    visible through the committed read path."""
    import os

    path = str(tmp_path_factory.mktemp("clog_orph") / "store")
    commit_log_upsert(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path, ["k"]
    )
    # simulate a crashed loser: stranded data dir with no commit file
    os.makedirs(f"{path}/_snap_00000099_deadbeef", exist_ok=True)
    snap = read_committed_snapshot(spark, path)
    assert snap.count() == 1
    assert read_committed(path)[0] == 1


def test_time_travel_reads_prior_versions(spark, tmp_path_factory):
    """VERSION AS OF over the commit log: retained versions are
    readable by commit number; pruned ones fail loudly, never
    silently wrong."""
    import pytest as _pytest

    path = str(tmp_path_factory.mktemp("clog_tt") / "store")
    commit_log_upsert(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path, ["k"]
    )
    commit_log_upsert(
        spark, spark.createDataFrame([(1, "a2")], "k long, v string"), path, ["k"]
    )
    v1 = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path, version=1).collect()}
    v2 = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path, version=2).collect()}
    assert v1 == {1: "a"} and v2 == {1: "a2"}
    with _pytest.raises(FileNotFoundError):
        read_committed_snapshot(spark, path, version=99)


def test_upsert_schema_evolution(spark):
    """mergeSchema twin on the merge path: a new incoming column
    surfaces with NULLs for pre-existing rows; a dropped column
    survives with NULLs for incoming rows; strict mode still fails."""
    import pytest as _pytest

    from formula1_etl_analytics_project_spark.sources.sinks import upsert

    existing = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    incoming = spark.createDataFrame(
        [(2, "b2", 0.9)], "k long, v string, score double"
    )
    merged = upsert(existing, incoming, ["k"], evolve_schema=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b2", 0.9)}
    with _pytest.raises(Exception):
        upsert(existing, incoming, ["k"]).collect()  # strict: loud failure


def test_commit_log_equals_fold_of_upserts(spark, tmp_path_factory):
    """Sequential commit-log semantics == a pure dict fold of the same
    batches, on randomized batch sequences (seeded, deterministic)."""
    import random

    rng = random.Random(31)
    path = str(tmp_path_factory.mktemp("clog_fold") / "store")
    model: dict[int, int] = {}
    for _ in range(6):
        # dict construction keeps each batch KEY-UNIQUE - the upsert
        # contract for order_col=None batches; cross-batch collisions
        # (8-key space) still exercise the merge path every round
        batch = {rng.randrange(8): rng.randrange(1000) for _ in range(3)}
        model.update(batch)
        commit_log_upsert(
            spark,
            spark.createDataFrame(list(batch.items()), "k long, v long"),
            path,
            ["k"],
        )
    got = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert got == model


def test_stranded_temp_claims_are_inert(spark, tmp_path_factory):
    """A writer crashing between its temp-claim write and the link()
    (or between link and unlink) strands a dot-prefixed temp file in
    _log/. It must be invisible to commit resolution and must not
    block subsequent commits."""
    import os

    path = str(tmp_path_factory.mktemp("clog_tmp") / "store")
    commit_log_upsert(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path, ["k"]
    )
    # simulate both crash windows
    with open(f"{path}/_log/.claim_tmp_deadbeef", "w") as f:
        f.write("_snap_00000099_feedface\n")
    assert read_committed(path)[0] == 1  # temp claim not a commit
    commit_log_upsert(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), path, ["k"]
    )
    assert read_committed(path)[0] == 2
    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert snap == {1: "a", 2: "b"}
    assert os.path.exists(f"{path}/_log/.claim_tmp_deadbeef")  # left alone


def test_vacuum_keeps_recent_versions_and_fails_loud_on_old(spark, tmp_path_factory):
    from formula1_etl_analytics_project_spark.sources.sinks import (
        vacuum_commit_log,
    )
    import pytest as _pytest

    path = str(tmp_path_factory.mktemp("clog_vac") / "store")
    for i in range(4):
        commit_log_upsert(
            spark,
            spark.createDataFrame([(1, f"v{i}")], "k long, v string"),
            path,
            ["k"],
        )
    # the upsert's own prune already keeps only current+previous, so
    # vacuum to keep_last=1 removes exactly the previous snapshot
    removed = vacuum_commit_log(path, keep_last=1)
    assert removed == 1
    assert read_committed_snapshot(spark, path, version=4).collect()[0]["v"] == "v3"
    # older versions: loud pruned-snapshot error, never silent wrong data
    with _pytest.raises(FileNotFoundError, match="pruned"):
        read_committed_snapshot(spark, path, version=3)
    with _pytest.raises(FileNotFoundError, match="pruned"):
        read_committed_snapshot(spark, path, version=1)
    # the store still accepts new commits after vacuum
    commit_log_upsert(
        spark, spark.createDataFrame([(2, "x")], "k long, v string"), path, ["k"]
    )
    assert read_committed(path)[0] == 5


def test_vacuum_spares_inflight_writer_snapshots(spark, tmp_path_factory):
    """vacuum_commit_log must not delete a concurrent writer's staged
    snapshot (written BEFORE its claim link): the dir is unreferenced
    by any commit yet numbered beyond the head. Deleting it would let
    the writer's link succeed with the head pointing at a vacuumed dir
    — every later read/upsert then fails (ADVICE r03). Only dirs at or
    below the head number are vacuum's to reclaim."""
    import os

    from formula1_etl_analytics_project_spark.sources.sinks import (
        vacuum_commit_log,
    )

    path = str(tmp_path_factory.mktemp("clog_vac_inflight") / "store")
    for i in range(3):
        commit_log_upsert(
            spark,
            spark.createDataFrame([(1, f"v{i}")], "k long, v string"),
            path,
            ["k"],
        )
    head = read_committed(path)[0]
    # a concurrent writer's staged-but-unclaimed next snapshot...
    inflight = f"_snap_{head + 1:08d}_cafebabe"
    os.makedirs(f"{path}/{inflight}")
    with open(f"{path}/{inflight}/part-0.parquet", "w") as f:
        f.write("staged")
    # ...and a crash orphan from an old losing writer
    orphan = "_snap_00000001_0badf00d"
    os.makedirs(f"{path}/{orphan}", exist_ok=True)
    removed = vacuum_commit_log(path, keep_last=2)
    assert os.path.exists(f"{path}/{inflight}/part-0.parquet"), (
        "vacuum deleted an in-flight writer's staged snapshot"
    )
    assert not os.path.exists(f"{path}/{orphan}")
    assert removed >= 1
    # the in-flight writer can still claim and the store stays readable
    commit_log_upsert(
        spark, spark.createDataFrame([(2, "x")], "k long, v string"), path, ["k"]
    )
    snap = {r["k"]: r["v"] for r in read_committed_snapshot(spark, path).collect()}
    assert snap == {1: "v2", 2: "x"}
