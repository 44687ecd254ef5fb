"""Sinks: batch parquet writes and the merge-on-key upsert.

Reference behavior being replaced (SURVEY.md section 2.1/2.4):
  * S4/S5 - one string-built ``INSERT`` per row executed through a
    fresh ``MsSqlOperator`` (``driver_etl.py:87-96``) - the reference's
    dominant perf bug. Here: a single distributed columnar write.
  * S6 - idempotent reset via ``DELETE FROM`` x14 (``DDL
    Final.sql:338-352``) -> ``mode='overwrite'``.
  * J3 - the orphaned ``MERGE INTO`` upsert experiment
    (``__pycache__/resultssss.cpython-38.pyc``) -> left-anti join of
    existing rows against incoming keys, then union-append. With plain
    parquet (no Delta in this image) the merge materializes a new
    snapshot; on Delta/Iceberg the same logical plan becomes MERGE.

Two merge targets: a year-partitioned fact merges in place by dynamic
partition overwrite (``upsert_parquet_partitioned``), which refuses a
batch that moves a key across partitions by one exact key-projection
scan - the only moved-key check it has; every whole-table snapshot
goes through the commit log (``commit_log_upsert`` /
``read_committed_snapshot``: immutable snapshot dirs, one atomically
linked commit file each, time travel, no lost updates). A streaming
merge's epoch is written into its commit file, which is what makes
``merge_epoch_batch`` exactly-once. Every keep-one-row-per-key step
(``order_col`` keep-last, the latest CDC change) is
``dedup_keep_first``.

Scale notes: ``partition_by`` should be a low-cardinality natural key
(e.g. year) so writes produce prunable directories; the upsert
shuffles both sides by the key - bucketing the base table on the
merge key turns that into a shuffle-free join.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column, DataFrame, functions as F

from formula1_etl_analytics_project_spark.operators.dedup import dedup_keep_first


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite ``path`` with ``df`` as parquet."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """Merge-on-key: incoming rows win; existing rows survive only when
    their key is absent from incoming. Logical twin of SQL MERGE
    (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) for full-row
    updates.

    SQL MERGE errors when the source matches a target row twice; this
    twin resolves it instead: pass ``order_col`` to keep the LAST
    incoming row per key deterministically (highest ``order_col``,
    ANSI "latest version wins"). Without ``order_col`` the caller must
    provide key-unique batches - duplicate incoming keys would
    otherwise all survive the union and corrupt the snapshot's key
    invariant.

    ``evolve_schema`` (Delta ``mergeSchema`` twin): columns that exist
    on only one side surface on the merged output with NULLs for the
    other side's rows - the append-only corpus-growth pattern where
    new metadata columns appear mid-stream and rewriting history is
    not an option. Off by default: silent schema drift in a strict
    pipeline should fail loudly, not widen the table.
    """
    if evolve_schema:
        for c in incoming.columns:
            if c not in existing.columns:
                existing = existing.withColumn(
                    c, F.lit(None).cast(incoming.schema[c].dataType)
                )
        for c in existing.columns:
            if c not in incoming.columns:
                incoming = incoming.withColumn(
                    c, F.lit(None).cast(existing.schema[c].dataType)
                )
    incoming = _keep_last(incoming, keys, order_col)
    survivors = existing.join(incoming.select(*keys), on=keys, how="left_anti")
    return survivors.unionByName(incoming)


def _keep_last(
    incoming: DataFrame, keys: list[str], order_col: str | None
) -> DataFrame:
    """The highest-``order_col`` row per key, or ``incoming`` as is when
    ``order_col`` is None. Every merge path applies it, including the
    first batch into a new table."""
    if order_col is None:
        return incoming
    return dedup_keep_first(incoming, keys, [F.col(order_col).desc()])


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
) -> DataFrame:
    """Apply a CDC change feed (insert/update/delete) to a snapshot.

    ``changes`` carries the snapshot's columns plus ``op`` in
    {'I','U','D'} and a monotonically increasing ``seq_col`` (commit
    LSN / binlog position). Per key, only the HIGHEST-``seq_col``
    change matters for a snapshot rebuild - intermediate versions are
    skipped entirely (no row-at-a-time replay):

      1. window row_number per key over ``seq_col`` desc -> latest
         change per key (ties broken by ``op`` for determinism;
         a well-formed feed never ties).
      2. snapshot rows whose key appears in the feed are dropped
         (one left-anti join).
      3. latest changes with op != 'D' are unioned in - an 'I'/'U'
         whose key was absent from the snapshot simply inserts, and a
         'D'-then-'I' key at higher seq correctly survives (the
         reducer sees only the final 'I').

    Both steps shuffle on ``keys`` only; at scale the snapshot side
    prunes to touched partitions first (compose with
    ``upsert_parquet_partitioned``). This is the generalization of
    ``upsert`` (which cannot express deletes) and the logical twin of
    ``MERGE ... WHEN MATCHED AND op='D' THEN DELETE`` on Delta/Iceberg
    (unavailable in this image).

    Reference scope note: the reference's loads are truncate-and-
    reload (``DDL Final.sql:338-352``); a daily-batch CDC apply is
    what that pattern becomes when the table no longer fits a full
    daily rewrite.
    """
    latest = dedup_keep_first(
        changes, keys, [F.col(seq_col).desc(), F.col("op").desc()]
    )
    survivors = snapshot.join(latest.select(*keys), on=keys, how="left_anti")
    upserts = latest.filter(F.col("op") != "D").drop("op", seq_col)
    return survivors.unionByName(upserts)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    buckets: int = 8,
    sort_by: str | list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed managed-table overwrite (``bucketBy`` + ``saveAsTable``).

    Two tables co-bucketed on their join key with the same bucket count
    join WITHOUT a shuffle - each bucket pair joins locally (the plan
    shows SortMergeJoin with no Exchange). This is the 100 TB answer to
    repeated fact-fact joins: pay the partitioning once at write time,
    never again per query. Spark bucketing requires a managed table
    (plain ``.parquet(path)`` cannot record bucket metadata).
    """
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode("overwrite").bucketBy(buckets, *cols)
    if sort_by:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*scols)
    if path is not None:
        # external table: bucket METADATA lives in the catalog, data
        # files under the caller's path - keeps the warehouse dir (and
        # therefore the CWD) untouched
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
    create_table_column_types: str | None = None,
) -> None:
    """JDBC sink - the batch replacement for the reference's
    one-INSERT-per-row ``MsSqlOperator`` loop (driver_etl.py:87-96).

    Executors write concurrently with ``batchsize``-row prepared-
    statement batches; ``num_partitions`` caps the number of concurrent
    connections. ``create_table_column_types`` overrides the default
    SQL types on CREATE (e.g. ``"tag VARCHAR(64)"`` - Spark's default
    StringType mapping is CLOB/TEXT on several dialects, which some
    engines cannot compare or index).

    Executed end-to-end in tests/test_jdbc_derby.py against embedded
    Derby (the in-JVM database Spark ships) - batch write, commit,
    read-back; no external DB needed.
    """
    writer_df, props = prepare_jdbc_write(df, batch_size, num_partitions, properties)
    writer = writer_df.write
    if create_table_column_types:
        writer = writer.option(
            "createTableColumnTypes", create_table_column_types
        )
    writer.jdbc(url=url, table=table, mode=mode, properties=props)


def prepare_jdbc_write(
    df: DataFrame,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """Construction step of the JDBC sink, split out so the
    batching/concurrency config is testable without a database.

    Returns the (possibly repartitioned) DataFrame and the final JDBC
    properties. One partition = one connection = one stream of
    ``batch_size``-row executeBatch calls - the distributed replacement
    for the reference's one-INSERT-per-row loop.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    writer_df = df.repartition(num_partitions) if num_partitions else df
    props = {"batchsize": str(batch_size), **(properties or {})}
    return writer_df, props


def upsert_parquet_partitioned(
    spark,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
    order_col: str | None = None,
    evolve_schema: bool = False,
) -> None:
    """Fact-scale MERGE on partitioned parquet: only the partitions
    that contain incoming keys are read, merged, and rewritten -
    untouched partitions are never scanned and never written. This is
    the plain-parquet form of Delta/Iceberg's row-level MERGE
    (reference's orphaned MERGE INTO experiment, SURVEY J3) at the
    grain that matters: a day's late data rewrites that day's
    partition, not the table.

    PARTITION-STABILITY INVARIANT: a key's partition value must never
    change between batches. Dynamic overwrite only rewrites partitions
    present in the incoming batch, so an incoming row whose key already
    exists under a DIFFERENT partition value would leave the old row in
    place - the key silently duplicated across partitions. Violations
    are detected before any write and raise ``ValueError``: the
    snapshot is scanned as a (keys, partition_col) projection -
    column-pruned, no data columns - and inner-joined against the
    incoming keys on key-equal AND partition-different. The check is
    skipped only when ``partition_col`` is itself part of ``keys`` (a
    moved "key" is then a different key by definition). The check is
    an O(table) key-projection scan per merge; SCALING.md ("Moved-key
    check at scale") explains why it is the only check.

    Mechanics: the path is read once, for both the pruned existing
    side and the moved-key scan; the table is new only when the path
    does not exist, so an unreadable snapshot fails the merge. One
    aggregate of the batch names the touched partitions (null-safe;
    cardinality = partitions, e.g. days, NOT rows) and the exact check
    is one collected join. The result is repartitioned by
    ``partition_col`` - one file per touched partition - and written
    with a per-write dynamic partition overwrite (the session conf is
    left alone). No checkpoint: the write stages its files and swaps
    each touched partition directory in only at job commit, after all
    reads of the old files, so even a batch derived from the table is
    safe. An existing-table merge runs about 8 Spark jobs: schema
    inference, the partition aggregate, and the moved-key join and the
    write with their shuffle stages. Job commit swaps one partition
    directory at a time (delete, then rename), so a crash inside it
    can leave a touched partition missing; untouched partitions are
    never at risk. A first batch into a new path gets the same
    ``order_col`` keep-last as a merge.

    ``evolve_schema`` (Delta ``mergeSchema``-on-MERGE twin): the
    incoming batch may carry columns the snapshot lacks (and vice
    versa); :func:`upsert` widens both sides with NULLs. Only the
    TOUCHED partitions are rewritten with the widened schema -
    untouched partition directories keep their old files, so the lake
    is mixed-schema afterwards and readers must scan with
    ``.option("mergeSchema", True)`` (the ``schema_evolution_scan``
    pattern). Off by default: schema drift in a strict pipeline
    should fail loudly.
    """
    keys_can_move = partition_col not in keys
    merged = _keep_last(incoming, keys, order_col)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(Path(path)):
        # Under evolve_schema the lake may already be mixed-schema
        # from a PRIOR evolving merge (only touched partitions carry
        # new columns). A plain read picks its schema from an
        # arbitrary file footer; if an old-schema file wins, the
        # evolved column vanishes from `existing` and this merge
        # would rewrite its partitions with the stored values
        # NULLed out - silent data loss. mergeSchema unifies the
        # footers so previously-evolved columns always survive.
        snapshot = spark.read.option("mergeSchema", evolve_schema).parquet(
            path
        )
        # collect_set drops nulls, so the null partition is flagged apart
        parts, has_null = incoming.agg(
            F.collect_set(partition_col), F.bool_or(F.isnull(partition_col))
        ).head()
        touched = in_partitions(
            partition_col, [*parts, None] if has_null else parts
        )
        existing = snapshot.filter(touched)
        if keys_can_move:
            moved_rows = (
                snapshot.select(*keys, partition_col)
                .withColumnRenamed(partition_col, "__old_part")
                .join(incoming.select(*keys, partition_col), on=keys)
                .filter(~F.col("__old_part").eqNullSafe(F.col(partition_col)))
                .select(*keys, "__old_part", partition_col)
                .collect()
            )
            if moved_rows:
                raise ValueError(
                    "upsert_parquet_partitioned: incoming batch moves key(s) "
                    f"across partitions (e.g. {moved_rows[:5]}); dynamic "
                    "overwrite would duplicate them. Delete/migrate the old "
                    "rows first or include the partition column in the merge "
                    "keys."
                )
        merged = upsert(
            existing,
            incoming,
            keys,
            order_col=order_col,
            evolve_schema=evolve_schema,
        )
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def in_partitions(partition_col: str, values: list) -> Column:
    """Null-safe ``partition_col IN values``: a None in ``values``
    matches the null partition, which a plain ``isin`` never does, and
    the result is never null, so its negation is null-safe too."""
    col = F.col(partition_col)
    cond = col.isin([v for v in values if v is not None])
    return cond | col.isNull() if None in values else cond & col.isNotNull()


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. The 100 TB lake-maintenance op -
    streaming sinks and fine-grained upserts accrete kilobyte files,
    and every downstream scan then pays a task per file; periodic
    compaction restores ~``target_file_bytes`` files (128 MB default,
    the usual HDFS/S3 sweet spot).

    Writes a staging directory, then deletes the original and renames
    the staging dir into place: a crash during the write keeps the
    original directory; only the short delete/rename step can lose
    it. Returns the output file count.
    ``coalesce`` (not ``repartition``) avoids a shuffle - compaction is
    pure IO. Partitioned layouts should compact per partition directory
    (call this per partition path) so untouched partitions stay put.

    Staging safety: the staging dir lives in the SAME parent (so the
    final rename is a same-filesystem metadata op) but under an
    underscore-prefixed basename - ``<parent>/_compact_tmp_<base>_<hex>``
    - which Spark/Hive/Presto readers skip by convention. A plain
    ``<path>__compact_<hex>`` sibling would parse as an extra Hive
    partition of the parent table when ``path`` is a partition
    directory like ``.../part=A``, silently duplicating rows after a
    crash or during the write window. ``<base>`` is sanitized to
    alphanumerics (an ``=`` in the staging name would itself be parsed
    as a partition column by directory discovery, underscore prefix or
    not); keeping the per-target prefix means concurrent compactions of
    SIBLING partitions never clean each other's live staging. Stale
    ``_compact_tmp_<base>_*`` dirs for the same target (from a crashed
    earlier run) are cleaned on entry.
    """
    import math as _math
    import posixpath as _pp
    import re as _re
    import uuid as _uuid

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(hconf)
    parent, base = _pp.split(path.rstrip("/"))
    safe_base = _re.sub(r"[^A-Za-z0-9]+", "-", base)
    stale_prefix = f"_compact_tmp_{safe_base}_"
    for status in fs.listStatus(Path(parent)):
        name = status.getPath().getName()
        if name.startswith(stale_prefix):
            fs.delete(status.getPath(), True)
    summary = fs.getContentSummary(Path(path))
    n_files = max(1, _math.ceil(summary.getLength() / target_file_bytes))
    df = spark.read.parquet(path)
    staging = _pp.join(parent, f"{stale_prefix}{_uuid.uuid4().hex[:12]}")
    df.coalesce(n_files).write.mode("overwrite").parquet(staging)
    fs.delete(Path(path), True)
    fs.rename(Path(staging), Path(path))
    return n_files


# ---------------------------------------------------------------------------
# Commit-log snapshot store: optimistic concurrency on plain parquet
# ---------------------------------------------------------------------------

_LOG_DIR = "_log"


def _log_path(path: str) -> str:
    return posixpath.join(path, _LOG_DIR)


def _commits(path: str) -> list[int]:
    """Commit numbers in the log, ascending; empty for an empty store."""
    import os as _os

    try:
        names = _os.listdir(_log_path(path))
    except FileNotFoundError:
        return []
    return sorted(int(n.split(".")[0]) for n in names if n.endswith(".commit"))


def _read_commit(path: str, n: int) -> tuple[str, int | None]:
    """(snapshot dir name, streaming epoch or None) of commit ``n``.

    A commit file holds one line, ``<snap_dir>`` or ``<snap_dir>
    epoch=<N>``. Any other content raises ``ValueError``: a misread
    epoch would make ``merge_epoch_batch`` re-apply a replayed batch
    or drop a new one without a sign."""
    name = posixpath.join(_log_path(path), f"{n:08d}.commit")
    with open(name) as f:
        line = f.read().strip()
    snap_dir, sep, epoch = line.partition(" epoch=")
    if not snap_dir or " " in snap_dir or (sep and not epoch.isdecimal()):
        raise ValueError(f"malformed commit file {name}: {line!r}")
    return snap_dir, int(epoch) if sep else None


def read_committed(path: str) -> tuple[int, str, int | None] | None:
    """Latest committed (commit number, snapshot dir name, streaming
    epoch or None) from the commit log, or None for an empty store.
    The log is the source of truth: a data dir without a commit file
    does not exist."""
    commits = _commits(path)
    if not commits:
        return None
    return (commits[-1], *_read_commit(path, commits[-1]))


def read_committed_snapshot(
    spark, path: str, version: int | None = None
) -> DataFrame:
    """Read the latest committed snapshot, or - time travel - the
    snapshot as of commit ``version``. Every commit file names its
    immutable snapshot dir, so any still-retained version is readable
    by number (Delta's ``VERSION AS OF`` twin; retention is bounded by
    the prune policy: current + previous are always kept, older
    versions only until the next successful commit)."""
    import os as _os

    if version is None:
        committed = read_committed(path)
        if committed is None:
            raise FileNotFoundError(f"no committed snapshot under {path}")
        return spark.read.parquet(posixpath.join(path, committed[1]))
    try:
        snap_dir, _ = _read_commit(path, version)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"commit {version} does not exist under {path}"
        ) from None
    full = posixpath.join(path, snap_dir)
    if not _os.path.isdir(full):
        raise FileNotFoundError(
            f"commit {version} exists but its snapshot {snap_dir} was "
            f"pruned by the retention policy"
        )
    return spark.read.parquet(full)


def commit_log_upsert(
    spark,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
    max_retries: int = 8,
    epoch_id: int | None = None,
) -> int:
    """Merge-on-key with OPTIMISTIC CONCURRENCY - the package's one
    whole-table snapshot store, and the plain-parquet logical twin of
    a Delta/Iceberg transactional MERGE:

      1. read the latest commit N from ``path/_log/`` and merge
         against its snapshot;
      2. write the merged snapshot under a WRITER-UNIQUE dir (uuid
         suffix - two racing writers never collide on data files);
      3. try to claim commit N+1 by hard-LINKING a fully-written
         temp file to ``_log/<N+1>.commit`` - one atomic directory
         operation that publishes the claim WITH its content (no
         empty-claim window). Exactly one racer wins; the loser
         deletes its orphan snapshot, re-reads, RE-MERGES against the
         winner's result, and retries. A snapshot-write failure is
         also treated as a lost race (the winner's retention pruning
         may remove a lagging writer's base mid-scan) and retries.

    Lost updates are impossible: a commit is only ever created against
    the snapshot it merged (the exclusive create fails if anyone
    committed in between) - proven by the genuinely-concurrent
    two-writer test (tests/test_commit_log.py). Returns the commit
    number claimed.

    ``epoch_id`` (streaming callers) is written into the commit file
    as ``<snap_dir> epoch=N``, so it publishes atomically with the
    snapshot through the same link; ``merge_epoch_batch`` reads it
    back with :func:`read_committed` to skip a replayed micro-batch
    BEFORE re-merging - exactly-once even when the merge itself is
    not idempotent. A commit without ``epoch_id`` carries the head's
    epoch forward, so a plain merge into a streaming store does not
    make the stream forget its committed epoch.

    Durability/portability: link-into-place is atomic on POSIX; the
    HDFS equivalent is rename-without-overwrite, and on S3 it maps to
    conditional PUT (If-None-Match) of the full payload - the same
    primitive Delta's commit protocol uses there. Crash windows:
    before the claim -> an orphan underscore-prefixed data dir (and
    possibly a dot-prefixed temp claim) invisible to readers, pruned
    by later winners; after the claim -> the commit is complete;
    there is no in-between because the claim publishes atomically
    with its content.
    """
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    last_err: Exception | None = None
    for _ in range(max_retries):
        committed = read_committed(path)
        if committed is None:
            _os.makedirs(_log_path(path), exist_ok=True)
            base_n, merged = 0, _keep_last(incoming, keys, order_col)
        else:
            base_n = committed[0]
            existing = spark.read.parquet(posixpath.join(path, committed[1]))
            merged = upsert(existing, incoming, keys, order_col=order_col)
        next_n = base_n + 1
        snap_dir = f"_snap_{next_n:08d}_{_uuid.uuid4().hex[:8]}"
        try:
            write_parquet(merged, posixpath.join(path, snap_dir))
        except Exception as exc:
            # A lagging writer can lose its base snapshot mid-scan when
            # a faster writer commits twice and prunes (retention keeps
            # current + previous only). Treat ANY write failure as a
            # lost race: clean up and re-merge against the new head.
            last_err = exc
            _shutil.rmtree(posixpath.join(path, snap_dir), ignore_errors=True)
            continue
        # Claim commit next_n ATOMICALLY WITH ITS CONTENT: the payload
        # is written to a writer-private temp file first, then
        # os.link() publishes it under the claim name - link fails
        # with FileExistsError if anyone else claimed, and succeeds
        # as one atomic directory operation otherwise. There is no
        # window where the claim exists empty (an O_EXCL-create-then-
        # write sequence would expose exactly that window to readers
        # and to crashes).
        claim = posixpath.join(_log_path(path), f"{next_n:08d}.commit")
        tmp_claim = posixpath.join(
            _log_path(path), f".claim_tmp_{_uuid.uuid4().hex[:12]}"
        )
        epoch = committed[2] if epoch_id is None and committed else epoch_id
        with open(tmp_claim, "w") as f:
            token = "" if epoch is None else f" epoch={epoch}"
            f.write(f"{snap_dir}{token}\n")
            f.flush()
            _os.fsync(f.fileno())
        try:
            _os.link(tmp_claim, claim)
        except FileExistsError:
            # lost the race: drop our snapshot, re-merge against winner
            _os.unlink(tmp_claim)
            _shutil.rmtree(
                posixpath.join(path, snap_dir), ignore_errors=True
            )
            continue
        _os.unlink(tmp_claim)
        # prune snapshots numbered below the previous commit's (the
        # new head and the previous stay for in-flight readers), plus
        # orphans from crashed losers.
        # NB: stale ".claim_tmp_" files from crashed writers are left
        # in place deliberately - unlinking them here would race an
        # in-flight writer between its temp write and its link().
        # They are dot-prefixed (invisible to readers) and tiny.
        for name in _os.listdir(path):
            if name.startswith("_snap_"):
                n_part = name.split("_")[2]
                if n_part.isdigit() and int(n_part) < base_n:
                    _shutil.rmtree(
                        posixpath.join(path, name), ignore_errors=True
                    )
        return next_n
    raise RuntimeError(
        f"commit_log_upsert lost the commit race {max_retries} times "
        f"under {path}; raise max_retries or reduce writer contention"
    ) from last_err


def vacuum_commit_log(path: str, keep_last: int = 2) -> int:
    """Retention management for the commit-log store: keep the
    snapshots of the last ``keep_last`` commits (the current one is
    always kept), delete older snapshot dirs AND loser/crash orphans.
    Commit FILES are never deleted - the log stays a complete history
    (they are bytes-sized); time travel to a vacuumed version fails
    loudly via read_committed_snapshot's pruned-snapshot error rather
    than silently reading nothing. Returns the number of snapshot
    dirs removed.

    The Delta VACUUM analogue, minus retention-by-timestamp: callers
    decide cadence; in-flight readers of a just-vacuumed version are
    protected the same way as the upsert prune (keep_last >= 2 keeps
    current + previous).

    Safe alongside concurrent writers: a writer stages its snapshot dir
    BEFORE linking the claim that commits it, so an in-flight writer's
    just-written ``_snap_<n+1>_...`` is not referenced by any commit
    yet. Deleting it would let the writer's subsequent link succeed
    with the head commit pointing at a vacuumed dir — bricking the
    store. Like commit_log_upsert's own prune (which guards with
    ``int(n_part) < base_n``), vacuum therefore only removes snapshot
    dirs whose embedded commit number is <= the latest COMMITTED
    number; dirs numbered beyond the head are in-flight claims (or
    crash orphans that the next upsert's prune reclaims once the head
    passes them) and survive.
    """
    import os as _os
    import shutil as _shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    commits = _commits(path)
    if not commits:
        return 0
    head_n = commits[-1]
    keep_dirs = {_read_commit(path, n)[0] for n in commits[-keep_last:]}
    removed = 0
    for name in _os.listdir(path):
        if name.startswith("_snap_") and name not in keep_dirs:
            n_part = name.split("_")[2]
            if not n_part.isdigit() or int(n_part) > head_n:
                continue  # in-flight (not-yet-claimed) writer snapshot
            _shutil.rmtree(posixpath.join(path, name), ignore_errors=True)
            removed += 1
    return removed
