"""End-to-end ETL entry point: fixture CSV -> 15 parquet star tables."""

from __future__ import annotations

from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.etl import BUILDERS, run_etl
from formula1_etl_analytics_project_spark.sources.readers import read_wide_csv
from formula1_etl_analytics_project_spark.sources.fixture import write_csv


@pytest.fixture(scope="module")
def etl_out(spark, tmp_path_factory):
    csv_path = write_csv(str(tmp_path_factory.mktemp("wide") / "wide.csv"))
    out = str(tmp_path_factory.mktemp("star_out"))
    counts = run_etl(spark, csv_path, out)
    return out, counts, csv_path


def test_all_tables_written_nonempty(spark, etl_out):
    out, counts, _ = etl_out
    assert list(counts) == list(BUILDERS)
    assert all(n > 0 for n in counts.values()), counts


def test_counts_and_content_match_serial_builders(spark, etl_out):
    """Each observed count is the row count of the table on disk, and a
    star table must not depend on run concurrency: every table the
    concurrent load wrote equals its builder run alone over a fresh,
    uncached scan."""
    out, counts, csv_path = etl_out
    wide = read_wide_csv(spark, csv_path)
    for name in BUILDERS:
        written = spark.read.parquet(f"{out}/{name}")
        serial = BUILDERS[name](wide)
        assert written.columns == serial.columns, name
        rows = written.collect()
        assert counts[name] == len(rows), name
        assert Counter(rows) == Counter(serial.collect()), name


@pytest.mark.parametrize("where", ["builder", "job"])
def test_failed_write_is_reraised_and_releases_the_cache(
    spark, etl_out, tmp_path_factory, monkeypatch, where
):
    """One table failing, either while its plan is built on the driver
    or inside its Spark job, fails the whole load loudly: the error is
    re-raised (no partial counts), nothing hangs, and the cached scan is
    released."""
    _, _, csv_path = etl_out
    laps = BUILDERS["laps"]

    def broken(wide):
        if where == "builder":
            raise RuntimeError("boom: laps builder")
        return laps(wide).withColumn("boom", F.raise_error(F.lit("boom: laps job")))

    monkeypatch.setitem(BUILDERS, "laps", broken)
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    pool = ThreadPoolExecutor(1)
    try:
        load = pool.submit(run_etl, spark, csv_path, str(tmp_path_factory.mktemp("broken")))
        with pytest.raises(Exception, match=f"boom: laps {where}"):
            load.result(timeout=300)
    finally:
        pool.shutdown(wait=False)
    assert jsc.getPersistentRDDs().size() == persisted


def test_sql_surface_over_loaded_star(spark, etl_out):
    """EP3 over the loaded tables: views registered by run_etl."""
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM results JOIN race ON results.raceId = race.race_id"
    ).collect()[0]["n"]
    _, counts, _ = etl_out
    assert n == counts["results"]


def test_registered_views_use_the_written_schema_and_start_no_job(
    spark, etl_out, tmp_path_factory, monkeypatch
):
    """With ``register``, each view reads its table with the schema its
    write used: the view has the schema a schema-inferring read finds,
    and registering the 15 views starts no Spark job."""
    from formula1_etl_analytics_project_spark import etl

    _, _, csv_path = etl_out
    sc = spark.sparkContext
    write = etl.write_parquet

    def write_in_own_group(*args, **kwargs):
        # Runs in a pool thread, whose job group is its own copy: the
        # write jobs leave the test's group, the registration stays in it.
        sc.setJobGroup("run_etl-writes", "writes")
        write(*args, **kwargs)

    monkeypatch.setattr(etl, "write_parquet", write_in_own_group)
    out = str(tmp_path_factory.mktemp("registered"))
    sc.setJobGroup("run_etl-register", "registration")
    try:
        run_etl(spark, csv_path, out)
    finally:
        sc.setJobGroup("", "")
    # The status store is fed through the listener bus: drain it first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("run_etl-writes")
    assert list(tracker.getJobIdsForGroup("run_etl-register")) == []
    for name in BUILDERS:
        inferred = spark.read.parquet(f"{out}/{name}").schema
        assert spark.table(name).schema == inferred, name


def test_rerun_is_idempotent(spark, etl_out, tmp_path_factory):
    """Overwrite-mode reload (the reference's S6 DELETE-reset) yields
    identical counts on rerun."""
    out, counts, _ = etl_out
    csv_path = write_csv(str(tmp_path_factory.mktemp("wide2") / "wide.csv"))
    counts2 = run_etl(spark, csv_path, out)
    assert counts2 == counts


def test_plans_import_is_filesystem_side_effect_free():
    """ADVICE r02: importing the plans package must not write fixture
    CSVs (an unwritable tmpdir would break import for callers that
    never touch the ETL entries). Staging happens at entry/oracle_sql
    time instead."""
    import subprocess
    import sys

    code = (
        "import glob, os, tempfile\n"
        "import formula1_etl_analytics_project_spark.plans as p\n"
        "pat = os.path.join(tempfile.gettempdir(),\n"
        "                   f'spark_graft_etlfix_*_{os.getpid()}')\n"
        "assert not glob.glob(pat), glob.glob(pat)\n"
        "from formula1_etl_analytics_project_spark.plans.catalog import oracle_sql\n"
        "oracle_sql()\n"
        "assert glob.glob(pat), 'oracle_sql() must stage the fixture'\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd="/root/repo",
        timeout=120,
    )


def test_star_loads_into_jdbc_database(spark, etl_out, tmp_path_factory):
    """The reference's EP1 DESTINATION, executed for real: load star
    tables into a relational DB over JDBC (embedded Derby stands in
    for MSSQL - same batched-prepared-statement path, in-JVM) in the
    reference's FK-safe order, then verify referential integrity with
    SQL *inside the database*, the role the reference delegated to
    MSSQL FK constraints (DDL Final.sql)."""
    from formula1_etl_analytics_project_spark.sources.sinks import write_jdbc

    out, counts, _ = etl_out
    url = f"jdbc:derby:{tmp_path_factory.mktemp('derby_star')}/stardb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    for t in ("race", "driver", "results"):  # dims -> fact, FK order
        write_jdbc(
            spark.read.parquet(f"{out}/{t}"), url, t,
            mode="overwrite", batch_size=256, properties=props,
        )
    race = spark.read.jdbc(url=url, table="race", properties=props)
    results = spark.read.jdbc(url=url, table="results", properties=props)
    assert race.count() == counts["race"]
    assert results.count() == counts["results"]
    # integrity anti-join evaluated over the DB-loaded tables: every
    # fact row resolves its race FK (what MSSQL's constraint enforced)
    orphans = results.join(
        race, results.raceId == race.race_id, "left_anti"
    ).count()
    assert orphans == 0
