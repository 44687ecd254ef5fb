"""End-to-end ETL entry point: the reference's ``CompleteETL`` DAG as
one command.

Reference shape (SURVEY.md section 3 EP1): 4 CSV re-reads -> 11 Airflow
TaskGroups -> per-row transforms -> one INSERT per row into MSSQL,
JSON/XCom at every edge. Here: one cached scan -> 15 lazy builders ->
15 parquet writes, one action per table. Each table's row count is
observed on its write (``DataFrame.observe``), so nothing is read back,
and the 15 writes run concurrently off the shared cached scan.

    python -m formula1_etl_analytics_project_spark.etl --input wide.csv --out /data/star

Scale notes: each table's write is an independent Spark job off the
shared cached scan; on a cluster the scan caches once across executors
and the writes parallelize. At 100 TB the fact writes would pass
``partition_by=['year']`` (see sources.sinks.write_parquet and the
partition-pruning plan test).
"""

from __future__ import annotations

import argparse
import sys
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from formula1_etl_analytics_project_spark.plans.star import BUILDERS
from formula1_etl_analytics_project_spark.session import get_spark
from formula1_etl_analytics_project_spark.sources.readers import read_wide_csv
from formula1_etl_analytics_project_spark.sources.sinks import write_parquet


def run_etl(
    spark: SparkSession,
    input_csv: str,
    out_dir: str,
    register: bool = True,
) -> dict[str, int]:
    """Wide CSV -> 15 star-schema parquet tables. Returns row counts
    per table in ``BUILDERS`` order.

    One action per table: each builder's DataFrame carries an
    ``Observation`` that counts the rows its parquet write emits. The
    15 writes run concurrently from a thread pool off one cached scan;
    each worker inherits the caller's job group and local properties
    and describes its jobs as ``run_etl: write <table>``. The cache is
    released on every exit. If a table fails, its error is re-raised and
    no counts are returned. With ``register`` the written tables are
    exposed as temp views once every write has finished, so ``spark.sql``
    works immediately (EP3 surface); each view reads its table with the
    schema its write used, so registering starts no Spark job."""
    sc = spark.sparkContext
    wide = read_wide_csv(spark, input_csv).cache()

    def load(name: str) -> tuple[int, StructType]:
        sc.setJobDescription(f"run_etl: write {name}")
        obs = Observation(name)
        table = BUILDERS[name](wide)
        write_parquet(
            table.observe(obs, F.count(F.lit(1)).alias("rows")),
            f"{out_dir}/{name}",
        )
        return obs.get["rows"], table.schema

    try:
        with ThreadPoolExecutor(min(len(BUILDERS), sc.defaultParallelism)) as pool:
            # Wrapped per task: each task gets its own copy of the caller's
            # local properties, which its setJobDescription then edits.
            futures = [
                pool.submit(inheritable_thread_target(spark)(load), name)
                for name in BUILDERS
            ]
            wait(futures, return_when=FIRST_EXCEPTION)
            # On a failure, drop the writes not yet started. They queue after
            # every started one, so result() below meets the failure before
            # any CancelledError.
            for f in futures:
                f.cancel()
            written = {name: f.result() for name, f in zip(BUILDERS, futures)}
    finally:
        wide.unpersist()
    if register:
        for name, (_, schema) in written.items():
            view = spark.read.schema(schema).parquet(f"{out_dir}/{name}")
            view.createOrReplaceTempView(name)
    return {name: rows for name, (rows, _) in written.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="wide F1 CSV -> star-schema parquet")
    p.add_argument("--input", required=True, help="wide denormalized CSV path")
    p.add_argument("--out", required=True, help="output directory for star tables")
    p.add_argument(
        "--sql",
        default=None,
        help="optional SQL to run over the loaded star views (printed)",
    )
    args = p.parse_args(argv)
    spark = get_spark(app_name="formula1-etl")
    counts = run_etl(spark, args.input, args.out)
    for name in BUILDERS:
        print(f"{name}: {counts[name]} rows")
    if args.sql:
        spark.sql(args.sql).show(50, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
