"""SparkSession factory.

The reference runs pandas inside Airflow Celery workers with no engine
configuration at all (SURVEY.md section 3, EP1). Here the session IS the
engine: AQE handles runtime re-planning (partition coalescing, skew-join
splitting, broadcast demotion), the shuffle-partition count is sized to
the machine instead of Spark's default 200, and the timezone is pinned
to UTC so results are comparable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g: a fixed 48g heap
    lets the local-mode JVM outgrow a small host's RAM."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{min(48 << 10, ram_mb // 2)}m"


def get_spark(
    app_name: str = "formula1-etl-analytics-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Safe to call when a session already exists (tests, the driver's
    harness): ``getOrCreate`` reuses it, and every conf we require that
    can be set post-hoc is applied through ``spark.conf`` afterwards.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver testdata's events table stores TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read it as raw nanos-as-long and
        # convert explicitly (sources.readers.read_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Re-assert runtime-settable confs in case an existing session was
    # reused with different settings.
    for key, value in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - immutable conf on old versions
            pass
    return spark
