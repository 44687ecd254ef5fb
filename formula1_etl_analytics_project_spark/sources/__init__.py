from formula1_etl_analytics_project_spark.sources.readers import (
    load_all,
    read_table,
    read_wide_csv,
    register_views,
)
from formula1_etl_analytics_project_spark.sources.sinks import write_parquet

__all__ = [
    "read_table",
    "read_wide_csv",
    "register_views",
    "load_all",
    "write_parquet",
]
