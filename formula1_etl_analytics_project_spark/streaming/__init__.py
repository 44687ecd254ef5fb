from formula1_etl_analytics_project_spark.streaming.pipeline import (
    incremental_upsert_stream,
    read_event_stream,
)

__all__ = ["read_event_stream", "incremental_upsert_stream"]
