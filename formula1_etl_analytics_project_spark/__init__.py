"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL project (``andreailic/Formula1-etl-analytics-project``,
surveyed in SURVEY.md).

Architecture: everything is expressed through the Spark DataFrame / SQL
API so Catalyst + AQE own the physical plan (predicate pushdown, column
pruning, broadcast-vs-shuffle join selection, skew handling). Python
UDFs appear only where built-in expressions genuinely cannot express
the semantics, and then always as Arrow-vectorized pandas UDFs.

Layout:
  session    - SparkSession factory (AQE on, UTC, tuned shuffle)
  schemas    - explicit StructType declarations (wide F1 table, star
               tables, driver testdata tables)
  sources/   - readers (CSV with null sentinel, parquet incl. the
               nanosecond-timestamp events table) and sinks (parquet,
               anti-join upsert)
  functions/ - scalar expression library (null-safe date/time parsing,
               race-gap times, text analysis, vector math)
  operators/ - relational + pipeline operators (keep-first dedup,
               minhash/simhash/jaccard dedup, similarity search,
               size-gated broadcast, salted and as-of joins, the FK
               anti-join, multimodal plumbing)
  plans/     - the query catalog: star-schema ETL builders, analytics
               queries, and the driver-facing (spark_fn, oracle_sql)
               registry
  streaming/ - Structured Streaming: windowed event aggregation and a
               foreachBatch incremental-upsert demo
"""

from formula1_etl_analytics_project_spark.session import get_spark

__all__ = ["get_spark"]
