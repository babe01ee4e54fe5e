"""PySpark-native rebuild of the reference NS rail-disruption ETL: a daily
pipeline (ingest -> clean -> idempotent load into a parquet lake -> report)
plus the six reference analytics queries, as DataFrame/SQL logical plans
optimized by Catalyst.

Layout:
    session.py    SparkSession factory (UTC, AQE, tuned shuffle partitions)
    schemas.py    explicit StructTypes for the raw/clean data model
    pipeline.py   SparkETLPipeline: extract -> transform -> load -> report
    sources/      NS payload DataSource and readers, REST client, lake writers
    functions/    column-expression libraries (cleaning, SQLite compat shims)
    operators/    composite operators (idempotent upserts, daily rollup)
    plans/        the analytics queries (one SQL text each) and the
                  query registry with its DuckDB oracles
"""

__version__ = "0.1.0"
