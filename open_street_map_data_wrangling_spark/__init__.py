"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference OSM data-wrangling project
(christensenmichael0/Open_Street_Map_Data_Wrangling), re-expressed
Spark-first.

The reference (SURVEY.md: Udacity OSM-wrangling project family; the
/root/reference checkout was empty at survey time — see SURVEY.md §0)
is a single-machine Python ETL + analytics pipeline:
parse OSM XML -> audit/clean strings -> reshape to relational/document
schema -> run an analytics query suite. This engine expresses the same
capability surface (plus driver-mandated large-scale extensions:
dedup, similarity search, multimodal columns, text analysis) as lazy
Catalyst logical plans over Parquet-backed DataFrames, designed for a
1000-executor / 100 TB deployment while remaining testable on
local[32].

Layout
------
session.py        SparkSession factory (AQE, Arrow, UTC, ns-parquet).
worker_daemon.py  Python worker daemon set by the session factory.
sources/          Table catalog over the driver fixture universe.
functions/        Reusable Column-expression helpers (pure built-ins).
operators/        Query/operator inventory (SURVEY.md §2) — each
                  registers a `QuerySpec` with a DuckDB oracle twin.
plans/            The query registry + spec dataclass.
streaming/        Structured Streaming jobs (batch-equivalent logic).
"""

__version__ = "0.1.0"
