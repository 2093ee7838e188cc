"""big_data_share_market_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference pipeline
(a-b-h-i-s-h-e-k/Big_Data_Share_Market: Yahoo Finance → Kafka →
PyFlink SQL → PostgreSQL → Streamlit/pandas analytics), per SURVEY.md.

Layout:
  session      — tuned SparkSession factory
  tables       — fixture table loaders
  operators/   — relational, keyed, window indicator, ewm, pattern,
                 transform, dedup, similarity, text operators
  sources/     — JSON envelope encode/decode, schema flatten, Kafka/JDBC
  streaming/   — Structured Streaming: watermark, OHLC bars, stateful
  registry     — name → (query fn, DuckDB oracle SQL) for the driver
  staging      — staged-relation lifecycle (inspect / unpersist)
"""

from .session import _lazy_zip_invalidation

__version__ = "0.1.0"

_lazy_zip_invalidation()
