"""bigdata_logs_spark — a PySpark-native log-analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference pipeline
(``daviddmunozzz/BigData-Logs``: pandas + MongoDB + Streamlit SSH-log
anomaly detection), designed for 100 TB scale:

- declarative DataFrame/SQL plans (Catalyst optimizes; no custom rules)
- one explicit schema end-to-end (the reference re-infers types 3×)
- fused single-shuffle aggregations (the reference does 14 sequential
  groupby passes to build its per-IP profile)
- Structured Streaming ingestion (the reference polls a full MongoDB
  collection scan per dashboard interaction)
- LLM-data-pipeline extensions: dedup, similarity search, text
  analysis, multimodal column plumbing.

Layout:
    session.py    SparkSession bootstrap (AQE, Arrow, UTC)
    registry.py   every named query, each paired with its DuckDB oracle
    caching.py    tracked caches that sweeps release between queries
    __main__.py   CLI (parse, stream, detect, curate, query, explain, ...)
    sources/      batch readers/writers, table loading, Python data source
    operators/    DataFrame -> DataFrame operator library
    functions/    reusable column-expression helpers
    streaming/    Structured Streaming pipelines
"""

from bigdata_logs_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
