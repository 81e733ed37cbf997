"""PySpark-native analytics engine with the query/data-processing capabilities of
the reference (SAAF + Transform-Load-Query serverless pipeline), re-expressed as
idiomatic Spark DataFrame / SQL / Structured Streaming plans.

Public surface (SURVEY.md §3.3):
    engine.session.get_spark()        — tuned SparkSession factory
    engine.sources.star.table()       — driver star-schema loader
    engine.operators.*                — the operator inventory (SURVEY.md §2)
    engine.streaming.*                — available-now / event-time layer
"""

from .session import get_spark  # noqa: F401

__version__ = "0.1.0"
