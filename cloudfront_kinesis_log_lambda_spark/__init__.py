"""cloudfront_kinesis_log_lambda_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference ETL pipeline
(``bmgoau/cloudfront-kinesis-log-lambda``: gzipped CloudFront access logs
from S3 → per-row transform → JSON wire records → Kinesis), extended with
the full relational surface (joins, aggregations, windows, set ops),
Structured Streaming semantics, and large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Design principles (see SURVEY.md §4, §7):

- DataFrame/SQL first: every operator is declared logically and Catalyst
  plans the physical execution (pushdown, pruning, broadcast, AQE).
- UDFs only where built-ins can't express the semantics, and then always
  Arrow-batched pandas UDFs, never row-at-a-time.
- All layouts/partitionings chosen for 100 TB scale: broadcast small dims,
  partition log stores by env/date, salt or AQE-skew-join hot keys.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy (PEP 562): the worker daemon runs as a submodule, and importing
    # the package must not import pyspark before it drops Spark's zips
    if name == "get_spark":
        from cloudfront_kinesis_log_lambda_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
