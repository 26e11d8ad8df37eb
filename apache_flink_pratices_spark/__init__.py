"""PySpark-native analytics engine with the query/data-processing capabilities
of the reference repo ``Youngerjesus/apache-flink-pratices``.

The reference is a PyFlink DataStream practice repo + crypto market-data
ingestion pipeline (see SURVEY.md). This package re-expresses its capability
surface Spark-first:

- batch DataFrame/SQL operators (the correctness oracle path),
- Structured Streaming equivalents (windowed aggregation, stateful CEP),
- market-data JSON parsing and validation, and a proto3 wire codec,
- large-scale training-data-pipeline operators (dedup, similarity search,
  text analysis, multimodal plumbing) designed for 100 TB-scale execution.

Design stance (SURVEY.md §7): declarative DataFrame plans so Catalyst handles
pushdown/pruning/join selection; pure business rules live framework-free in
``domain/``; Python UDFs only where built-ins cannot express the semantics,
and then always Arrow-batched.
"""

from apache_flink_pratices_spark.deploy import keep_unchanged_zip_directories
from apache_flink_pratices_spark.session import get_spark

# every Python worker that unpickles an engine function imports this package
keep_unchanged_zip_directories()

__all__ = ["get_spark"]
__version__ = "0.1.0"
