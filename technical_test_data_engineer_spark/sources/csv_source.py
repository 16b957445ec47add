"""CSV source (SURVEY.md S1).

The reference fetches CSV over HTTP into one in-memory string, then
``pd.read_csv`` with full dtype inference
(/root/reference/tasks/scraper/src/utils/utils.py:5-20). The engine
equivalent reads a staged path with a parallel ``spark.read.csv`` —
schema declared when known (one pass), inferred only for exploration
(two passes over the data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """``spark.read.csv`` with UTF-8 + header defaults matching the
    reference's parse (utils.py:14-19), schema-declared when provided."""
    opts = {"header": "true", "encoding": "UTF-8", **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)
