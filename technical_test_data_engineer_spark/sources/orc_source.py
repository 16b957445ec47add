"""ORC source/sink — the second columnar format in the matrix.

Parquet is the engine-native format (parquet_source.py); ORC is the
interop lane for Hive-lineage lakes. Spark ships the ORC reader/writer
natively (no extra package), and the same Catalyst machinery applies:
predicate pushdown reaches ORC's stripe/row-group statistics and
column pruning reads only the selected streams —
``tests/test_orc_source.py`` asserts both on the physical plan, plus a
value-identical roundtrip against the parquet twin.

Scale stance: identical to parquet — scans split by
``spark.sql.files.maxPartitionBytes``, footer/stripe stats prune
before IO, and the full-replace write mirrors the reference's
``to_sql(if_exists='replace')`` semantics (SURVEY.md S2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Full-replace ORC sink; ``partition_by`` lays out hive-style
    directories for partition pruning, same as the parquet sink."""
    writer = df.write.format("orc").mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — self-describing like parquet, so no schema is forced
    (forcing one would disable the vectorized reader)."""
    return spark.read.orc(path)
