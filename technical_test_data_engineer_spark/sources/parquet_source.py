"""Parquet source — the engine-native storage format.

Replaces the reference's JDBC full-table scan
(``pd.read_sql_table``, /root/reference/tasks/visualization/src/visualization.py:19;
SURVEY.md S3) with columnar parquet scans that Catalyst can push filters
and column pruning into. At 100 TB this is the difference between
reading 100 TB and reading the 2 columns × matching row-groups a query
actually needs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.bounded import collect_bounded

# Lazy-PLAN memo, per live SparkSession: building a parquet scan is
# driver-side work (file listing + footer schema inference + py4j
# round-trips, measured ~60-100 ms per call), and a registry sweep
# makes ~2 load_table calls per query — tens of seconds of pure
# plan-construction overhead. A DataFrame is an immutable lazy plan,
# so sharing one scan node per (session, path) changes no plan shape
# and caches no data: every action still reads the parquet. Entries
# are invalidated when the directory's (name, mtime, size) signature
# changes (tests overwrite fixture paths in place) and die with their
# session (weak keys), so a restarted session never sees a stale plan.
_PLAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _path_signature(path: str):
    """(name, mtime_ns, size) of every entry under ``path`` (or of the
    file itself) — cheap local stat calls; None when absent so a
    missing path never caches."""
    try:
        with os.scandir(path) as it:
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in it
                )
            )
    except NotADirectoryError:
        st = os.stat(path)
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    except FileNotFoundError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table from ``{sf_dir}/{name}.parquet``.

    We deliberately do NOT apply the declared schema on read: parquet is
    self-describing, so the footer schema is authoritative and free, and
    forcing a differently-typed StructType onto a parquet scan disables
    vectorized reading. Declared schemas (schemas.py) are used to
    *validate* and to read schema-less formats (CSV/JSON).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects outright; we read it as raw nanos (legacy conf, set
    here so it works under any caller's session) and convert to a
    microsecond TimestampType — the same ns→µs truncation DuckDB's
    ``CAST(ts AS TIMESTAMP)`` performs, keeping the oracle comparable.
    """
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # set on every call (hit or miss): the legacy-nanos conf is
        # consulted at scan time, not only at schema inference
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo = _PLAN_MEMO.setdefault(spark, {})
    sig = _path_signature(path)
    hit = memo.get(path)
    if hit is not None and sig is not None and hit[0] == sig:
        return hit[1]
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if sig is not None:
        memo[path] = (sig, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    from technical_test_data_engineer_spark.schemas import STAR_SCHEMA

    return {n: load_table(spark, sf_dir, n) for n in STAR_SCHEMA}


def write_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Engine-native sink: overwrite parquet, mirroring the
    reference's full-replace semantics (``to_sql(if_exists='replace')``,
    /root/reference/tasks/scraper/src/scraper.py:23-24; SURVEY.md S2).

    ``partition_by`` enables partition pruning for fact tables at scale
    (e.g. a date column) — the reference has no notion of this.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: rows hash-distributed into ``n_buckets``
    files by ``bucket_cols`` at WRITE time. Two tables bucketed the same
    way join WITHOUT a shuffle (co-located sort-merge) — the standard
    way to pre-pay the shuffle for a fact table that joins on the same
    key every day. At 100 TB this converts the nightly join's dominant
    exchange into a free scan-side zip.
    """
    from pyspark.sql import functions as F

    # pre-shuffle onto the bucket keys so each task holds exactly one
    # bucket: repartition's HashPartitioning and bucketBy's bucket
    # assignment are the same Murmur3-pmod function, so the write emits
    # ONE file per bucket instead of (input partitions × buckets) small
    # files — measured 128 → 4 files and ~2× faster on a band append,
    # and at 100 TB it is the difference between a clean bucket layout
    # and a small-file explosion on every daily refresh. The bucket
    # count is the parallelism dial: size n_buckets for the table, not
    # the cluster. It also caps write parallelism at n_buckets tasks.
    dfp = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = dfp.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if partition_cols:
        # Hive-style partition dirs UNDER the bucket layout: each
        # partition holds its own n_buckets files, the bucketed join
        # stays shuffle-free across partitions (asserted in
        # tests/test_streaming_ingest_dedup.py), and a filter on the
        # partition column becomes a directory prune instead of a
        # footer scan — what makes per-batch stamp probes O(1)
        writer = writer.partitionBy(*partition_cols)
    writer.format("parquet").saveAsTable(name)


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Append ``_z``: the Z-order (Morton) interleave of the rank-
    normalized key columns. Each column is min-max scaled to a
    ``bits``-bit integer from GLOBAL min/max (one tiny agg, broadcast
    as literals), then the bit planes are interleaved high-to-low —
    rows close in _z are close in EVERY key dimension, which is what
    makes one sort order serve range predicates on all of them.
    Pure JVM expressions (shifts/ors) — no UDF in the write path."""
    from pyspark.sql import functions as F

    stats = collect_bounded(
        df.agg(
            *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
        ),
        1,
        "zorder_value min/max",
    ).to_pylist()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top
                ).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    # extract bit with shiftright + %2 and combine with +: the Python
    # Column `|`/`&` operators are LOGICAL or/and in PySpark, and after
    # shiftleft the bit positions never overlap, so + IS the interleave
    for bit in range(bits - 1, -1, -1):
        for s in scaled:
            z = F.shiftleft(z, 1) + F.shiftright(s, bit) % 2
    return df.withColumn("_z", z)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 16,
) -> None:
    """Z-order clustered rewrite: range-partition + sort rows by their
    Morton value, drop the helper column, write ``n_files`` parquet
    files. The data-SKIPPING layout for multi-dimensional predicates:
    after this, every file's footer min/max on EACH zorder column spans
    only a narrow slice, so predicate pushdown prunes most row groups
    for point/range filters on ANY of the columns — the plain-parquet
    equivalent of Delta's OPTIMIZE ZORDER BY, and the layout step that
    turns a 100 TB full scan into a few-file read for selective
    queries. One range shuffle (sampled bounds) + local sort; cost is
    the rewrite, amortized over every subsequent scan."""
    zdf = zorder_value(df, zorder_cols)
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Backfill sink: dynamic partition overwrite — replaces ONLY the
    partitions present in ``df``, leaving every other partition's files
    untouched (static overwrite, the Spark default, would DELETE the
    whole table first — the classic backfill footgun). This is the
    partition-surgical rewrite a daily pipeline uses to recompute one
    bad day inside a years-deep fact table: write amplification is
    O(changed partitions), not O(table).

    Scoped via the writer option (not a global session conf), so
    concurrent writers with different semantics don't interfere.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
