"""SparkSession factory with scale-oriented defaults.

The reference has no session concept (eager pandas in one process,
``/root/reference/tasks/visualization/src/visualization.py:19``); our
engine centralizes one lazily-built SparkSession with AQE on, so every
query below benefits from runtime re-planning (auto broadcast, skew-join
splitting, partition coalescing) without per-query tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults are sized for the local[32] test harness; on a real cluster the
# same knobs are what you would tune (shuffle partitions ≈ 2-3× total
# cores; maxPartitionBytes keeps scan tasks ~128 MB).
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 ANSI mode changes overflow/cast semantics; the reference's
    # pandas semantics (and the DuckDB oracle's defaults) are closer to
    # non-ANSI permissive casts for dirty-data repair paths.
    "spark.sql.ansi.enabled": "false",
    # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects; read as long nanos and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The JVM default ReservedCodeCacheSize (240 MB) is sized for one
    # application, not a 339-query registry sweep: whole-stage-codegen
    # Janino classes plus the interpreted decimal-HOF fold paths fill
    # the code cache mid-sweep, HotSpot starts flushing compiled
    # methods, and late-registry queries re-run their hot folds
    # interpreted — measured as unchanged bounded plans landing 4-6x
    # above solo steady state (r9 driver bench: embedding_near_dups_
    # lsh_exact 8.04 s min-of-two-reps vs 2.7 s solo steady). 1 GiB
    # keeps every compiled fold resident for the whole sweep. Only
    # effective before JVM launch (like driver.memory).
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
}


def driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half the
    box's physical memory, capped at 32g. A 32g heap on a 16 GB box lets
    the JVM grow until the kernel kills it instead of collecting."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(phys_mb // 2, 32 << 10)}m"


def get_spark(
    app_name: str = "technical_test_data_engineer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster, leave it None and let spark-submit provide it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    # local mode runs every task in the driver JVM; the 1g default heap
    # starves 32 executor threads. Only effective before JVM launch.
    confs["spark.driver.memory"] = driver_memory()
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
