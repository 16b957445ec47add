"""Partition-management helpers.

At cluster scale the parquet scan yields one task per ~128 MB split and
parallelism is free. On small/local inputs (one row-group file) every
downstream per-row computation inherits a SINGLE scan partition — a
3000× slowdown for expression-heavy operators (shingling, LSH
signatures) on a 32-core host. ``fan_out`` repartitions ONLY when the
input has fewer partitions than the session's default parallelism, so
it is a no-op on real cluster scans and a round-robin spread locally.
``ordered_python_stage`` sorts a Python-worker stage's output without
running the stage twice.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the
    session's ``defaultParallelism``) iff it currently has fewer.

    Checking ``df.rdd.getNumPartitions()`` only compiles the physical
    plan — no job runs. The repartition is round-robin: correct for any
    downstream keyed shuffle (they re-shuffle anyway) and balanced for
    per-row compute.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def ordered_python_stage(
    df: DataFrame,
    stage: Callable[[DataFrame], DataFrame],
    order: Sequence[str],
    range_first: bool = True,
) -> DataFrame:
    """``stage(df).orderBy(*order)`` with the Python-worker stage inside
    ``stage`` run once per action.

    A global sort placed directly on a Python stage puts the
    RangePartitioner's sampling job in that stage: the job iterates
    every partition, so the Python code runs once to sample and again
    to shuffle. Both forms below keep the sampler off the stage:

    - ``range_first=True``: ``df`` is range-partitioned on ``order[0]``
      before the stage and the output is sorted within partitions on
      ``order``; the sampler reads ``df``'s stage. A grouped map or
      aggregate keyed on ``order[0]`` takes the range exchange as its
      clustering, so its hash exchange disappears. Valid only when
      ``stage`` passes ``order[0]`` through unchanged and shuffles
      nothing itself: row-wise UDFs, ``mapInPandas``, generators,
      projections, grouped maps and aggregates whose keys include
      ``order[0]``. A join or grouping on another key re-partitions the
      rows and the result is no longer ordered.
    - ``range_first=False``: the stage's output is hash-partitioned on
      ``order[0]``, then globally sorted; the sampler reads that shuffle
      output. Valid for any stage that outputs ``order``.

    Pick the form that shuffles the narrower relation: range first
    moves ``df`` once (and nothing more for a grouped map, whose input
    moves anyway); materialize-after moves the stage's output twice.

    Ordering contract: every column of ``order`` ascending with NULLs
    first, ``orderBy``'s default, across partitions in partition order,
    so ``collect``/``toPandas`` return ``orderBy``'s row sequence. Rows
    equal on all of ``order`` come in no promised order, as under
    ``orderBy``. Only row-wise operators (select, filter) may follow
    and keep the sequence.
    """
    if range_first:
        return stage(df.repartitionByRange(order[0])).sortWithinPartitions(*order)
    return stage(df).repartition(order[0]).orderBy(*order)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: spread each hot key of ``big`` across
    ``n_salts`` shuffle partitions by salting the key; replicate every
    ``small`` row to all salts so each salted partition still sees its
    full match set.

    Use when one side has heavy key skew AND the small side is too big
    to broadcast (otherwise prefer broadcast, and let AQE's skew-join
    splitting handle moderate skew first). The salt on the big side is
    derived from the row content hash — deterministic, no RNG.

    Cost model: small side shuffles n_salts× its size; the big side's
    hottest key now bounds a task at |key| / n_salts rows.
    """
    salt_b = (F.abs(F.xxhash64(*[F.col(c) for c in big.columns])) % n_salts).alias(
        "_salt"
    )
    big_s = big.withColumn("_salt", salt_b)
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_s.join(small_s, [on, "_salt"], how).drop("_salt")
