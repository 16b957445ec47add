"""Table-maintenance operators: keyed upsert, snapshot diff, small-file
compaction. The ops layer a parquet-based deployment needs once data
stops being write-once — all built on the atomic versioned publisher
(sources/atomic.py) so every rewrite is crash-safe: readers see the old
snapshot until the new one is complete, never a half-rewrite.

These are the plain-parquet equivalents of what table formats
(Delta/Iceberg/Hudi) provide natively; the point here is the Spark
plan shapes — a MERGE is an outer join + coalesce, a diff is a full
outer join with change classification, compaction is a repartition —
expressed so each is one shuffle on the key (or none for compaction).

SINGLE WRITER ASSUMED: version numbers come from a directory listing
and the pointer flip is last-write-wins, so two concurrent publishers
can race the same ``_v{n}`` (the second write fails on errorifexists)
or flip the pointer backwards. Concurrency control (a lock file, or a
conditional-PUT pointer on object stores) is the step from this
pattern to a real table format — same boundary as atomic.py documents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.bounded import collect_bounded
from technical_test_data_engineer_spark.sources.atomic import (
    current_version,
    publish_tables,
    read_published,
)

# Ceiling on one table's audit report in ``publish_if_clean``: a report
# holds one row per check, and the quality operators build a few dozen.
MAX_AUDIT_CHECKS = 1_000


def _snapshot_dir(root: str, version: int | None = None) -> tuple[int, str]:
    """The committed version and its directory, with explicit errors
    for the two broken states a bare ``os.listdir`` would turn into
    cryptic failures: no committed snapshot at all, and a pointer whose
    version directory has been GC'd out from under it. Pass ``version``
    when the caller already read the pointer (avoids a second read)."""
    if version is None:
        version = current_version(root)
    if version is None:
        raise FileNotFoundError(
            f"no committed snapshot under {root} — publish before "
            "upserting, compacting or forgetting keys"
        )
    vdir = os.path.join(root, f"_v{version}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"snapshot pointer names version {version} but {vdir} is "
            "missing (GC'd or tampered) — the table root is corrupt"
        )
    return version, vdir


def _carry_forward(
    spark: SparkSession, vdir: str, tables: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Adds every other table of the snapshot at ``vdir`` to ``tables``,
    read as it is. ``publish_tables`` writes only the dict it is given
    and flips the pointer for the whole store, so a table left out here
    would silently vanish from the new snapshot."""
    for other in sorted(os.listdir(vdir)):
        if other not in tables and not other.startswith("."):
            tables[other] = spark.read.parquet(os.path.join(vdir, other))
    return tables


def merge_upsert(base: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """MERGE semantics as one plan: rows in ``updates`` replace same-key
    rows in ``base``; new keys insert; unmatched base rows persist.
    One full-outer-shaped shuffle on the key (here: left_anti + union —
    cheaper than a true full outer because no column coalescing is
    needed when updates carry complete rows).

    ``updates`` must have the same schema as ``base`` and at most one
    row per key (enforce upstream with exact_dedup)."""
    surviving = base.join(updates.select(*key_cols), key_cols, "left_anti")
    return surviving.unionByName(updates)


def merge_partial_aggs(
    snapshot: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Algebraic materialized-view maintenance: refresh a keyed
    aggregate by merging the stored partial aggregates with the new
    batch's partials — union + re-sum, ONE shuffle over aggregate-sized
    (not fact-sized) data. At 100 TB this is the difference between
    re-scanning the full history on every refresh and touching only
    the new partition: sums/counts are algebraic, so partial(old) ⊎
    partial(delta) ≡ full recompute exactly (keep partials in decimal,
    not double, or the identity only holds approximately).

    Both inputs must carry ``key_cols`` + ``sum_cols`` (the partial
    columns: SUM-able measures, incl. COUNT partials — a count is a sum
    of counts). Derived measures (avg, ratios) must be finalized AFTER
    the merge, from the merged partials."""
    merged = snapshot.select(*key_cols, *sum_cols).unionByName(
        delta.select(*key_cols, *sum_cols)
    )
    return merged.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
) -> DataFrame:
    """CDC apply: collapse a MULTI-version changelog onto a base
    snapshot — the Debezium/Delta-CDF consumption pattern
    ``merge_upsert`` cannot express (that one takes exactly one
    pre-deduped version per key and has no delete channel).

    ``changes`` = base schema + ``seq_col`` (per-key version order,
    must be unique per key — ties would make the survivor
    nondeterministic) + ``op`` ('U' upsert / 'D' delete). Per key
    the HIGHEST seq wins: 'U' replaces-or-inserts the row, 'D' removes
    it (a delete of a never-seen key is a no-op, per CDC convention).

    Plan shape: one window shuffle on the key over the CHANGELOG only
    (top-1-per-group — the changelog is the small, recent side), then
    one left_anti + union against base. Base is never windowed — at
    100 TB the snapshot moves through exactly one keyed anti-join
    shuffle, and with both sides bucketed on the key even that is
    shuffle-free."""
    from technical_test_data_engineer_spark.operators.windows import (
        top1_per_group,
    )

    data_cols = base.columns
    extra = [c for c in (seq_col, "op") if c not in changes.columns]
    if extra:
        raise ValueError(f"changelog missing columns: {extra}")
    # Validate op values BEFORE applying. Without this gate an unknown
    # op (null, lowercase 'u', a typo) would anti-join its key out of
    # base yet be excluded from upserts by op != 'D' — a silent
    # implicit delete. Fail loudly instead: CDC feeds with bad op codes
    # are corrupt and must not vanish data without error.
    bad = changes.filter(
        F.col("op").isNull() | ~F.col("op").isin("U", "D")
    ).limit(1)
    bad_rows = collect_bounded(bad, 1, "apply_changelog bad-op probe").to_pylist()
    if bad_rows:
        raise ValueError(
            f"apply_changelog: unknown 'op' value "
            f"{bad_rows[0]['op']!r} in changelog (expected 'U'/'D')"
        )
    latest = top1_per_group(changes, key_cols, [F.desc(seq_col)])
    surviving = base.join(latest.select(*key_cols), key_cols, "left_anti")
    upserts = latest.filter(F.col("op") != "D").select(*data_cols)
    return surviving.select(*data_cols).unionByName(upserts)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Row-level changes between two snapshots: full outer join on the
    key, rows classified ``added`` / ``removed`` / ``changed``
    (unchanged rows are dropped). Non-key columns are compared as a
    single hash — one pass, no per-column plan blowup, and the join
    shuffle carries 8 bytes per row instead of the full row (the reason
    to hash rather than compare structs at 100 TB).

    ``xxhash64`` skips NULL inputs (the seed passes through unchanged),
    so a bare multi-column hash maps (NULL, 'x') and ('x', NULL) to the
    SAME value and a real change would be classified unchanged. The
    hash therefore prepends a null bitmap: rows that differ only in
    which columns are null get different bitmaps, hence different
    hashes. Residual risk is the generic 64-bit collision (~5e-20 per
    pair) — use a struct ``eqNullSafe`` compare instead if that is not
    acceptable and the shuffle volume is.

    Output: key columns + ``change`` string column."""
    non_key = [c for c in old.columns if c not in key_cols]
    if [c for c in new.columns if c not in key_cols] != non_key:
        raise ValueError("snapshot schemas differ")

    def _row_hash(alias: str):
        nullmap = F.concat_ws(
            ",", *[F.col(c).isNull().cast("int").cast("string") for c in non_key]
        )
        return F.xxhash64(nullmap, *[F.col(c) for c in non_key]).alias(alias)

    o = old.select(*key_cols, _row_hash("_oh"))
    n = new.select(*key_cols, _row_hash("_nh"))
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def publish_upsert(
    spark: SparkSession,
    root: str,
    name: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """Crash-safe keyed upsert into a published table: read the current
    snapshot, merge, publish a new version atomically. Other tables in
    the snapshot are carried forward by copy (re-read + re-write) —
    correct but write-amplified; avoiding the copy needs per-table
    manifests instead of one version dir, which is precisely the step
    from this pattern to a real table format (Delta/Iceberg)."""
    version = current_version(root)
    if version is None:
        return publish_tables(root, {name: updates})
    _, vdir = _snapshot_dir(root, version)
    base = read_published(spark, root, name)
    merged = merge_upsert(base, updates, key_cols)
    return publish_tables(root, _carry_forward(spark, vdir, {name: merged}))


def compact_table(
    spark: SparkSession,
    root: str,
    name: str,
    target_files: int,
) -> int:
    """Small-file compaction: rewrite a published table into
    ``target_files`` files via coalesce (no shuffle — existing
    partitions are merged map-side) and publish atomically. The
    maintenance pass that keeps scan task counts sane after many
    incremental upserts."""
    _, vdir = _snapshot_dir(root)
    df = read_published(spark, root, name).coalesce(target_files)
    return publish_tables(root, _carry_forward(spark, vdir, {name: df}))


def scd2_from_changelog(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: collapse an append-only change
    log into versioned validity intervals — one row per (key, attribute
    state) run, with ``valid_from``/``valid_to``/``is_current``/
    ``version``. The sibling of :func:`snapshot_diff` for when history
    must be KEPT, not just detected (the dimension-table pattern every
    warehouse bolt-on to an event stream needs).

    Plan shape: two window passes over ONE shuffle on ``key_cols`` —
    change detection (null-safe ``lag`` compare per attribute; a row
    survives iff it's the key's first or differs from its predecessor)
    feeds interval assembly (``lead`` for the exclusive upper bound).
    Catalyst reuses the sort for both windows, so scale cost is a
    single partitioned sort — no per-key collect, no self-join.

    ``tiebreak`` orders equal timestamps deterministically (pass the
    log's monotonic id). Attribute NULLs are states, not gaps:
    NULL→value and value→NULL are both transitions (eqNullSafe).
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    first = F.lag(F.lit(1)).over(w).isNull()
    differs = F.lit(False)
    for c in attr_cols:
        differs = differs | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    changes = df.withColumn("_chg", first | differs).filter("_chg").drop("_chg")
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return changes.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).alias("version"),
    )


def publish_if_clean(
    root: str,
    tables: dict[str, DataFrame],
    audits: dict[str, DataFrame],
) -> int:
    """Audit-gated atomic publish — the ingest circuit breaker: run
    each table's constraint-audit report (``operators/quality``), and
    only if EVERY check passes flip the snapshot pointer. On any
    failure nothing is written and readers keep the previous snapshot;
    the failing checks are raised with their observed values so the
    pipeline run surfaces exactly what tripped.

    ``audits`` maps table name → a (check_name, observed, passed)
    report DataFrame (``constraint_audit`` / ``referential_check``
    output). A report holds one row per check, and a table is audited
    by at most ``MAX_AUDIT_CHECKS`` checks: each report is fetched
    through ``collect_bounded`` with that bound."""
    failures: list[str] = []
    for tname, report in audits.items():
        rows = collect_bounded(report, MAX_AUDIT_CHECKS, f"{tname} audit report")
        for r in rows.to_pylist():
            if not r["passed"]:
                failures.append(
                    f"{tname}.{r['check_name']} (observed={r['observed']})"
                )
    if failures:
        raise ValueError(
            "publish blocked by failed quality checks: " + ", ".join(failures)
        )
    return publish_tables(root, tables)


def forget_keys(
    spark: SparkSession,
    root: str,
    tables: dict[str, str],
    keys: DataFrame,
) -> int:
    """Right-to-be-forgotten: delete every row referencing any key in
    ``keys`` from MULTIPLE tables in one ATOMIC versioned publish —
    readers see all tables scrubbed or none (a half-applied GDPR
    delete is a compliance incident, not a retry).

    ``tables`` maps table name → its key column; ``keys`` is one
    column ``key``. Each table moves through a single broadcast
    anti-join (the deletion list is small by nature) and the rewrite
    reuses the atomic publisher — crash-safe, previous version retained
    for audit until compacted away. Returns the new version number.

    At 100 TB you would pair this with partition pruning (delete only
    partitions whose min/max key ranges can contain the targets) —
    the anti-join shape is unchanged.
    """
    _, vdir = _snapshot_dir(root)
    k = F.broadcast(keys.select(F.col("key")))
    new_snapshot = {}
    for name, key_col in tables.items():
        df = read_published(spark, root, name)
        new_snapshot[name] = df.join(k, df[key_col] == k["key"], "left_anti")
    # tables without a key column are carried forward unchanged: a GDPR
    # delete must never take an unrelated table offline
    return publish_tables(root, _carry_forward(spark, vdir, new_snapshot))


def expire_snapshots(root: str, keep_last: int = 2) -> list[int]:
    """Retention for the versioned store: delete all but the newest
    ``keep_last`` published versions — never the current pointer's
    target, never an in-flight (unpublished, > current) directory.
    The storage-cost counterpart of crash-safe publishing: without
    expiry every full-replace publish doubles the table's footprint
    forever. Returns the deleted version numbers.

    Same single-writer assumption as the publisher; on object stores
    pair with a grace period so late readers of an old snapshot finish
    before its files vanish.
    """
    import shutil

    from technical_test_data_engineer_spark.sources.atomic import _versions

    cur = current_version(root)
    if cur is None:
        return []
    keep_last = max(1, keep_last)
    candidates = [v for v in _versions(root) if v <= cur]
    to_drop = candidates[:-keep_last] if len(candidates) > keep_last else []
    for v in to_drop:
        shutil.rmtree(os.path.join(root, f"_v{v}"))
    return to_drop
