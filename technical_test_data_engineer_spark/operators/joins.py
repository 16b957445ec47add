"""Join operators (SURVEY.md §2.3, J1-J2) plus the full Spark join
surface the reference lacked (semi/anti/range/as-of).

Scale notes baked into each helper:
- dimension tables → broadcast hash join (no shuffle of the fact side);
- fact⋈fact → sort-merge on the key, AQE handles skew;
- as-of/range joins have no Spark builtin — implemented as composition
  (union + window) rather than a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def inner_equi_join(
    left: DataFrame, right: DataFrame, on: str | list[str]
) -> DataFrame:
    """J1 — inner equi-join on a shared key name
    (``merge(how='inner', on='id_zone')``, visualization.py:59). The
    reference's zone dim is small → broadcast."""
    return left.join(F.broadcast(right), on=on, how="inner")


def left_join_differing_keys(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """J2 — left outer join with differing key names
    (``merge(how='left', left_on='code', right_on='code_departement')``,
    visualization.py:153). Keeps the duplicate key column dropped, like
    pandas suffixing never fires in the reference."""
    r = F.broadcast(right)
    return left.join(r, left[left_key] == r[right_key], "left").drop(right_key)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS-shaped join; emits only left columns, never duplicates."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS-shaped join — e.g. orphan facts whose dim key is
    missing (the rows the reference's inner join silently drops)."""
    return left.join(right, on=on, how="left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Point-in-interval join: left rows matched to right intervals
    containing ``left[point_col]``.

    A broadcast-nested-loop join — fine when the right side is a
    dimension; at fact×fact scale, bucketize the point/interval into a
    coarse grid key first (see :func:`overlap_join`).
    """
    cond: Column = (left[point_col] >= right[start_col]) & (
        left[point_col] <= right[end_col]
    )
    return left.join(F.broadcast(right), cond, "inner")


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    block,
    max_dist: int,
) -> DataFrame:
    """Blocked edit-distance self-join (record linkage): distinct
    ``text_col`` values whose Levenshtein distance is in
    ``[1, max_dist]``, restricted to pairs sharing ``block``.

    Scale shape — the three standard guards that keep fuzzy matching
    off the O(n²) cliff, in evaluation order:

    1. **distinct-first**: pairing runs over DISTINCT strings (vocab),
       not rows — duplicated catalog entries collapse before the join;
    2. **blocking key**: the self-join is a hash equi-join on
       ``block`` (e.g. the product noun, a phonetic code, a length
       bucket) — never a cross product;
    3. **length-band prefilter**: ``|len(a)−len(b)| ≤ max_dist`` is a
       lower bound on edit distance, so the cheap length compare runs
       before the O(len²) Levenshtein, and Spark's 3-arg
       ``levenshtein(l, r, threshold)`` early-exits its DP loop once
       the running distance exceeds ``max_dist``.

    ``block`` is a callable ``Column -> Column`` mapping a string to
    its blocking key (so the caller states the policy, the operator the
    plumbing). Distance 0 (exact duplicates) is excluded — those belong
    to ``exact_dedup``; emits ``(name_a, name_b, edit_dist)`` with
    ``name_a < name_b`` so each unordered pair appears once.
    """
    n = (
        df.select(F.col(text_col).alias("_name"))
        .distinct()
        .withColumn("_blk", block(F.col("_name")))
        .withColumn("_len", F.length("_name"))
    )
    a = n.select(
        F.col("_name").alias("name_a"), "_blk", F.col("_len").alias("_la")
    )
    b = n.select(
        F.col("_name").alias("name_b"), "_blk", F.col("_len").alias("_lb")
    )
    return (
        a.join(b, "_blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("name_a"), F.col("name_b"), max_dist),
        )
        # threshold form returns -1 when the distance exceeds max_dist
        .filter(
            (F.col("edit_dist") >= 1) & (F.col("edit_dist") <= max_dist)
        )
        .select("name_a", "name_b", "edit_dist")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """As-of join: for each left row, the single latest right row with
    ``right_ts <= left_ts`` within the same ``on`` key — the time-series
    join Spark lacks natively.

    Implemented as union + window (one shuffle on ``on``), not a UDF:
    tag both sides, sort by time within key, and carry the most recent
    right payload forward onto left rows with ``last(ignorenulls)``.
    Scales as a single partitioned sort — no per-key collect.
    """
    payload = [c for c in right.columns if c not in (on, right_ts)]
    l_tag = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    for c in payload:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    r_tag = right.withColumn("_ts", F.col(right_ts)).withColumn("_side", F.lit(0))
    for c in left.columns:
        if c not in (on,) and c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    cols = [on, "_ts", "_side", *[c for c in left.columns if c != on], *payload]
    unioned = l_tag.select(*cols).unionByName(r_tag.select(*cols))

    # right rows (_side=0) sort before left rows at equal ts → "<="
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = unioned
    for c in payload:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out.filter(F.col("_side") == 1).drop("_side", "_ts")


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width,
    equi_keys: list[str] | None = None,
) -> DataFrame:
    """Interval×interval OVERLAP join ([l_start,l_end] ∩ [r_start,r_end]
    ≠ ∅, closed bounds) via grid-bucket decomposition — the scale path
    :func:`range_join`'s docstring defers: with two FACT-sized interval
    sets, an inequality-only join is a nested-loop cross product, but
    overlapping intervals must share at least one ``bucket_width`` grid
    cell, so exploding each interval into its covered cells turns the
    join into a plain (cells, equi_keys) HASH join + residual overlap
    filter.

    Duplicate suppression without a distinct: a qualifying pair is kept
    only in the cell containing ``greatest(l_start, r_start)`` — each
    overlapping pair survives in EXACTLY one cell, so no
    dedup shuffle. Fan-out per row is interval_length/bucket_width + 1
    (pick ``bucket_width`` ≈ typical interval length; long outliers fan
    out proportionally — cap them upstream or bucket coarser).

    Columns must be numeric (cast timestamps to epoch first). Returns
    left columns + right columns (callers project/alias upstream to
    avoid collisions)."""
    lb = F.explode(
        F.sequence(
            F.floor(F.col(l_start) / bucket_width),
            F.floor(F.col(l_end) / bucket_width),
        )
    ).alias("_cell")
    rb = F.explode(
        F.sequence(
            F.floor(F.col(r_start) / bucket_width),
            F.floor(F.col(r_end) / bucket_width),
        )
    ).alias("_cell")
    lx = left.select("*", lb)
    rx = right.select("*", rb)
    on = ["_cell", *(equi_keys or [])]
    anchor = F.floor(
        F.greatest(F.col(l_start), F.col(r_start)) / bucket_width
    )
    return (
        lx.join(rx, on)
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
            & (F.col("_cell") == anchor)
        )
        .drop("_cell")
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime pre-filter (the scan-side half of a semi join)
# ---------------------------------------------------------------------------

# Fixed odd seeds for the k xxhash64 probes (literals on both build and
# probe side, so the filter is deterministic across runs/partitionings).
_BLOOM_SEEDS = (0x9E3779B1, 0xC2B2AE35, 0x165667B1, 0x27D4EB2F)


def _bloom_positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    # xxhash64 is TYPE-sensitive: a plain F.lit types small seeds int
    # and large ones long, silently desyncing build vs probe — pin
    # every seed to bigint.
    return [
        F.pmod(F.xxhash64(F.lit(seed).cast("bigint"), key), F.lit(n_bits))
        for seed in _BLOOM_SEEDS[:n_hashes]
    ]


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 3,
    prefilter_only: bool = False,
) -> DataFrame:
    """Semi join with a bloom-filter runtime pre-filter on the big side.

    Spark's own runtime row-level filtering exists but its
    ``bloom_filter_agg`` is not in the public function registry, so
    this builds the same structure from public expressions:

    1. **Build** — each small-side key sets ``n_hashes`` bits in an
       ``n_bits``-wide bitmap. Bit positions come from seeded
       ``xxhash64``; the bitmap is packed 64 positions per long via a
       ``bit_or`` aggregation keyed on the word index, then collapsed
       to ONE row holding a ``map<long,long>`` of non-zero words. Build
       cost is one keyed shuffle of 16-byte rows bounded by
       ``n_bits/64`` words — independent of small-side row count.
    2. **Probe** — the 1-row map broadcasts to every task (the same
       broadcast-scalar attach convention as the dangling-mass
       PageRank term); each big-side row recomputes its ``n_hashes``
       positions and requires every probed word to have the bit set
       (``try_element_at`` → missing word = definite miss). All JVM
       expressions inside the scan stage: rows that miss die BEFORE
       the join shuffle.
    3. **Verify** — a normal left-semi hash join removes the
       ~``(1 - e^(-kn/m))^k`` false positives, so the result is EXACTLY
       the semi join (the bloom only thins the shuffle), and the
       operator stays oracle-checkable against plain ``IN``.

    At 100 TB this is the difference between shuffling the full fact
    scan into the semi join and shuffling only ~the matching fraction:
    the filter costs one broadcast of ≤ ``n_bits/8`` bytes. Size
    ``n_bits`` ≈ 10× the expected distinct-key count for ~1% fpp
    (bits/key=10, k=3); an undersized filter degrades to pass-through,
    never to wrong answers. ``prefilter_only=True`` returns the thinned
    (superset) frame for callers that chain their own join.
    """
    positions = _bloom_positions(F.col(small_key), n_bits, n_hashes)
    words = small.select(
        F.explode(F.array(*positions)).alias("_pos")
    ).select(
        F.shiftright(F.col("_pos"), 6).alias("_w"),
        F.expr("shiftleft(1L, CAST(pmod(_pos, 64) AS INT))").alias("_m"),
    )
    bloom = (
        words.groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_w", "_bits"))
            ).alias("_bloom")
        )
    )
    probes = _bloom_positions(F.col(big_key), n_bits, n_hashes)
    hit = None
    for p in probes:
        word = F.coalesce(
            F.try_element_at(F.col("_bloom"), F.shiftright(p, 6)), F.lit(0)
        )
        mask = F.expr(
            f"shiftleft(1L, CAST(pmod({p._jc.toString()}, 64) AS INT))"
        )
        this = word.bitwiseAND(mask) != 0
        hit = this if hit is None else (hit & this)
    pruned = big.crossJoin(F.broadcast(bloom)).filter(hit).drop("_bloom")
    if prefilter_only:
        return pruned
    return pruned.join(
        F.broadcast(small.select(F.col(small_key).alias(big_key)).distinct()),
        on=big_key,
        how="left_semi",
    )
