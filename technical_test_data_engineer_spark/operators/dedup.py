"""Deduplication operators for LLM-data pipelines (north-star §2.11):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine.

Design rules for 100 TB:
- everything is built-in expressions (xxhash64 / transform / aggregate /
  array_*) — zero Python per row;
- candidate generation is always a *bucket equi-join* (shuffle on a
  band/bucket key), never an O(n²) cross join; exact verification runs
  only on candidate pairs. Every such join in the package is built by
  one of three helpers here: ``_bucket_self_join`` (rows sharing every
  key → (id_a, id_b), id_a < id_b), ``_bucket_probe_join`` (new rows ×
  corpus rows → least/greatest pairs) and ``_attach_both`` (per-id
  columns onto id_a, then id_b). Capping hot buckets, persisting the
  keyed frame, pair dedup and verification stay with each caller;
- what rides the join is a per-operator choice: MinHash and SRP join
  ~24-byte (id, bucket) rows and re-attach payloads (shingle arrays,
  vectors) after pair dedup; SimHash and aHash carry their 8-16-byte
  signatures through the join (the verify needs nothing else);
  ``semantic_dedup`` carries vectors because each within-cell pair
  meets in exactly one cell, so it is scored once either way;
- all hashes are seeded literals → results are deterministic across
  runs and partitionings.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from technical_test_data_engineer_spark.functions.hof import bind
from technical_test_data_engineer_spark.operators.partitioning import fan_out
from technical_test_data_engineer_spark.operators.windows import top1_per_group

# Band buckets larger than this never enter a candidate self-join: a
# bucket of m docs emits m² pairs, and real pretraining corpora DO
# produce degenerate buckets (empty docs, boilerplate headers, license
# blocks) — one million-doc bucket at 100 TB is 10¹² join rows on a
# single key. Dropping a hot bucket only loses candidates whose
# similarity the OTHER bands can still catch (a true near-dup pair has
# bands-1 more chances; truly identical text is exact_dedup's job, not
# MinHash's). The default is far above any bucket the test corpora
# produce (≤500-doc oracle subsets), so capping changes no
# oracle-checked result; production tunes it per corpus.
DEFAULT_HOT_BUCKET_CAP = 1000

# The MinHash+LSH setting every MinHash pipeline here runs: word
# 3-gram shingles, 32 seeded hash functions, 8 bands of 4 rows.
SHINGLE_N = 3
NUM_HASHES = 32
BANDS = 8
SEED = 42

# SimHash band blocking: 8 bands of 8 bits over the 64-bit signature.
SIMHASH_BANDS = 8


def cap_hot_buckets(
    banded: DataFrame, key_cols: list[str], cap: int | None
) -> DataFrame:
    """Drop rows in band buckets whose population exceeds ``cap``.

    One windowed count over the same keys the candidate self-join
    shuffles on (the exchange is shared, so the guard costs no extra
    corpus-sized shuffle). ``cap=None`` disables. To see what was
    dropped, group the same banded relation on ``key_cols`` and keep the
    counts over ``cap``."""
    if cap is None:
        return banded
    w = Window.partitionBy(*key_cols)
    return (
        banded.withColumn("_bucket_n", F.count("*").over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, key_cols: list[str], keeper_order: list[Column]
) -> DataFrame:
    """Exact dedup with a DEFINED keeper (vs ``dropDuplicates``'s
    arbitrary row): one hash-shuffle on the key, row_number pick."""
    return top1_per_group(df, key_cols, keeper_order)


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (array<string>) — the unit set for
    Jaccard similarity. Grams built via ``slice`` + ``array_join`` (ANSI-
    safe: slice past the array end returns the available suffix, so no
    out-of-bounds indexing regardless of session ANSI mode); docs shorter
    than n words yield their whole text as one shingle. The token array
    is let-bound (``bind``) so split() runs once per row, not once per
    gram — see functions/hof.py for the Catalyst lambda-body pitfall."""
    raw = F.split("text", " ")

    def _with_toks(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
        gram = lambda i: F.array_join(F.slice(toks, i, n), " ")  # noqa: E731
        return F.array_distinct(F.transform(idx, gram))

    return bind(raw, _with_toks)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays; int∩/int∪ in
    double — bit-stable across engines."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, portable: bool = False) -> Column:
    """MinHash signature (array<long>, length ``NUM_HASHES``): the i-th
    element is min over shingles of xxhash64(SEED + i, shingle). Each scan
    task computes signatures for its rows independently — embarrassingly
    parallel, no shuffle.

    ``portable=True`` swaps xxhash64 for the md5-derived 60-bit hash
    (text.md5_hash64) with string-keyed rehashing — ~3× slower but
    reproducible in DuckDB, which makes the WHOLE MinHash pipeline
    oracle-pairable (see plans/dedup_queries.minhash_near_dups_md5)."""
    # Hash each variable-length shingle string ONCE, then derive the
    # NUM_HASHES functions by rehashing the fixed 8-byte value — ~NUM_
    # HASHES× less string traversal. The base-hash array is let-bound:
    # without bind, each of the NUM_HASHES transforms re-evaluates the
    # base expression (and the shingle expression under it), so string
    # hashing would run NUM_HASHES× per row.
    # NB: closures, not default args — PySpark counts lambda parameters
    # to decide how many lambda variables to bind, so `lambda s, i=i`
    # would receive the ARRAY INDEX as `i`, not the hash index.
    if portable:
        from technical_test_data_engineer_spark.operators.text import md5_hash64

        base_hash = md5_hash64

        def rehash(i: int, h: Column) -> Column:
            return md5_hash64(
                F.concat_ws(":", F.lit(str(SEED + i)), h.cast("string"))
            )

    else:
        base_hash = F.xxhash64

        def rehash(i: int, h: Column) -> Column:
            return F.xxhash64(F.lit(SEED + i), h)

    raw = F.transform(shingles, lambda s: base_hash(s))

    def _with_base(base: Column) -> Column:
        def _minhash(i: int) -> Column:
            return F.array_min(F.transform(base, lambda h: rehash(i, h)))

        return F.array(*[_minhash(i) for i in range(NUM_HASHES)])

    return bind(raw, _with_base)


def lsh_band_keys(
    sig: Column, bands: int, rows_per_band: int, portable: bool = False
) -> Column:
    """Band the signature: array of (band_id, band_hash) structs. Two
    docs are candidates iff any band hashes equal — P(candidate) =
    1-(1-j^r)^b for Jaccard j. ``portable`` mirrors minhash_signature."""
    if portable:
        from technical_test_data_engineer_spark.operators.text import md5_hash64

        bh_fn = md5_hash64
    else:
        bh_fn = F.xxhash64
    entries = []
    for b in range(bands):
        chunk = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                bh_fn(F.concat_ws(",", F.transform(chunk, lambda x: x.cast("string")))).alias("bh"),
            )
        )
    return F.array(*entries)


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    sig: Column,
    num_hashes: int,
    bands: int,
    portable: bool = False,
) -> DataFrame:
    """One (id, ``_band``, ``_bh``) row per LSH band of the MinHash
    signature ``sig`` — the light relation every MinHash candidate join
    keys on. Expressions only (no ``fan_out``, no action), so a
    streaming frame bands through it too."""
    keys = lsh_band_keys(sig, bands, num_hashes // bands, portable)
    return df.select(F.col(id_col), F.explode(keys).alias("_b")).select(
        id_col, F.col("_b.band").alias("_band"), F.col("_b.bh").alias("_bh")
    )


def _minhash_base_and_bands(
    df: DataFrame, portable: bool
) -> tuple[DataFrame, DataFrame]:
    """Shared front of the all-pairs and incremental candidate
    pipelines over (doc_id, text): ``base`` is the persisted (id,
    shingles, signature) relation (feeds banding AND both verify sides —
    without persist each branch re-shingles the corpus; fan_out spreads
    the per-row hash work when the input scan is under-split),
    ``banded`` the LIGHT exploded (id, band, band-hash) rows (~24 B)
    that enter the candidate equi-join. The KB-sized shingle arrays
    never ride the join — they come back via :func:`_jaccard_verify`
    after pair dedup."""
    base = (
        fan_out(df.select("doc_id", "text"))
        .select(F.col("doc_id"), word_shingles(SHINGLE_N).alias("_sh"))
        .withColumn(
            "_sig", minhash_signature(F.col("_sh"), portable)
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = minhash_band_rows(
        base, "doc_id", F.col("_sig"), NUM_HASHES, BANDS, portable
    )
    return base, banded


# ---------------------------------------------------------------------------
# candidate pairs — the one bucket equi-join
# ---------------------------------------------------------------------------


def _id_side(
    df: DataFrame, id_col: str, side: str, cols=(), keys=()
) -> DataFrame:
    """One side of a pair join: ``id_col`` as ``id_<side>``, each of
    ``cols`` as ``<col>_<side>``, ``keys`` unchanged."""
    return df.select(
        F.col(id_col).alias(f"id_{side}"),
        *[F.col(c).alias(f"{c}_{side}") for c in cols],
        *keys,
    )


def _bucket_self_join(
    keyed: DataFrame, id_col: str, keys: list[str], carry=()
) -> DataFrame:
    """Candidate pairs within ``keyed``: two rows sharing every one of
    ``keys`` give one row with ``id_a < id_b`` (no self-pairs), plus
    each ``carry`` column as ``<col>_a``/``<col>_b``. A pair sharing
    several buckets comes once per bucket; a NULL key never pairs (it
    is an equi-join). Capping, persisting or repartitioning ``keyed``
    and pair dedup are the caller's."""
    return (
        _id_side(keyed, id_col, "a", carry, keys)
        .join(_id_side(keyed, id_col, "b", carry, keys), keys)
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _bucket_probe_join(
    probe: DataFrame, corpus: DataFrame, id_col: str, keys: list[str]
) -> DataFrame:
    """Candidate pairs between ``probe`` rows and ``corpus`` rows sharing
    every one of ``keys``, oriented as ``id_a = least``, ``id_b =
    greatest``, self-pairs dropped — the incremental form, where the
    corpus contains the probe set. Pair dedup is the caller's."""
    return (
        _id_side(probe, id_col, "n", (), keys)
        .join(_id_side(corpus, id_col, "c", (), keys), keys)
        .filter(F.col("id_n") != F.col("id_c"))
        .select(
            F.least("id_n", "id_c").alias("id_a"),
            F.greatest("id_n", "id_c").alias("id_b"),
        )
    )


def _attach_both(
    pairs: DataFrame, per_id: DataFrame, id_col: str, cols: list[str]
) -> DataFrame:
    """Join ``per_id``'s ``cols`` onto ``pairs``: onto ``id_a`` as
    ``<col>_a``, then onto ``id_b`` as ``<col>_b`` (inner joins — a
    pair whose id is missing from ``per_id`` drops)."""
    return pairs.join(_id_side(per_id, id_col, "a", cols), "id_a").join(
        _id_side(per_id, id_col, "b", cols), "id_b"
    )


def _jaccard_verify(
    cands: DataFrame, base: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-verify stage shared by both pipelines: join the shingle
    arrays back onto the deduped candidate pairs (once per surviving
    side) and keep exact Jaccard ≥ threshold."""
    return (
        _attach_both(cands, base.select(id_col, "_sh"), id_col, ["_sh"])
        .withColumn("jaccard", jaccard(F.col("_sh_a"), F.col("_sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_candidates(
    df: DataFrame,
    threshold: float = 0.5,
    persist: bool = False,
    portable: bool = False,
    hot_bucket_cap: int | None = DEFAULT_HOT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate ``doc_id`` pairs (id_a < id_b, exact jaccard ≥
    threshold over the ``text`` column) —
    THE shared MinHash+LSH candidate pipeline: the near-dup listing, the
    decontamination audit, and the dedup-cluster edge set all consume
    this one function (round-2 verdict item 7).

    Plan: shingle → signature (scan-side) → explode bands → self equi-
    join on (band, band_hash) → distinct candidate pairs → exact Jaccard
    verify on the shingle arrays → threshold filter. The only shuffles
    are the band join and the distinct — both on uniform hash keys.
    ``hot_bucket_cap`` guards the self-join against degenerate buckets
    (see :func:`cap_hot_buckets`): a bucket of m docs emits m² pairs,
    so templated/boilerplate corpora need the cap at scale.

    ``persist=True`` caches the verified pair set so a session feeding
    MULTIPLE consumers (audit + clustering over the same corpus) runs
    shingling/banding/verification once; the default recomputes, which
    is what per-query bench isolation and one-shot callers want. The
    caller owns the unpersist.
    """
    base, banded = _minhash_base_and_bands(df, portable)
    banded = cap_hot_buckets(banded, ["_band", "_bh"], hot_bucket_cap)
    # Persist the capped band frame: BOTH self-join sides consume it,
    # and without materialization each side re-runs the cap's
    # exchange+sort+window (the r04 driver bench measured
    # split_contamination_audit 2.5→4.9 s from exactly that — the
    # broadcast build side above the window defeats ReusedExchange).
    # Rows are ~24 B (id, band, band-hash), so the cache is tiny
    # relative to the corpus; caller-owns-cleanup contract as with
    # ``base`` (clearCache per query in bench/verify, LRU otherwise).
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    cands = (
        _bucket_self_join(banded, "doc_id", ["_band", "_bh"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out = _jaccard_verify(cands, base, "doc_id", threshold)
    if persist:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits(hash_fn=None) -> Column:
    """SimHash of ``text`` as an array<int> of 64 sign bits: per-token
    xxhash64, majority vote per bit position. ``hash_fn`` swaps the
    token hash (e.g. text.md5_hash64 — 60 meaningful bits — for the
    oracle-paired twin; bits beyond the hash width vote all-negative
    on both engines, so the comparison stays exact).

    Single pass over the token-hash array: the fold accumulator is the
    whole 64-slot vote vector (``zip_with`` against a position sequence,
    ``getbit`` with a column position) — ~3.4× faster than folding the
    array once per bit, and still 100% JVM expressions.
    """
    h = hash_fn or F.xxhash64
    toks = F.split("text", " ")
    hashes = F.transform(toks, lambda t: h(t))
    positions = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        hashes,
        F.expr("array_repeat(0, 64)"),
        lambda acc, h: F.zip_with(
            acc, positions, lambda a, j: a + (F.getbit(h, j).cast("int") * 2 - 1)
        ),
    )
    return F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0))


def simhash_packed(hash_fn=None) -> Column:
    """SimHash of ``text`` packed into struct(h1, h2) — two 32-bit halves in longs.

    Pairwise work (joins, Hamming) should use this form: two longs ship
    through shuffles for free and Hamming is two ``bit_count`` XORs,
    vs dragging a 64-element array through every candidate pair.
    ``conv(binary-string)`` keeps each half ≤ 2^32, inside bigint range.
    """
    bits = simhash_bits(hash_fn=hash_fn)
    raw = F.concat_ws("", F.transform(bits, lambda b: b.cast("string")))

    def _with_s(s: Column) -> Column:
        # bind: h1 and h2 both reference the bit string — unbound, the
        # whole vote fold would run twice per row
        h1 = F.conv(F.substring(s, 1, 32), 2, 10).cast("bigint")
        h2 = F.conv(F.substring(s, 33, 32), 2, 10).cast("bigint")
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    return bind(raw, _with_s)


def hamming_packed(a: Column, b: Column) -> Column:
    return F.bit_count(a["h1"].bitwiseXOR(b["h1"])) + F.bit_count(
        a["h2"].bitwiseXOR(b["h2"])
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    hot_bucket_cap: int | None = DEFAULT_HOT_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-dup ``doc_id`` pairs over ``text`` via band blocking:
    with ``SIMHASH_BANDS`` bands over 64 bits, pigeonhole guarantees any
    pair with Hamming < ``SIMHASH_BANDS`` shares at least one exact band
    — so the verified Hamming ≤ 7 = ``SIMHASH_BANDS - 1`` is exhaustive.
    Bucket-join on (band_idx, band_value), verify exact Hamming. ``hot_bucket_cap``
    guards the self-join against degenerate buckets (boilerplate
    corpora hash-collide entire slices into one band value — m² join
    rows without the cap); capped buckets weaken the ≤ SIMHASH_BANDS - 1
    exhaustiveness guarantee only for pairs INSIDE dropped buckets,
    which the remaining bands can still pair."""
    band_bits = 64 // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    half_bands = 32 // band_bits
    # fan_out: the token-hash vote fold is the heavy stage. persist:
    # (id, 2×long) is ~24 B/row and feeds both self-join sides.
    base = (
        fan_out(df.select("doc_id", "text"))
        .select(F.col("doc_id"), simhash_packed().alias("_sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _band(i: int) -> Column:
        half = F.col("_sh.h1") if i < half_bands else F.col("_sh.h2")
        shift = (i % half_bands) * band_bits
        return F.shiftright(half, shift).bitwiseAND(F.lit(mask))

    bands = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _band(i).alias("v"))
            for i in range(SIMHASH_BANDS)
        ]
    )
    banded = base.select("doc_id", "_sh", F.explode(bands).alias("_b")).select(
        "doc_id", "_sh", F.col("_b.i").alias("_i"), F.col("_b.v").alias("_v")
    )
    banded = cap_hot_buckets(banded, ["_i", "_v"], hot_bucket_cap)
    return (
        _bucket_self_join(banded, "doc_id", ["_i", "_v"], ["_sh"])
        .withColumn("hamming", hamming_packed(F.col("_sh_a"), F.col("_sh_b")))
        .filter(F.col("hamming") <= 7)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    planes_tables: list[list[list[float]]] | None = None,
    int_scores: bool = False,
) -> DataFrame:
    """``vec_id`` pairs whose ``embedding`` cosine (dot for unit
    vectors) is ≥ threshold.

    With ``planes_tables``: SRP-LSH bucket self-join (scale path),
    scored with the 5× cheaper double fold; buckets over
    ``DEFAULT_HOT_BUCKET_CAP`` rows never pair (see
    :func:`cap_hot_buckets`). Without: full pair scoring
    with the decimal-exact dot — only for small/filtered inputs.
    ``int_scores=True`` scores either path with the integer-scaled
    BIGINT dot (int_scaled_dot — the r10 convention; the threshold
    compares as round(t·1e10) in the same scaled domain, so the filter
    is the exact integer image of ``score ≥ t``).
    """
    from technical_test_data_engineer_spark.operators.similarity import (
        exact_dot,
        fast_dot,
        int_scaled_dot,
        srp_signatures_batch,
    )

    if planes_tables:
        # ALL tables' signatures in one vectorized numpy pass (see
        # srp_signatures_batch), exploded to (table_idx, sig) rows →
        # ONE light self-join on (t, sig) instead of n_tables joins +
        # union; vectors are joined back only for the deduped pairs.
        # No persist: both join branches read one shuffle of the
        # signatures on the join key, which AQE reuses, so the Python
        # stage runs once and the join needs no shuffle of its own.
        sig_udf = srp_signatures_batch(planes_tables)
        bucketed = (
            fan_out(df.select("vec_id", "embedding"))
            .select(
                "vec_id", F.posexplode(sig_udf(F.col("embedding"))).alias("_t", "_s")
            )
            .repartition("_t", "_s")
        )
        # the cap's window reads the same (_t, _s) partitioning, so it
        # adds no exchange: a bucket of m near-identical vectors would
        # otherwise emit m² pairs on one task
        bucketed = cap_hot_buckets(bucketed, ["_t", "_s"], DEFAULT_HOT_BUCKET_CAP)
        # Pair-dedup placement depends on the scorer: re-scoring a pair
        # once per agreeing table (≤ n_tables×) costs a few extra
        # fast_dot folds — cheaper than the extra shuffle stage a
        # dropDuplicates on the full candidate set adds, so the fast
        # path dedups only the survivors below. The integer-scaled fold
        # (an interpreted zip_with rounding every element product to
        # BIGINT) costs far more per pair, so on that path the shuffle
        # is the cheap side and duplicates are dropped BEFORE scoring.
        cands = _bucket_self_join(bucketed, "vec_id", ["_t", "_s"]).select(
            "id_a", "id_b"
        )
        if int_scores:
            cands = cands.dropDuplicates(["id_a", "id_b"])
        cands = _attach_both(
            cands, df.select("vec_id", "embedding"), "vec_id", ["embedding"]
        )
    else:
        # stream side fanned out so the O(n²) scoring uses every core;
        # the build side stays as-is (it is broadcast whole).
        l = fan_out(_id_side(df, "vec_id", "a", ["embedding"]))
        r = _id_side(df, "vec_id", "b", ["embedding"])
        cands = l.crossJoin(F.broadcast(r)).filter(F.col("id_a") < F.col("id_b"))
    # the integer path compares in the scaled integer domain — same
    # predicate image, no float anywhere
    if int_scores:
        dot = int_scaled_dot
        thresh = F.lit(int(round(threshold * 1e10))).cast("bigint")
    else:
        dot = fast_dot if planes_tables else exact_dot
        thresh = F.lit(threshold)
    out = (
        cands.withColumn("score", dot(F.col("embedding_a"), F.col("embedding_b")))
        .filter(F.col("score") >= thresh)
        .select("id_a", "id_b", "score")
    )
    if planes_tables:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def band_table(df: DataFrame) -> DataFrame:
    """The light (doc_id, band, band-hash) relation of a (``doc_id``,
    ``text``) corpus on its own — what a production deployment STORES
    (≈ bands × 16 B per doc) instead of recomputing shingles +
    signatures from text per ingest."""
    sig = minhash_signature(word_shingles(SHINGLE_N))
    return minhash_band_rows(
        fan_out(df.select("doc_id", "text")), "doc_id", sig, NUM_HASHES, BANDS
    )


def materialize_band_table(
    df: DataFrame,
    name: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
    ingest_batch: int | None = None,
) -> None:
    """Persist the corpus band relation as a table BUCKETED on the band
    join keys — the storage layout that makes per-ingest dedup
    shuffle-free on the corpus side: every future candidate join against
    this table shuffles only the (small) new batch to the bucket
    layout, while the corpus bands are read in place (no Exchange above
    their scan — asserted in tests/test_dedup.py). Daily refresh is an
    append of the new batch's bands (mode="append").

    ``ingest_batch`` (streaming ingest-dedup loop, r12): when set, every
    row carries an ``_ingest_batch`` BIGINT column recording which
    foreachBatch wrote it — the data itself is the write ledger, which
    is what lets a replayed batch detect that its append already
    committed (``streaming.neardup.process_ingest_batch``) — and the
    table is additionally PARTITIONED on that column under the bucket
    layout, so each append lands in its own directory (one file per
    bucket per batch) and the replay's stamp probe is a directory
    prune, not a footer scan. The bucketed join stays shuffle-free
    across partitions. Extra columns never disturb the bucket layout
    (bucketing hashes only ``_band``/``_bh``) and every band consumer
    selects its columns explicitly. A table created WITHOUT the stamp
    cannot later be appended with it (parquet schema mismatch), so a
    loop-managed band table must pass ``ingest_batch`` from day 0 (-1
    for the initial backfill, by convention)."""
    from technical_test_data_engineer_spark.sources.parquet_source import (
        write_bucketed_table,
    )

    bands = band_table(df)
    partition_cols = None
    if ingest_batch is not None:
        bands = bands.withColumn(
            "_ingest_batch", F.lit(int(ingest_batch)).cast("bigint")
        )
        partition_cols = ["_ingest_batch"]
    write_bucketed_table(
        bands,
        name,
        ["_band", "_bh"],
        n_buckets=n_buckets,
        mode=mode,
        partition_cols=partition_cols,
    )


def incremental_candidates_vs_band_table(
    spark,
    table_name: str,
    new_docs: DataFrame,
    hot_bucket_cap: int | None = DEFAULT_HOT_BUCKET_CAP,
) -> DataFrame:
    """Candidate pairs (id_a < id_b, at least one side new) from the
    STORED band table: band the new batch (scan-side), join it against
    the bucketed corpus bands — the corpus side is never shuffled and
    never re-hashed from text. Output is candidates; exact-verify by
    joining shingles back (``_jaccard_verify``-style) downstream, where
    the text lives. The cap guards the same degenerate buckets as the
    in-memory path."""
    new_b = band_table(new_docs)
    corpus_b = spark.table(table_name)
    if hot_bucket_cap is not None:
        corpus_b = cap_hot_buckets(corpus_b, ["_band", "_bh"], hot_bucket_cap)
    return _bucket_probe_join(
        new_b, corpus_b, "doc_id", ["_band", "_bh"]
    ).dropDuplicates(["id_a", "id_b"])


def minhash_incremental_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.5,
    portable: bool = False,
    hot_bucket_cap: int | None = DEFAULT_HOT_BUCKET_CAP,
) -> DataFrame:
    """Incremental near-dedup: ``doc_id`` pairs (id_a < id_b, jaccard ≥ threshold)
    where AT LEAST ONE side is in ``new_docs`` — the daily-ingestion
    shape at corpus scale. Old-vs-old pairs are never generated: the
    band join is new-batch bands ⋈ full-corpus bands, so its cost is
    O(|new| × bucket-collision rate), not O(|corpus|²) — re-running the
    all-pairs pipeline per ingest is the thing that stops working first
    at 100 TB.

    ``corpus`` must CONTAIN ``new_docs`` (pass union(old, new) — ids
    unique across both). At scale the corpus side's (id, band, hash)
    relation is a stored table (≈ bands × 16 B per doc) refreshed by
    appending each batch's bands — that path is IMPLEMENTED:
    :func:`materialize_band_table` (bucketed on the band keys, so the
    per-ingest join never shuffles the corpus side) +
    :func:`incremental_candidates_vs_band_table`; here it is recomputed
    from text, the join shape is identical. The new-batch id set is broadcast (8 B per
    id — fine for any realistic ingest batch); band the new batch
    directly instead if it ever isn't. Deterministic for fixed seed.
    """
    base, banded = _minhash_base_and_bands(corpus, portable)
    # cap BEFORE deriving the new-batch side so both join inputs agree
    # on which buckets exist — a hot bucket is degenerate regardless of
    # which ingest batch its members arrived in
    banded = cap_hot_buckets(banded, ["_band", "_bh"], hot_bucket_cap)
    new_ids = new_docs.select(F.col("doc_id").alias("_nid")).distinct()
    new_b = banded.join(
        F.broadcast(new_ids), banded["doc_id"] == F.col("_nid")
    ).select("doc_id", "_band", "_bh")
    cands = _bucket_probe_join(
        new_b, banded, "doc_id", ["_band", "_bh"]
    ).dropDuplicates(["id_a", "id_b"])
    return _jaccard_verify(cands, base, "doc_id", threshold)


# ---------------------------------------------------------------------------
# semantic (cluster-scoped) dedup — SemDeDup
# ---------------------------------------------------------------------------


def centroid_sim_argmax(vec: Column, centroids: list[list[float]]) -> Column:
    """struct(csim, cluster) of the max-dot centroid for ``vec``,
    with K literal centroids evaluated JVM-side (K zip_with/aggregate
    folds per row — scan-side, no Python, no shuffle). Strict ``>`` in
    the argmax fold ⇒ the LOWEST cluster index wins ties, matching the
    oracle's ``ORDER BY csim DESC, cluster`` row_number. Callers pass
    L2-normalized centroids when they want cosine order (row norm is
    constant across a row's K comparisons, so normalizing the vector
    side is unnecessary for the argmax)."""
    entries = []
    for k, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        entries.append(F.struct(d.alias("csim"), F.lit(k).alias("cluster")))
    arr = F.array(*entries)
    return bind(
        arr,
        lambda a: F.aggregate(
            a,
            F.element_at(a, 1),
            lambda acc, x: F.when(x["csim"] > acc["csim"], x).otherwise(acc),
        ),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    exact_scores: bool = False,
    hot_cluster_cap: int | None = DEFAULT_HOT_BUCKET_CAP,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): cluster-scoped
    semantic dedup of (``vec_id``, ``embedding``) — assign every vector
    to its nearest centroid, score pairs only WITHIN a cluster, and for
    every pair above ``threshold`` drop the member with the HIGHER
    similarity to its centroid (the paper's policy: prototypical
    near-dups go, the outlier stays; ties drop the higher id). Returns
    the KEPT set as (id, cluster).

    vs the SRP-LSH near-dup path: buckets there are random sign
    patterns (recall is probabilistic per band); clusters here are
    semantic cells from a trained/seeded quantizer, so the pair scope
    is "things that mean the same", the granularity production
    semantic-dedup pipelines prune at.

    Scale: assignment is scan-side JVM expression work (K folds/row);
    the only shuffle is the cluster-key self-join. Within-cluster
    pairing is quadratic in cell size, so production sizes K ~ N/target
    (the same knob as IVF's ``adaptive_n_planes``) and
    ``hot_cluster_cap`` guards degenerate cells — the cap applies to
    the PAIRING relation only, never the universe, so capped-cell rows
    are still emitted as kept (they just aren't pruned; a production
    run logs the cells over the cap and re-clusters the slice with a
    larger K)."""
    from technical_test_data_engineer_spark.operators.similarity import (
        exact_dot,
        fast_dot,
    )

    assigned = fan_out(df.select("vec_id", "embedding")).select(
        F.col("vec_id"),
        F.col("embedding"),
        centroid_sim_argmax(F.col("embedding"), centroids).alias("_a"),
    ).select(
        "vec_id",
        "embedding",
        F.col("_a.cluster").alias("_c"),
        F.col("_a.csim").alias("_cs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pairable = cap_hot_buckets(assigned, ["_c"], hot_cluster_cap)
    dot = exact_dot if exact_scores else fast_dot
    pairs = (
        _bucket_self_join(pairable, "vec_id", ["_c"], ["embedding", "_cs"])
        .withColumn("_score", dot(F.col("embedding_a"), F.col("embedding_b")))
        .filter(F.col("_score") >= threshold)
    )
    drops = pairs.select(
        F.when(
            (F.col("_cs_a") > F.col("_cs_b"))
            | ((F.col("_cs_a") == F.col("_cs_b")) & (F.col("id_a") > F.col("id_b"))),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias("vec_id")
    ).distinct()
    return (
        assigned.join(drops, "vec_id", "left_anti")
        .select(F.col("vec_id"), F.col("_c").alias("cluster"))
    )
