"""Text-analysis operators for LLM-data pipelines (north-star §2.11):
tokenization, token stats, quality scoring, language ID, fingerprinting,
TF-IDF.

Everything is built-in-function-only (split/filter/transform/aggregate
— JVM-side, codegen'd). No Python touches row data: at 100 TB a
row-at-a-time Python tokenizer is the difference between hours and
weeks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.hof import bind
from technical_test_data_engineer_spark.operators.bounded import (
    collect_bounded,
    local_frame,
)

# Deterministic marker vocabularies for the heuristic language scorer.
# The test corpus is an engine-vocabulary word soup (FIXTURES.md), so
# these markers are drawn from it to exercise the scoring machinery;
# swap in real stopword lists (en: the/and/of…, fr: le/la/et…) for real
# corpora. Keys sorted — the argmax tiebreak is alphabetical.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["group", "merge", "window"],
    "en": ["the", "query", "data"],
    "es": ["table", "row", "scan"],
    "fr": ["join", "filter", "sort"],
    "zh": ["spark", "stream", "key"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenizer as a column expression (array<string>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def bpe_ish_tokens(col: str | Column = "text") -> Column:
    """BPE-ish subword proxy: split on word boundaries AND punctuation,
    keeping digits/word-pieces — a regex approximation of a learned
    tokenizer's segmentation for counting purposes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"[^A-Za-z0-9']+"), lambda t: t != F.lit(""))


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col)).cast("bigint")


def unique_token_count(col: str | Column = "text") -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("bigint")


def marker_hits(toks: Column, markers: list[str]) -> Column:
    """How many tokens fall in a marker vocabulary (JVM lambda filter)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("bigint")


def predicted_language(toks: Column) -> Column:
    """Argmax over per-language marker-hit scores; ties break to the
    alphabetically-first language (deterministic, matching the oracle's
    CASE cascade).

    r15: the token array and the per-language score struct are
    let-bound — the unbound CASE cascade referenced each score
    expression ~|langs| times and each score re-ran the tokenizer, so
    split() evaluated ~|langs|² times per row (HOF bodies are outside
    codegen and not CSE'd). Same CASE, same scores, same argmax."""

    def _with_toks(t: Column) -> Column:
        langs = sorted(LANG_MARKERS)
        score_struct = F.struct(
            *[
                marker_hits(t, LANG_MARKERS[lang]).alias(f"s{i}")
                for i, lang in enumerate(langs)
            ]
        )

        def _case(sc: Column) -> Column:
            cases = []
            for i, lang in enumerate(langs):
                cond = None
                for j, other in enumerate(langs):
                    if other == lang:
                        continue
                    c = sc[f"s{i}"] >= sc[f"s{j}"]
                    cond = c if cond is None else (cond & c)
                cases.append((cond, F.lit(lang)))
            expr = F.when(cases[0][0], cases[0][1])
            for cond, val in cases[1:]:
                expr = expr.when(cond, val)
            return expr

        return bind(score_struct, _case)

    return bind(toks, _with_toks)


def quality_columns(text_col: str = "text") -> list[Column]:
    """Quality-score battery: token count, mean token length, stopword
    ratio, distinct-token ratio. All exact-integer-derived doubles so
    cross-engine comparison is bit-stable."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("bigint")
    n_char = F.length(text_col).cast("bigint")
    return [
        n_tok.alias("n_tokens"),
        (n_char.cast("double") / n_tok).alias("avg_token_len"),
        (marker_hits(toks, STOPWORDS).cast("double") / n_tok).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "distinct_ratio"
        ),
    ]


def fingerprint(col: str | Column = "text") -> Column:
    """Deterministic document fingerprint (md5 hex) for exact-dup
    detection and stable sharding."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def head_fingerprint(col: str | Column = "text") -> Column:
    """Prefix fingerprint (md5 of the first 100 characters) —
    the cheap re-scrape detector: mirrored feeds and re-crawls share
    document HEADS while tails drift (timestamps, footers, ad blocks),
    so a head fingerprint clusters them where the full-text fingerprint
    sees distinct documents. Oracle twin: ``MD5(SUBSTR(text, 1, 100))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.substring(c, 1, 100))


def tokens_long(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Explode to one row per (doc, token) — the long-form input for
    TF-IDF and n-gram statistics."""
    return df.select(id_col, F.explode(tokens(text_col)).alias("term"))


def md5_hash64(c: Column) -> Column:
    """Engine-portable 60-bit integer hash (first 15 hex digits of md5)
    — the same convention as the train/val split and hash sampling.
    Slower than xxhash64 but reproducible in DuckDB
    (``CAST('0x' || SUBSTRING(MD5(s), 1, 15) AS BIGINT)``), which makes
    hash-dependent operators oracle-pairable."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_bucket(c: Column | str, n_buckets: int = 100) -> Column:
    """THE content-hash bucketing convention (first 8 hex digits of md5,
    mod ``n_buckets``): deterministic, engine-portable (DuckDB:
    ``CAST('0x' || SUBSTRING(MD5(s), 1, 8) AS BIGINT) % n``), and
    text-keyed so identical documents always land in the same bucket —
    the property the train/val split and hash-sampling queries rely on.
    Single definition so the split used by the contamination audit can
    never drift from the one used by the split queries."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint") % n_buckets


def adaptive_buckets(n: int, target_bucket: int = 64, floor: int = 16) -> int:
    """Bucket count sized so the EXPECTED bucket population stays about
    ``target_bucket`` as ``n`` grows: ``max(floor, n // target_bucket)``.

    The blocked-self-join discipline (negative sampling, record-linkage
    blocking) generates ~n²/(2B) candidate pairs; with a FIXED B that is
    still O(n²). Sizing B from a cheap count keeps per-bucket population
    — and therefore candidates-per-node — constant at any scale (the
    modulus twin of ``similarity.adaptive_n_planes``, which does the
    same for SRP-LSH plane counts). Engine-portable: the oracle computes
    the identical B via ``GREATEST(floor, CAST(FLOOR(COUNT(*)/target)
    AS BIGINT))`` in a scalar subquery."""
    return max(floor, n // target_bucket)


def winnow_fingerprints(
    text_col: str | Column = "text", k: int = 5, w: int = 4, hash_fn=None
) -> Column:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every ``k``-token shingle (rolling k-gram), then
    keep the minimum hash of every ``w``-wide window — guaranteeing any
    shared run of ≥ w+k-1 tokens between two documents shares a selected
    hash, at ~1/w the fingerprint density of full shingling.

    Pure JVM expressions: shingle hashes via transform+xxhash64, window
    minima via transform over a position sequence + slice + array_min,
    dedup via array_distinct. Scan-side only — no shuffle, no Python.
    Both the token array and the hash array are let-bound via ``bind``
    so each is evaluated once per row (unbound, the window-minima
    lambda re-derives the whole hash array per window — quadratic;
    measured 14× slower).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    h = hash_fn or F.xxhash64  # md5_hash64 for the oracle-paired twin

    def _with_toks(toks: Column) -> Column:
        n_sh = F.greatest(F.size(toks) - (k - 1), F.lit(1))
        idx = F.sequence(F.lit(1), n_sh)
        # slice+array_join, not element_at: ANSI-safe for docs < k tokens
        hashes = F.transform(
            idx, lambda i: h(F.array_join(F.slice(toks, i, k), " "))
        )

        def _with_hashes(h: Column) -> Column:
            n_win = F.greatest(F.size(h) - (w - 1), F.lit(1))
            wins = F.sequence(F.lit(1), n_win)
            return F.array_sort(
                F.array_distinct(
                    F.transform(wins, lambda i: F.array_min(F.slice(h, i, w)))
                )
            )

        return bind(hashes, _with_hashes)

    return bind(F.split(c, " "), _with_toks)


def token_ngrams(text_col: str | Column = "text", n: int = 2) -> Column:
    """ALL word n-grams in order, repeats kept (array<string>) — the
    counting form for repetition metrics, vs ``dedup.word_shingles``
    which dedups for set similarity. ANSI-safe slice+array_join grams;
    token array let-bound (split runs once per row)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def _with_toks(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))

    return bind(F.split(c, " "), _with_toks)


# audit patterns (PII-ish plumbing): keep the regex subset common to
# Java regex (Spark) and RE2 (DuckDB) — char classes, +, {m,}, no
# lookaround — so every count is oracle-checkable
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ ]+"
DIGIT_RUN_RE = r"[0-9]{6,}"


def pattern_count(text_col: str | Column, pattern: str) -> Column:
    """Occurrences of ``pattern`` in the text (vectorized JVM regex;
    the building block for PII audits / scrub decisions)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0))).cast(
        "bigint"
    )


def charclass_struct(text_col: str = "text") -> Column:
    """C4-style character-class ratios as ONE let-bound struct (r15):
    tokenizer and both regex filters evaluate once per row instead of
    once per referencing column (the list form ran split() 7× and each
    filter 2× per row). Fields: n_tokens, n_digit_tokens,
    n_symbol_tokens, digit_token_ratio, symbol_token_ratio."""

    def _with_toks(t: Column) -> Column:
        n_tok = F.size(t).cast("bigint")
        counts = F.struct(
            n_tok.alias("nt"),
            F.size(F.filter(t, lambda x: x.rlike(r"^[0-9]+$")))
            .cast("bigint")
            .alias("nd"),
            F.size(F.filter(t, lambda x: x.rlike(r"[^A-Za-z0-9]")))
            .cast("bigint")
            .alias("ns"),
        )

        def _ratios(c: Column) -> Column:
            return F.struct(
                c["nt"].alias("n_tokens"),
                c["nd"].alias("n_digit_tokens"),
                c["ns"].alias("n_symbol_tokens"),
                (c["nd"].cast("double") / c["nt"]).alias(
                    "digit_token_ratio"
                ),
                (c["ns"].cast("double") / c["nt"]).alias(
                    "symbol_token_ratio"
                ),
            )

        return bind(counts, _ratios)

    return bind(tokens(text_col), _with_toks)


def charclass_columns(text_col: str = "text") -> list[Column]:
    """C4-style character-class token ratios: digit-only tokens and
    tokens containing any non-alphanumeric symbol, as counts + ratios.
    Exact-int ÷ exact-int doubles, bit-stable across engines.
    (List-of-columns view of ``charclass_struct``.)"""
    c = charclass_struct(text_col)
    return [
        c[f].alias(f)
        for f in (
            "n_tokens",
            "n_digit_tokens",
            "n_symbol_tokens",
            "digit_token_ratio",
            "symbol_token_ratio",
        )
    ]


def token_chunks(
    text_col: str | Column = "text", chunk_size: int = 100, stride: int = 80
) -> Column:
    """Overlapping token-window chunks (array<string>): windows of
    ``chunk_size`` tokens every ``stride`` tokens — the chunking step
    before embedding/indexing long documents. Pure JVM expressions
    (sequence → slice → array_join); explode the result for one row per
    chunk. Chunks shorter than ``chunk_size`` appear only at the tail.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def _with_toks(toks: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
        )
        return F.transform(
            starts, lambda s: F.array_join(F.slice(toks, s, chunk_size), " ")
        )

    # bind: without it the slice lambda re-runs split() once per chunk
    return bind(F.split(c, " "), _with_toks)


# ---------------------------------------------------------------------------
# DSIR — importance-weighted data selection
# ---------------------------------------------------------------------------


def hashed_ngram_buckets(
    col: str | Column = "text", n_buckets: int = 1024
) -> Column:
    """Array of hashed-n-gram feature buckets (word unigrams + bigrams
    → ``md5_bucket`` ids): DSIR's feature space, built as one JVM
    expression — no UDF, no shuffle. Bigrams come from zipping the
    token array with its own tail; the engine-portable md5 bucket
    convention makes the feature space recomputable in the oracle."""
    toks = tokens(col)

    def _feats(t: Column) -> Column:
        bigrams = F.when(
            F.size(t) > 1,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bigrams)

    return F.transform(
        bind(toks, _feats), lambda s: md5_bucket(s, n_buckets)
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = 1024,
    target_predicate: Column | None = None,
) -> DataFrame:
    """DSIR (Xie et al., 2023, arXiv:2302.03169): score every raw doc
    by how target-like the hashed-n-gram distribution of its ``text`` is
    — the importance weight ``sum over features of ln(p_target /
    p_raw)`` with Laplace-smoothed bucket unigram models. Returns
    (``doc_id``, weight, n_feats); selection = top-k by weight (the
    paper adds Gumbel noise for sampled selection; deterministic top-k
    keeps the pipeline reproducible and oracle-checkable — inject noise
    at the caller if sampling is wanted).

    Scale: feature explode is scan-side; the two bucket-count aggs are
    partial+final over ≤ ``n_buckets`` groups; the log-ratio table is
    ≤ ``n_buckets`` rows → broadcast; per-doc scoring is one keyed agg.
    One 1-row ``collect_bounded`` fetch brings the two scalar totals
    to the driver. Per-feature log-ratios are rounded to 9dp and
    summed in DECIMAL so doc weights are order-independent and match
    the oracle despite libm-vs-JVM last-ulp differences (the
    doc_unigram_logprob convention).

    ``target`` may be an independent corpus (separate scan) or, when the
    target is a SLICE of ``raw``, pass ``target_predicate`` instead
    (e.g. ``F.col("lang") == "en"``): features are then exploded ONCE
    with the slice flag carried through, and BOTH bucket models come
    out of one grouped agg (conditional count) — so the whole model
    build is a single corpus pass, and scoring is the only other one.
    Totals for the smoothing denominators are summed from the
    PERSISTED ≤ ``n_buckets``-row model table, never by re-counting
    the corpus."""
    from pyspark import StorageLevel

    from technical_test_data_engineer_spark.operators.partitioning import fan_out

    if (target is None) == (target_predicate is None):
        raise ValueError("pass exactly one of target / target_predicate")
    if target_predicate is not None:
        feats_raw = fan_out(
            raw.select("doc_id", "text", target_predicate.alias("_tgt"))
        ).select(
            "doc_id",
            "_tgt",
            F.explode(hashed_ngram_buckets("text", n_buckets)).alias("_b"),
        )
        model = feats_raw.groupBy("_b").agg(
            F.count("*").alias("_rc"),
            F.count(F.when(F.col("_tgt"), 1)).alias("_tc"),
        )
    else:
        feats_raw = fan_out(raw.select("doc_id", "text")).select(
            "doc_id", F.explode(hashed_ngram_buckets("text", n_buckets)).alias("_b")
        )
        feats_tgt = fan_out(target.select("text")).select(
            F.explode(hashed_ngram_buckets("text", n_buckets)).alias("_b")
        )
        rc = feats_raw.groupBy("_b").agg(F.count("*").alias("_rc"))
        tc = feats_tgt.groupBy("_b").agg(F.count("*").alias("_tc"))
        model = rc.join(tc, "_b", "left").select(
            "_b", "_rc", F.coalesce(F.col("_tc"), F.lit(0)).alias("_tc")
        )
    # persist: the totals action below materializes the tiny model
    # table so the scoring plan reuses it instead of re-exploding the
    # corpus a third time
    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    totals = model.agg(F.sum("_rc"), F.sum("_tc"))
    n_raw, n_tgt = collect_bounded(totals, 1, "DSIR totals").to_pylist()[0].values()
    ratio = model.select(
        "_b",
        F.round(
            F.log(
                (
                    (F.col("_tc") + F.lit(1.0))
                    / F.lit(float(n_tgt + n_buckets))
                )
                / (
                    (F.col("_rc") + F.lit(1.0))
                    / F.lit(float(n_raw + n_buckets))
                )
            ),
            9,
        )
        .cast("decimal(20,9)")
        .alias("_lr"),
    )
    return (
        feats_raw.select("doc_id", "_b")
        .join(F.broadcast(ratio), "_b")
        .groupBy("doc_id")
        .agg(
            F.sum("_lr").cast("double").alias("weight"),
            F.count("*").alias("n_feats"),
        )
    )


# ---------------------------------------------------------------------------
# substring-level exact dedup — repeated k-gram spans
# ---------------------------------------------------------------------------


def positional_kgrams(
    col: str | Column = "text", k: int = 5
) -> Column:
    """Array of (1-based start position → k-token gram string) for every
    k-gram window in the doc — the POSITIONAL counterpart of
    ``word_shingles`` (which dedups and drops positions). Docs shorter
    than ``k`` tokens yield an empty array (no whole-text fallback: a
    span needs a real k-window). One JVM expression, scan-side."""
    toks = tokens(col)

    def _grams(t: Column) -> Column:
        return F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.array_join(F.slice(t, i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind(toks, _grams)


def repeated_kgram_spans(
    df: DataFrame,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact dedup primitive (Lee et al., 2022,
    arXiv:2107.06499 — suffix-array repeated-substring removal,
    re-expressed for a shuffle engine): find every maximal token span of
    ``text`` whose k-grams each occur ≥ ``min_count`` times across the
    corpus. Returns (``doc_id``, span_start, span_end, span_tokens),
    1-based inclusive token positions — the spans a cleaning pass would
    cut (the paper removes one occurrence's worth of each repeat;
    keeping WHICH occurrence is caller policy, same as the near-dup
    keeper split).

    Plan: positional k-grams explode scan-side; occurrence counting
    groups on the md5 of the gram (32-byte shuffle rows, never the
    text); repeated-gram hits join back (broadcast when the repeated
    set is small, AQE decides); per-doc span merge is one
    gaps-and-islands window (sort by position within doc) — overlap or
    adjacency (next start ≤ current end + 1) merges, since runs of
    consecutive repeated k-grams are one repeated substring."""
    from technical_test_data_engineer_spark.operators.partitioning import fan_out
    from pyspark.sql.window import Window

    grams = fan_out(df.select("doc_id", "text")).select(
        F.col("doc_id"),
        F.posexplode(positional_kgrams("text", k)).alias("_p0", "_g"),
    ).select(
        "doc_id",
        (F.col("_p0") + 1).alias("_pos"),
        F.md5(F.col("_g")).alias("_h"),
    )
    repeated = (
        grams.groupBy("_h")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_h")
    )
    hits = grams.join(repeated, "_h").select(
        "doc_id", "_pos", (F.col("_pos") + (k - 1)).alias("_end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = hits.withColumn("_prev_max", F.max("_end").over(w_prev)).withColumn(
        "_island",
        F.sum(
            F.when(
                F.col("_prev_max").isNull()
                | (F.col("_pos") > F.col("_prev_max") + 1),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("_pos").alias("span_start"),
            F.max("_end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def bpe_merge_pair_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide adjacent-symbol-pair frequencies — the statistic the
    first BPE merge step ranks (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units"): tokenizer training
    at character granularity, here over single characters so one pass
    yields the first merge table.

    Distributed shape (the part that matters at 100 TB): pairs are NOT
    generated per document occurrence. Stage 1 collapses the corpus to
    its VOCABULARY (groupBy word → count) — a keyed shuffle whose
    output is bounded by distinct-word count, orders of magnitude
    smaller than the token stream. Stage 2 generates character bigrams
    per DISTINCT word scan-side (``transform`` over an index
    ``sequence`` — no join, no Python) and weights each by the word's
    corpus count, so the final pair aggregation shuffles vocabulary-
    sized data only. Words shorter than 2 chars are filtered before
    pair generation (``sequence(1, 0)`` would descend).

    Returns (``pair`` string, ``n_occurrences`` bigint), unordered.
    """
    words = F.explode(bpe_ish_tokens(text_col)).alias("word")
    vocab = (
        df.select(words)
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    w = F.col("word")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.length(w) - 1),
        lambda i: w.substr(i, F.lit(2)),
    )
    return (
        vocab.select(F.explode(bigrams).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("n_occurrences"))
    )


def corpus_mix_rates(
    df: DataFrame,
    shares: dict[str, float],
    group_col: str = "lang",
) -> DataFrame:
    """Per-group keep-rates that rebalance a corpus to target mixture
    ``shares`` (the Pile/ROOTS corpus-mixing step: given weights per
    language/domain, downsample over-represented groups so the output
    matches the target distribution WITHOUT upsampling anything).

    The output size is maximized subject to rates ≤ 1: budget =
    min_g(n_g / share_g) — the scarcest group relative to its target
    binds, gets rate 1.0, and every other group is downsampled to
    budget·share_g rows. Two tiny aggregates (group counts, a 1-row
    min) — nothing corpus-sized moves.

    Returns (group, ``n_docs``, ``share``, ``rate``).
    """
    spark = df.sparkSession
    share_df = local_frame(
        spark, list(shares.items()), f"{group_col} string, share double"
    )
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    joined = counts.join(F.broadcast(share_df), group_col)
    budget = joined.agg(
        F.min(F.col("n_docs") / F.col("share")).alias("_budget")
    )
    return joined.crossJoin(F.broadcast(budget)).select(
        group_col,
        "n_docs",
        "share",
        F.least(
            F.lit(1.0), F.col("_budget") * F.col("share") / F.col("n_docs")
        ).alias("rate"),
    )


def corpus_mix_sample(
    df: DataFrame,
    shares: dict[str, float],
    group_col: str = "lang",
    text_col: str = "text",
    rates: DataFrame | None = None,
) -> DataFrame:
    """Apply ``corpus_mix_rates`` (or a precomputed ``rates`` frame —
    pass it when the caller also reports the rates, so the group-count
    aggregation runs once): keep each row iff its content-hash
    bucket falls under its group's rate — deterministic (same doc kept
    on every run/partitioning/engine, unlike ``sample()``), consistent
    with the md5-bucket convention every sampling/split/decontamination
    operator here shares, and executed as a broadcast-joined SCAN-SIDE
    filter: the corpus itself is never shuffled. Groups absent from
    ``shares`` are dropped (target weight zero)."""
    if rates is None:
        rates = corpus_mix_rates(df, shares, group_col)
    return df.join(
        F.broadcast(rates.select(group_col, "rate")), group_col
    ).filter(md5_bucket(text_col, 1_000_000) < F.col("rate") * 1_000_000)


def tfidf_cosine_neighbors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df_frac: float = 0.1,
) -> DataFrame:
    """Sparse-vector document similarity ("more like this"): top-k
    nearest neighbors per document under TF-IDF cosine, computed via an
    INVERTED-INDEX join rather than any all-pairs comparison — the
    sparse complement to the dense-embedding ANN family
    (operators/similarity.py).

    The per-doc rank orders on the cosine rounded to 12 decimals (the
    returned ``cos`` stays unrounded). A sub-ulp ``log()`` difference
    between engines can flip a near-tie neighbor ordering; ranking on
    a 12-dp-rounded score makes rank ties break identically on any
    engine that applies the same rounding (the DuckDB oracles do).

    Scale shape: candidate pairs are generated ONLY through shared
    terms (postings self-join on term), so the quadratic blowup lives
    per-term, bounded by df² — and the df cap (terms appearing in more
    than ``max_df_frac`` of docs are dropped) removes exactly the
    hot terms that would dominate the join while contributing the
    least IDF weight. This is the standard impact-ordered pruning
    trade: similarity is DEFINED over the pruned term space (norms are
    computed over the same kept terms, so cosine stays internally
    consistent, ≤ 1). tf/df/idf conventions match ``tfidf_top_terms``
    (idf = ln((N+1)/(df+1))).

    Returns (``doc_a``, ``doc_b``, ``cos``, ``rank``): for every doc
    with at least one candidate, its ≤k neighbors by descending
    cosine, id-ascending tiebreak.
    """
    tok = tokens_long(df, id_col, text_col)
    # persist the tf aggregate: FIVE consumers derive from it (df
    # counts, weights for norms and both join sides) and without
    # materialization each re-derives the corpus scan + tokenize +
    # shuffle — the audit measured 12 corpus scans for one query.
    # MEMORY_AND_DISK (persist default) keeps this safe when tf
    # outgrows executor memory; same convention as the q2/q11/q15/q20
    # persisted intermediates.
    # LIFETIME CONTRACT (engine-wide, for every plan-level persist):
    # the returned DataFrame is a lazy plan, so this function cannot
    # unpersist without defeating the reuse — the CALLER owns cleanup.
    # Both shipped harnesses run `spark.catalog.clearCache()` after
    # each query materializes (bench.py:163, verify_local.py:98);
    # long-lived sessions that skip that are still bounded because
    # MEMORY_AND_DISK blocks are LRU-evicted under memory pressure —
    # the leak degrades to disk spill, never to OOM.
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf")).persist()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.count()  # scalar to the driver; literal in the plan
    kept = dfreq.filter(F.col("df") <= int(n_docs * max_df_frac))
    idf = F.log(
        (F.lit(float(n_docs)) + F.lit(1.0))
        / (F.col("df").cast("double") + F.lit(1.0))
    )
    w = tf.join(F.broadcast(kept), "term").select(
        id_col, "term", (F.col("tf").cast("double") * idf).alias("w")
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    a = w.select(F.col(id_col).alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col(id_col).alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    sym = dots.unionByName(
        dots.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "dot",
        )
    )
    cos = (
        sym.join(
            norms.select(F.col(id_col).alias("doc_a"), F.col("norm").alias("na")),
            "doc_a",
        )
        .join(
            norms.select(F.col(id_col).alias("doc_b"), F.col("norm").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_a").orderBy(
        F.desc(F.round(F.col("cos"), 12)), F.asc("doc_b")
    )
    return (
        cos.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def redact_patterns(
    text_col: str | Column = "text",
    patterns: dict[str, str] | None = None,
) -> Column:
    """C4-style PII scrub as ONE column expression: each regex family
    is replaced by its placeholder tag, applied in deterministic
    (sorted-tag) order so engines and reruns agree byte-for-byte. Pure
    JVM expression — redaction at 100 TB is a scan-side rewrite, no
    shuffle, no Python. Patterns must stay in the Java-regex ∩ RE2 ∩
    DuckDB dialect subset (same constraint as ``pattern_count``).

    Default families: EMAIL/URL/NUM (the standard scrub trio).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if patterns is None:
        patterns = {
            "EMAIL": EMAIL_RE,
            "NUM": DIGIT_RUN_RE,
            "URL": URL_RE,
        }
    out = c
    for tag in sorted(patterns):
        out = F.regexp_replace(out, patterns[tag], f"<{tag}>")
    return out


def template_key(col: str | Column = "text") -> Column:
    """Structural (template-level) fingerprint: md5 of the text after
    lowercasing, mapping every digit to ``0``, collapsing whitespace
    runs, and trimming. Boilerplate that differs only in numbers, ids,
    timestamps, or spacing (receipts, log lines, templated product
    pages) collapses to one key — the cheap first pass a curation
    pipeline runs before fuzzy dedup, as one scan-side expression
    chain + one keyed groupBy (exact-dedup cost, near-dup recall on
    slot-varying templates).

    ASCII-equivalent regex classes (``[0-9]``, ``\\s``) keep the chain
    reproducible in DuckDB (``regexp_replace(..., 'g')``), so the
    md5 keys are oracle-checkable byte-for-byte."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(c), "[0-9]", "0"), "\\s+", " "
            )
        )
    )


def template_dup_clusters(df: DataFrame) -> DataFrame:
    """Group (``doc_id``, ``text``) documents by :func:`template_key`;
    emit one row per
    template with >1 member: (template_md5, n_docs, keep_id) where
    ``keep_id`` is the lowest member id (the deterministic keeper, the
    exact-dedup convention). One keyed shuffle of (32-byte key, id)
    rows — text never moves."""
    keyed = df.select(
        F.col("doc_id"), template_key("text").alias("template_md5")
    )
    return (
        keyed.groupBy("template_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def epoch_shard_plan(
    df: DataFrame,
    n_epochs: int,
    n_shards: int,
) -> DataFrame:
    """Deterministic multi-epoch shard plan for a training dataloader:
    epoch e assigns each (``doc_id``, ``text``) document to shard
    ``md5_bucket(text || ':' || e, n_shards)`` — a fresh pseudo-random
    but fully reproducible permutation per epoch (any worker can
    recompute its shard membership from the data alone, no shuffle
    files to ship). Emits one row per (epoch, shard) with the doc
    count, total whitespace tokens, and a BIT_XOR of the 60-bit doc
    hashes — an order-independent integrity checksum a resuming job
    can verify against without re-listing members. Cost: the epoch
    fan-out is scan-side (``explode`` of a literal range); one keyed
    shuffle of ~24-byte rows to the (epoch, shard) histogram."""
    e = F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1))).alias("epoch")
    fanned = df.select(
        F.col("doc_id"),
        token_count("text").alias("_ntok"),
        md5_hash64(F.col("text")).alias("_h64"),
        F.col("text").alias("_t"),
    ).select("*", e)
    assigned = fanned.select(
        # bigint to match the oracle's UNNEST(RANGE(...)) epoch type
        F.col("epoch").cast("bigint").alias("epoch"),
        md5_bucket(
            F.concat(F.col("_t"), F.lit(":"), F.col("epoch").cast("string")),
            n_shards,
        ).alias("shard"),
        "_ntok",
        "_h64",
    )
    return assigned.groupBy("epoch", "shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("total_tokens"),
        F.bit_xor("_h64").alias("checksum64"),
    )
