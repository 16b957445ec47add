"""Round-6 text operators: template-level dedup and the deterministic
epoch shard plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.text import (
    epoch_shard_plan,
    template_key,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_template_key_collapses_digits_case_whitespace(spark):
    """Slot-varying boilerplate (ids, amounts, spacing, case) shares a
    key; genuinely different text does not."""
    df = _docs(
        spark,
        [
            (1, "Order 123 shipped to   Bob, total $45.10"),
            (2, "order 987 SHIPPED to bob, Total $02.99"),
            (3, "order cancelled by bob"),
        ],
    )
    keys = {r.doc_id: r.k for r in df.select("doc_id", template_key().alias("k")).collect()}
    assert keys[1] == keys[2]
    assert keys[1] != keys[3]


def test_epoch_shards_deterministic_and_partition_independent(spark):
    """The shard plan is a pure function of (text, epoch): re-running
    and re-partitioning must reproduce every count and checksum —
    the property a resuming dataloader depends on."""
    rows = [(i, f"doc number {i} with words " + "w " * (i % 7)) for i in range(60)]
    df = _docs(spark, rows)
    a = {
        (r.epoch, r.shard): (r.n_docs, r.total_tokens, r.checksum64)
        for r in epoch_shard_plan(df, 2, 4).collect()
    }
    b = {
        (r.epoch, r.shard): (r.n_docs, r.total_tokens, r.checksum64)
        for r in epoch_shard_plan(df.repartition(7), 2, 4).collect()
    }
    assert a == b
    assert sum(v[0] for k, v in a.items() if k[0] == 0) == 60
    # different epochs really are different permutations
    shard_of_epoch = lambda e: {  # noqa: E731
        k[1]: v[2] for k, v in a.items() if k[0] == e
    }
    assert shard_of_epoch(0) != shard_of_epoch(1)


def test_epoch_shards_checksum_detects_membership_drift(spark):
    """Dropping one document flips its shard's checksum and count but
    leaves every other (epoch, shard) cell untouched — the integrity
    property the trainer verifies against."""
    rows = [(i, f"text body {i}") for i in range(40)]
    df = _docs(spark, rows)
    full = {
        (r.epoch, r.shard): (r.n_docs, r.checksum64)
        for r in epoch_shard_plan(df, 1, 4).collect()
    }
    dropped = {
        (r.epoch, r.shard): (r.n_docs, r.checksum64)
        for r in epoch_shard_plan(df.filter(F.col("doc_id") != 17), 1, 4).collect()
    }
    changed = {k for k in full if full[k] != dropped.get(k)}
    assert len(changed) == 1


def test_zipf_slope_on_planted_power_law(spark, tmp_path):
    """Planted exact power law (term_r repeated round(1000/r) times,
    one doc): the log-log fit must recover slope ~ -1 with r2 ~ 1;
    the random fixture's flatter slope is asserted only for sign."""
    from technical_test_data_engineer_spark.plans.text_queries import (
        vocab_zipf_slope,
    )

    words = []
    for r in range(1, 51):
        words += [f"t{r:03d}"] * round(1000 / r)
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "s", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = vocab_zipf_slope(spark, str(tmp_path)).collect()[0]
    assert out.vocab_size == 50
    assert abs(out.zipf_slope + 1.0) < 0.02
    assert out.r2 > 0.999

    real = vocab_zipf_slope(spark, "/root/testdata/sf0.01").collect()[0]
    assert real.zipf_slope < 0  # frequencies fall with rank, always


def test_readability_hand_computed(spark, tmp_path):
    """'the cat sat. it ran fast!' -> 6 words, 2 sentences, 6 vowel
    groups: flesch = 206.835 - 1.015*3 - 84.6*1 = 119.19."""
    from technical_test_data_engineer_spark.plans.text_queries import (
        doc_readability,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat. it ran fast!", "en", "s", 25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = doc_readability(spark, str(tmp_path)).collect()[0]
    assert (out.n_words, out.n_sentences, out.n_syllables) == (6, 2, 6)
    assert abs(out.flesch_score - 119.19) < 1e-6
