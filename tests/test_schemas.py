"""Declared schemas vs reality: every STAR_SCHEMA declaration must
match the parquet footer (names, order, and types modulo the documented
timestamp handling) — catches fixture/declaration drift before it
surfaces as a confusing oracle mismatch. Plus empty-input robustness
for the expression-heavy operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.dedup import (
    minhash_candidates,
    simhash_near_dup_pairs,
)
from technical_test_data_engineer_spark.schemas import STAR_SCHEMA
from technical_test_data_engineer_spark.sources.parquet_source import load_table


def test_declared_schemas_match_parquet(spark, sf_dir):
    for name, declared in STAR_SCHEMA.items():
        actual = load_table(spark, sf_dir, name).schema
        assert [f.name for f in actual] == [f.name for f in declared], name
        for fa, fd in zip(actual, declared):
            # events.ts: TIMESTAMP(NANOS) surfaces per session conf and
            # is normalized by the loader — type equivalence is handled
            # there; everything else must match exactly
            if name == "events" and fa.name == "ts":
                assert fa.dataType.typeName() in ("timestamp", "timestamp_ntz", "long"), fa
                continue
            assert fa.dataType == fd.dataType, f"{name}.{fa.name}: {fa.dataType} != {fd.dataType}"


def test_minhash_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_candidates(df).count() == 0


def test_simhash_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_near_dup_pairs(df).count() == 0


def test_single_doc_no_pairs(spark):
    df = spark.createDataFrame([(1, "only one document here")], "doc_id long, text string")
    assert minhash_candidates(df).count() == 0
    assert simhash_near_dup_pairs(df).count() == 0
