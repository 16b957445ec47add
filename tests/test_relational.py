"""Unit tests for SURVEY.md §2.2 operators on tiny reference-shaped
frames (FIXTURES.md §B) — pinning the semantic edge cases the reference
repairs: null-interval fill, inclusive interval predicates."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators import relational as R


def _arretes(spark):
    rows = [
        (1, "2023-01-01", "2023-03-31", 2),
        (2, None, "2023-06-30", 1),          # null start → 1900 floor
        (3, "2023-05-01", None, 3),          # null end → horizon cap
        (4, "2023-08-15", "2023-08-15", 4),  # 1-day interval
    ]
    return spark.createDataFrame(
        rows, "id_zone long, debut string, fin string, numero_niveau int"
    )


def test_fill_interval_nulls(spark):
    df = R.fill_interval_nulls(_arretes(spark), "debut", "fin")
    got = {r.id_zone: (r.debut, r.fin) for r in df.collect()}
    assert got[2][0] == "1900-01-01"
    assert got[3][1] == "2024-12-31"
    assert got[1] == ("2023-01-01", "2023-03-31")


def test_point_in_interval_inclusive_both_ends(spark):
    df = R.fill_interval_nulls(_arretes(spark), "debut", "fin")
    df = df.withColumn("debut", F.to_date("debut")).withColumn("fin", F.to_date("fin"))
    # probe exactly on the 1-day interval's single day
    hit = R.point_in_interval(df, dt.date(2023, 8, 15))
    ids = {r.id_zone for r in hit.collect()}
    assert 4 in ids          # boundary day matches (inclusive)
    assert 3 in ids          # open-ended interval, now capped, contains it
    assert 1 not in ids
