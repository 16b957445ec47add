"""Streaming sources.

File-based streams (parquet/CSV/JSON directories) are the engine's
bridge from the reference's "re-download the whole CSV on refresh"
model (/root/reference/tasks/scraper/src/scraper.py:13-17) to
incremental processing: drop new files in the directory and only the
new files are read. Streaming scans REQUIRE a declared schema — there
is no inferSchema on an unbounded source, which is also our §7 Phase 5
rule for batch at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Engine-written event files carry a real timestamp column.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open ``path`` (a directory of parquet files, or a glob) as an
    unbounded stream of events read with ``EVENTS_STREAM_SCHEMA``.

    ``max_files_per_trigger`` caps each micro-batch — the backpressure
    knob when catching up on a large backlog.
    """
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
