"""XML source/sink (engine breadth beyond the reference's CSV/GeoJSON
ingest, same S-family contract as the ORC extension).

Spark 4 ships the XML data source built-in (the former spark-xml
package merged upstream), so feed-style XML — the other common
open-data interchange format next to CSV/JSON — reads as a parallel
scan with the same malformed-row surface as the CSV source
(PERMISSIVE + corrupt-record column / DROPMALFORMED / FAILFAST).

Avro note: Spark's Avro module is external (``spark-avro`` jar, not on
this distribution's classpath), so no Avro helper ships here — a
deploy that needs it adds ``--packages org.apache.spark:spark-avro``
and uses plain ``spark.read.format("avro")``; nothing engine-side
depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    **options: str,
) -> DataFrame:
    """Parallel XML scan: one DataFrame row per ``row_tag`` element.

    Schema declared when known (single pass); inferred otherwise (an
    extra pass — exploration only, same policy as ``read_csv``).
    ``mode`` mirrors the CSV malformed-row contract: PERMISSIVE keeps
    bad rows with a ``_corrupt_record`` column (add it to a declared
    schema to retain the raw text for quarantine), DROPMALFORMED
    silently drops, FAILFAST raises.
    """
    opts = {"rowTag": row_tag, "mode": mode, **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        return reader.schema(schema).format("xml").load(path)
    return reader.format("xml").load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str,
    **options: str,
) -> None:
    """Full-replace XML write under a ``rows`` root tag (one file part
    per partition, standard distributed-sink layout), matching the
    parquet/ORC/JDBC replace semantics of the S2 family."""
    (
        df.write.options(rowTag=row_tag, rootTag="rows", **options)
        .mode("overwrite")
        .format("xml")
        .save(path)
    )
