"""Avro source/sink — the row-oriented interop format (Kafka payloads,
schema-registry pipelines), completing the format matrix next to
parquet (native), ORC (columnar interop), CSV/JSON/XML (text).

Spark's Avro support lives in the EXTERNAL ``spark-avro`` module
(``org.apache.spark:spark-avro_2.13``) — deliberately not bundled with
the pyspark distribution, so an offline install like this container
does not have it. The functions below therefore probe once per session
and raise a clear, actionable error instead of Spark's opaque
"Failed to find data source: avro"; `tests/test_avro_source.py` runs
the full roundtrip/pushdown contract when the package IS present and
documents the skip when it isn't (same gating discipline as the
Pillow-optional multimodal decode).

Scale stance (applies when the module is deployed): Avro is a
row-format — no column pruning or predicate pushdown at the file
level, so it is the LANDING format, not the query format. The
production pattern is read_avro -> write parquet/ORC once, then query
columnar; this module intentionally exposes only scan and
full-replace-sink for that hand-off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_PROBED: bool | None = None


class AvroSupportMissing(RuntimeError):
    """Raised when the external spark-avro module is not deployed."""


def avro_available(spark: SparkSession) -> bool:
    """Probe for the external spark-avro data source (cached). Uses
    the DataSource lookup itself — the only authoritative check, since
    the module can arrive via --packages, --jars, or a vendor distro."""
    global _PROBED
    if _PROBED is None:
        try:
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsparkSession.sessionState().conf()
            )
            _PROBED = True
        except Exception:
            _PROBED = False
    return _PROBED


def _require(spark: SparkSession) -> None:
    if not avro_available(spark):
        raise AvroSupportMissing(
            "spark-avro is an external module: submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version> "
            "(unavailable in offline installs)."
        )


def write_avro(df: DataFrame, path: str) -> None:
    """Full-replace Avro sink (landing-zone hand-off shape)."""
    _require(df.sparkSession)
    df.write.format("avro").mode("overwrite").save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan. Self-describing (schema in the file header); row
    format, so expect no PushedFilters in the physical plan — convert
    to parquet/ORC before repeated analytical scans."""
    _require(spark)
    return spark.read.format("avro").load(path)
