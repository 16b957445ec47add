"""Bounded relations between Spark and the driver.

Driver-side work is allowed only on relations whose size is bounded by
construction (a dimension table, a calendar, a parameter grid, an
aggregate over such keys). These two primitives carry such relations
between Spark and the driver:

- ``collect_bounded`` fetches such a relation to the driver as one
  Arrow table, and fails loudly when the bound does not hold;
- ``local_frame`` turns driver-side rows back into a DataFrame through
  an Arrow table. ``spark.createDataFrame`` over a Python list ships
  pickled rows that every action re-reads through a Python worker
  (a 20-row frame, 4 cores: about 290 ms per action, vs about 30 ms
  from Arrow, where the JVM decodes the batches itself). The table is
  built here, so the path is the same whether or not the session
  enables Arrow.

Every fetch in the query, operator, source and service layers
(``plans/``, ``operators/``, ``sources/``, ``service.py``) goes through
``collect_bounded``; ``tests/test_reshape_functions.py`` scans those
layers for any other fetch call.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def collect_bounded(df: DataFrame, max_rows: int, label: str) -> pa.Table:
    """``df`` as an Arrow table of at most ``max_rows`` rows. Fetches
    ``limit(max_rows + 1)``: a relation past its bound moves one row
    more than the bound to the driver, never the whole relation, and
    raises a ``ValueError`` naming ``label``."""
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise ValueError(
            f"{label}: more than {max_rows} rows reached the driver — the "
            "relation is not bounded as its caller assumes"
        )
    return table


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame of the driver-side ``rows`` (tuples in ``schema``'s
    column order; ``schema`` a StructType or a DDL string), built from a
    ``pyarrow.Table``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [() for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
