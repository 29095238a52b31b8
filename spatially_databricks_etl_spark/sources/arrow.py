"""Frames the engine builds from rows it already holds on the driver
(a search's collected probe batch, a tokenizer round's merge pair, a
rank's partition offsets)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def arrow_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in field order, or ``dict`` records) as a frame
    typed exactly as ``schema`` (a ``StructType`` or a DDL string),
    built with ONE ``createDataFrame(pyarrow.Table)``. The plan is a
    local relation: collecting it runs no Spark job, and a job over it
    runs no Python worker, where ``createDataFrame(list)`` plans an RDD
    of pickled rows that every job over it deserialises in Python
    worker tasks. O(1) JVM calls per frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    records = [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)
