"""Driver-side frames built in the JVM.

Classic PySpark turns ``spark.createDataFrame(<python rows>, schema)``
into ``parallelize`` → ``PythonRDD`` → ``applySchemaToPythonRDD``, so
every action over even a one-row frame runs a job on Python workers.
``local_frame`` instead converts the data to a ``pyarrow.Table`` under
the exact Spark schema and hands it to the JVM, where it becomes a
``LocalRelation`` (an RDD of Arrow batches past
``spark.sql.execution.arrow.localRelationThreshold``): no Python
worker, whatever ``spark.sql.execution.arrow.pyspark.enabled`` says.

This is the engine's only ``createDataFrame`` call site
(``tests/test_local_frame.py`` enforces that).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession,
                data: Sequence[Sequence[Any]] | Mapping[str, Any],
                schema: StructType | str) -> DataFrame:
    """Small driver-side frame with exactly ``schema``.

    ``data`` is either row tuples in schema order or a mapping of
    column name → values (list, numpy array or ``pyarrow.Array``), the
    cheap form for large numeric columns.  ``schema`` is a
    ``StructType`` or a DDL string (``"k long, v string"``, every
    field nullable).  Names, order, types and nullability come from
    ``schema``; a NULL in a non-nullable field is refused, as the
    row path's schema verification does.  Timestamps should be
    timezone-aware: Arrow reads a naive ``datetime`` as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True)
    if isinstance(data, Mapping):
        columns = [data[f.name] for f in schema.fields]
    else:
        rows = list(data)
        columns = (list(zip(*rows)) if rows
                   else [[] for _ in schema.fields])
    arrays = []
    for field, col in zip(arrow_schema, columns):
        arr = (col.cast(field.type)
               if isinstance(col, (pa.Array, pa.ChunkedArray))
               else pa.array(col, type=field.type))
        if not field.nullable and arr.null_count:
            raise ValueError(f"field {field.name}: NULL in a "
                             "non-nullable column")
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
