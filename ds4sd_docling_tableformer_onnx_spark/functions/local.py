"""Driver-built frames as local relations.

``createDataFrame`` on a Python list plans as ``Scan ExistingRDD``: every
action that reads the frame runs Python tasks to re-serialize the rows.
Built from a ``pyarrow.Table`` the rows reach the JVM once and plan as
``LocalTableScan``, with the same schema (nullability included) and the
same rows.
"""

from __future__ import annotations


def local_frame(spark, rows, schema):
    """``rows`` (tuples in ``schema`` order) as a ``LocalTableScan`` frame;
    ``schema`` is a DDL string or a ``StructType``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    # converted types (timestamps, dates) enter as the list path's internal
    # values: a naive datetime is local time there but UTC to Arrow
    columns = [
        [f.dataType.toInternal(v) for v in values] if f.dataType.needConversion() else values
        for values, f in zip(columns, struct.fields)
    ]
    table = pa.Table.from_arrays(
        [pa.array(values, type=field.type) for values, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
