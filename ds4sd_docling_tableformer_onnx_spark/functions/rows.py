"""The row worker: one output row per input row, for every per-row
Python stage (extraction, boilerplate strip, reading order, tensor prep,
table decode).

A stage declares its output once, as ``(name, Arrow type, error value)``
triples in column order; the Arrow build and the Spark schema both come
from that declaration.  The stage's row function takes the values of its
``inputs`` columns and returns the values of every declared column not
in ``keep``, in declaration order.  ``keep`` columns pass through from
the input batch, cast to their declared type, so their error value is
never used.

Per-row isolation: the row is built completely before it is appended,
so an exception anywhere in the row function yields exactly one row of
the declared error values (``err``, when declared, carries the
exception text) and never desyncs the column lengths or fails the task.
The cyclic GC is suspended for the task (functions/gcctl.py).
"""

from __future__ import annotations


def spark_schema(columns):
    """The Spark schema of a ``(name, Arrow type, error value)`` declaration."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pa.schema([(name, type_) for name, type_, _ in columns]))


def map_rows(df, keep, inputs, columns, row_fn):
    """``df`` through the row worker as one narrow mapInArrow stage, for
    stages whose row function needs no per-task setup."""
    from functools import partial

    return df.mapInArrow(
        partial(row_batches, keep=keep, inputs=inputs, columns=columns, row_fn=row_fn),
        schema=spark_schema(columns),
    )


def row_batches(batches, keep, inputs, columns, row_fn):
    """Arrow batches -> Arrow batches of ``columns``, one row per input row."""
    import pyarrow as pa

    from .gcctl import suspended_gc

    schema = pa.schema([(name, type_) for name, type_, _ in columns])
    filled = [(name, error_value) for name, _, error_value in columns if name not in keep]
    with suspended_gc():
        for batch in batches:
            lists = [[] for _ in filled]
            for values in zip(*(batch.column(name).to_pylist() for name in inputs)):
                try:
                    row = row_fn(*values)
                except Exception as exc:  # per-row isolation
                    err = f"{type(exc).__name__}: {exc}"[:500]
                    row = [err if name == "err" else value for name, value in filled]
                for column, value in zip(lists, row):
                    column.append(value)
            by_name = dict(zip((name for name, _ in filled), lists))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(name).cast(type_)
                    if name in keep
                    else pa.array(by_name[name], type_)
                    for name, type_, _ in columns
                ],
                schema=schema,
            )
