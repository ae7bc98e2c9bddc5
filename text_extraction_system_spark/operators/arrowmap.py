"""The one door from a DataFrame into a row-producing Python kernel.

``map_batches`` is the package's only ``mapInArrow`` call, and every
row-producing Python kernel runs through it. A kernel is a function from
the iterator of a partition's input ``pa.RecordBatch``es to an iterator of
``{column: list | np.ndarray | pa.Array}`` dicts. The helper:

* resolves the output schema (a DDL string or a ``StructType``) once, when
  the plan is built, into the Spark schema handed to ``mapInArrow`` and the
  Arrow schema the Python workers build against;
* drops zero-row input batches, so no kernel needs an empty-batch branch;
* turns each yielded dict into a ``RecordBatch`` with the declared column
  order. Lists and numpy arrays are converted with the field's Arrow type,
  so an empty list is a typed empty column and an out-of-range numpy
  integer raises instead of wrapping. ``pa.Array`` values pass through
  zero-copy: their type is the kernel's contract, and the JVM rejects a
  column whose physical type differs from the declared field when it
  reads it.

The kernel sees the whole iterator, not one batch per call, so kernels
that accumulate across batches (the partial top-k scorers in
``similarity``) can yield once at the end of the partition.

``values`` and ``rows`` read input columns as Python values for per-row
logic; ``vectors`` reads a fixed-length ``list<number>`` column as one
``(n, dim)`` array without a per-row Python loop.

Outside this helper stay the four scalar ``pandas_udf`` column
expressions (``structure.with_structure``, ``readorder_op``'s
reconstruction and the two in ``deskew_op``) and the streaming
``applyInPandasWithState`` sessionizer: ``mapInArrow`` maps whole rows to
rows, with no column-expression form a ``select`` can embed and no per-key
state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

Columns = dict[str, list | np.ndarray | pa.Array]
Kernel = Callable[[Iterator[pa.RecordBatch]], Iterator[Columns]]


def map_batches(df: DataFrame, kernel: Kernel, schema: str | T.StructType) -> DataFrame:
    """Run ``kernel`` over ``df``'s Arrow batches; rows out per ``schema``."""
    spark_schema = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    arrow_schema = to_arrow_schema(spark_schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for cols in kernel(b for b in batches if b.num_rows):
            yield record_batch(cols, arrow_schema)

    return df.mapInArrow(run, schema=spark_schema)


def record_batch(cols: Columns, schema: pa.Schema) -> pa.RecordBatch:
    """One kernel output dict as a ``RecordBatch`` in ``schema``'s order."""
    if cols.keys() != set(schema.names):
        raise ValueError(
            f"kernel yielded columns {sorted(cols)}, schema has {schema.names}"
        )
    return pa.RecordBatch.from_arrays(
        [_column(cols[f.name], f.type) for f in schema], names=schema.names
    )


def _column(data, arrow_type: pa.DataType) -> pa.Array:
    return data if isinstance(data, pa.Array) else pa.array(data, type=arrow_type)


def values(batch: pa.RecordBatch, name: str) -> np.ndarray:
    """One column as Python values, converted the way pandas converts them
    (strings and bytes as themselves, nulls as None, lists as numpy arrays,
    structs as dicts) by Arrow's C++ converter. ``Array.to_pylist`` builds
    a scalar object per value: with pyarrow 16 on a 4-core x86 host it was
    about 15x slower on an 8192-row string column and 8x slower on a
    ``list<struct>`` one."""
    return batch.column(name).to_numpy(zero_copy_only=False)


def rows(batch: pa.RecordBatch, *names: str) -> Iterator[tuple]:
    """Row tuples of the named columns, each converted as by ``values``."""
    return zip(*(values(batch, n) for n in names))


def vectors(col: pa.Array, dtype: type = np.float64) -> np.ndarray:
    """A ``list<number>`` column of equal-length rows as an ``(n, dim)``
    ``dtype`` array: one flatten and reshape. Ragged or null rows raise."""
    lens = np.diff(col.offsets.to_numpy())
    if col.null_count or (len(lens) and (lens != lens[0]).any()):
        raise ValueError(
            f"vector column is ragged or has null rows: lengths "
            f"{lens.min()}..{lens.max()}, {col.null_count} null"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return flat.reshape(len(col), int(lens[0]) if len(lens) else 0)
