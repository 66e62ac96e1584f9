"""Schema-pinned pandas output frames for the package's Arrow emitters.

Every ``mapInPandas``, ``applyInPandas`` and ``applyInPandasWithState``
body in the package builds its output frame here, and this module alone
maps a Spark type to a pandas dtype. A batch whose Python loop emits
zero rows (or only None cells) would otherwise let pandas infer float64
or object for a column the schema declares long, string or array, and
Arrow then throws at runtime, only on the data shapes that produce such
a batch (round 11: winnow passed the full gate and failed on an
all-short-docs table).

- ``frame_maker(schema)`` returns ``build(*columns)`` for batch-level
  and grouped emitters: one column per schema field, in schema order.
- ``map_rows(df, row_fn, schema)`` is the per-row form: a
  ``mapInPandas`` whose ``row_fn`` turns each input row into zero or
  more output tuples.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructType

# pandas dtype per Spark simpleString; every other type is an object column
_PANDAS_DTYPES = {"bigint": "int64", "int": "int32", "double": "float64", "float": "float32"}


def frame_maker(schema: str | StructType) -> Callable[..., pd.DataFrame]:
    """``build(*columns)`` turns one sequence per field of ``schema`` (a
    DDL string or ``StructType``, parsed here, on the driver) into a frame
    with every column pinned to its declared dtype. A numpy array of the
    column's dtype passes through without a list round trip or a copy;
    ``build()`` with no columns is the empty frame. A value that does not
    fit its column (a None in a long column, 2^31 in an int column)
    raises ``ValueError`` naming the column."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    fields = [
        (f.name, f.dataType.simpleString(), _PANDAS_DTYPES.get(f.dataType.simpleString(), object))
        for f in schema.fields
    ]

    def column(name: str, ddl: str, dtype, values) -> pd.Series:
        try:
            return pd.Series(values, dtype=dtype)
        except (TypeError, ValueError, OverflowError) as e:
            raise ValueError(f"column {name!r} does not fit {ddl}: {e}") from e

    def build(*columns) -> pd.DataFrame:
        columns = columns or ((),) * len(fields)
        return pd.DataFrame(
            {
                name: column(name, ddl, dtype, values)
                for (name, ddl, dtype), values in zip(fields, columns, strict=True)
            },
            copy=False,
        )

    return build


def map_rows(df: DataFrame, row_fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """Arrow row map: ``row_fn`` gets each row of ``df`` as positional
    values (in column order) and yields zero or more output tuples in
    ``schema`` order; each batch's tuples become one ``frame_maker``
    frame. Works on streaming frames too (a stateless map). The DDL is
    parsed once, when the operator is called, not per batch."""
    out_schema = DataType.fromDDL(schema)
    build = frame_maker(out_schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield build(
                *zip(*[out for row in pdf.itertuples(index=False, name=None) for out in row_fn(*row)])
            )

    return df.mapInPandas(run, schema=out_schema)
