"""Driver-local rows as a Spark frame: the one way this package turns a
Python list of tuples or `Row`s into a DataFrame.

`spark.createDataFrame(<list>, schema)` pickles the rows into a Python RDD
of `defaultParallelism` partitions, so every job over the frame starts
Python workers to unpickle a handful of rows. Here the rows become a
`pyarrow.Table` in the schema's Arrow types on the driver, and
`createDataFrame(table, schema)` ships it to the JVM as Arrow batches: the
plan is a `LocalTableScan` (a `LocalRelation` that Catalyst can also fold
and broadcast) and no Python worker starts.

Values convert exactly as the list path converts them: ints into the
declared integral width, NaN stays NaN (not null), None is null, lists are
arrays, `Decimal`s keep their digits, and a naive `datetime` in a
`timestamp` column is local wall-clock time (as `time.mktime` reads it),
which is also what `DataFrame.collect()` returns, so
`local_rows(spark, df.collect(), df.schema)` copies `df` exactly.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _struct(schema: T.StructType | str) -> T.StructType:
    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    if not isinstance(struct, T.StructType):
        raise TypeError(f"schema {schema!r} is not a struct")
    return struct


def _utc(v):
    # a naive datetime is local wall-clock time, as on the list path
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.astimezone(_dt.timezone.utc)
    return v


def local_rows(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """A DataFrame of `rows` (tuples or `Row`s, positional in `schema`'s
    field order) planned as a `LocalTableScan`. `schema` is a StructType
    or a DDL string such as `"node long, dist double"`."""
    struct = _struct(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    width = len(struct.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(f"row {r!r} has {len(r)} fields; schema has {width}")
    columns = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for field, values, at in zip(struct.fields, columns, arrow_schema.types):
        if isinstance(field.dataType, T.TimestampType):
            values = [_utc(v) for v in values]
        arr = pa.array(values, type=at, from_pandas=False)
        if not field.nullable and arr.null_count:
            raise ValueError(f"field {field.name} is not nullable but has a null")
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
