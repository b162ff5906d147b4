"""Plain-Python row rules as one Spark operator.

`map_rows` runs a function over each Arrow batch of a DataFrame as a
list of row dicts, in one `mapInArrow`: one Python exec node, whose
rules are ordinary functions over `str` that tests and the parity
plans call directly.
"""

from __future__ import annotations

from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema


def _batches(fn, schema: pa.Schema, batches):
    for batch in batches:
        yield pa.RecordBatch.from_pylist(fn(batch.to_pylist()), schema=schema)


def map_rows(df: DataFrame, fn, schema: pa.Schema) -> DataFrame:
    """`fn(rows) -> rows` over every batch of `df`. Output rows are typed
    by `schema`: a key it lacks is NULL, a key it does not name is
    dropped."""
    return df.mapInArrow(partial(_batches, fn, schema), from_arrow_schema(schema))


def extended(df: DataFrame, *fields: pa.Field) -> pa.Schema:
    """`df`'s columns as an Arrow schema, with `fields` appended."""
    schema = to_arrow_schema(df.schema)
    for f in fields:
        schema = schema.append(f)
    return schema
