"""The package's one Python crossing: Arrow in, Arrow out.

Every Python stage of a plan goes through one of three entry points, which
share one contract:

* columns come in as the batch's ``pa.Array`` s (``batch.column(name)``),
  or as their ``to_pylist()`` lists (``pylist`` for text and bytes);
* columns go out as sequences, numpy arrays or ``pa.Array`` s (a struct
  column also as a mapping of its fields), NaN and None as nulls, as a
  pandas UDF reads them;
* the output is built against the Arrow form of the declared Spark schema.

``map_batches`` runs on ``mapInArrow``, ``apply_groups`` on
``applyInArrow`` and ``text_udf`` on ``arrow_udf``. No pandas frame is built
on either side, which removes the conversion work around the UDF
(PAPERS.md, *Accelerating Python UDFs in Vectorized Query Execution*).
The one stage outside it is ``applyInPandasWithState`` in
``streaming/scrub_stream.py``: Spark has no Arrow-typed form of it with the
same state API.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type


def spark_type(t) -> T.DataType:
    """A DataType, or one parsed from a DDL string."""
    return t if isinstance(t, T.DataType) else T._parse_datatype_string(t)


def pylist(col: pa.Array) -> list:
    """A string or binary column's ``to_pylist()`` (nulls as None), converted
    in C++: ``to_pylist`` builds a scalar per value and costs about 7x as
    much on 10k texts."""
    return col.to_numpy(zero_copy_only=False).tolist()


def strings(values) -> list[str]:
    """``values`` as a list of ``str``, each non-``str`` (None, NaN) as ""."""
    return [v if isinstance(v, str) else "" for v in values]


def column(values, typ: pa.DataType) -> pa.Array:
    """``values`` as an Arrow array of type ``typ``."""
    if isinstance(values, pa.Array):
        return values if values.type == typ else values.cast(typ)
    if pa.types.is_struct(typ) and isinstance(values, Mapping):
        return pa.StructArray.from_arrays([column(values[f.name], f.type) for f in typ],
                                          fields=list(typ))
    return pa.array(values, type=typ, from_pandas=True)


def record_batch(columns: Mapping, schema: pa.Schema, batch: pa.RecordBatch) -> pa.RecordBatch:
    """One output batch of ``schema``: each field from ``columns``, or the
    input ``batch``'s own array of that name when ``columns`` lacks it."""
    return pa.RecordBatch.from_arrays(
        [column(columns[f.name], f.type) if f.name in columns else batch.column(f.name)
         for f in schema], names=schema.names)


def _schemas(schema) -> tuple[T.StructType, pa.Schema]:
    struct = spark_type(schema)
    return struct, to_arrow_schema(struct)


def map_batches(df, fn: Callable[[pa.RecordBatch], Mapping], schema):
    """``df.mapInArrow``: ``fn`` maps each input batch to the columns of one
    output batch of ``schema`` (a StructType or DDL string); a schema field
    ``fn`` leaves out passes through as the input batch's array."""
    struct, arrow = _schemas(schema)

    def run(batches):
        for b in batches:
            yield record_batch(fn(b), arrow, b)

    return df.mapInArrow(run, struct)


def apply_groups(grouped, fn: Callable[[pa.RecordBatch], Mapping], schema):
    """``grouped.applyInArrow``: ``fn`` maps each group, as one batch, to
    the columns of its output rows of ``schema``."""
    struct, arrow = _schemas(schema)

    def run(table: pa.Table) -> pa.Table:
        batch = pa.RecordBatch.from_arrays([c.combine_chunks() for c in table.columns],
                                           names=table.column_names)
        return pa.Table.from_batches([record_batch(fn(batch), arrow, batch)])

    return grouped.applyInArrow(run, struct)


def text_udf(fn: Callable[[list], object], return_type):
    """A column function over a string column: ``fn`` takes a batch's texts
    as a list of ``str`` (null as "") and returns a same-length column of
    ``return_type``."""
    rtype = spark_type(return_type)
    arrow = to_arrow_type(rtype)

    def run(texts: pa.Array) -> pa.Array:
        return column(fn(strings(pylist(texts))), arrow)

    return F.arrow_udf(run, rtype)
