"""Driver-side rows as first-class relations in the plan.

Operators and builders often end a driver-side step with a handful of rows
that go back into a query: a power iteration's ranks, k-means centroids, a
dimension literal, a snapshot's metadata listing. ``local_frame`` is the one
way to turn them into a DataFrame.

It ships the rows to the JVM as one Arrow table. Spark keeps that as a
``LocalRelation``: it plans as ``LocalTableScan`` with exact size statistics
(so joins against it broadcast by size, not by guess), and no Python worker
ever runs for it. A Python list handed to ``createDataFrame`` instead becomes
``parallelize`` + ``applySchemaToPythonRDD`` (``Scan ExistingRDD``): every
action over the frame starts Python workers to unpickle the rows again, and
the optimizer sees an RDD of unknown size. On 4 cores, the 25 rank rows
of ``nation_trade_pagerank`` cost 0.84–0.93 s of Python-worker CPU per
run as a list frame and none as an Arrow table.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A DataFrame of ``rows`` (tuples in ``schema``'s field order) that
    plans as ``LocalTableScan``.

    ``schema`` is a DDL string (``"node bigint, r double"``) or a
    ``StructType``. Values are converted strictly by Arrow: an int where a
    double is declared is widened, but a value that does not fit its column
    (a float in a bigint column, an out-of-range int, a ragged row, a null
    in a non-nullable field) raises instead of being coerced. Naive
    ``datetime`` values are read as UTC, the engine's session time zone.
    """
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    if len(cols) != len(arrow_schema):
        raise ValueError(f"rows have {len(cols)} fields, schema has {len(arrow_schema)}")
    arrays = [_column(c, f.type) for c, f in zip(cols, arrow_schema)]
    for a, f in zip(arrays, arrow_schema):
        if not f.nullable and a.null_count:
            raise ValueError(f"null in non-nullable field {f.name!r}")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), struct)


def _column(values: Sequence, typ: pa.DataType) -> pa.Array:
    """One column as ``typ``. Arrow's typed conversion truncates a float
    into an integer column (1.5 -> 1), so integer columns, and arrays of
    integers, are inferred first: a float anywhere infers a floating type
    and raises here; the safe cast to ``typ`` raises on overflow."""
    leaf = typ
    while pa.types.is_list(leaf):
        leaf = leaf.value_type
    if not pa.types.is_integer(leaf):
        return pa.array(values, type=typ)
    arr = pa.array(values)
    got = arr.type
    while pa.types.is_list(got):
        got = got.value_type
    if not (pa.types.is_integer(got) or pa.types.is_null(got)):
        raise TypeError(f"{got} values in a {typ} column")
    return arr.cast(typ)
