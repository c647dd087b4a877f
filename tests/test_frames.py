"""frames.local_frame: driver-side rows become a JVM local relation.

The helper must give the same rows the pickled-list path of
``createDataFrame`` gives, for every type the package's sites pass, while
planning as ``LocalTableScan`` (no Python workers at action time). A
source sweep keeps it the only way the package builds a frame from rows.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

from fraud_detection_etl_project_spark.frames import local_frame

PKG = os.path.join(os.path.dirname(__file__), "..", "fraud_detection_etl_project_spark")

_SCHEMA = (
    "s string, i int, b bigint, d double, f boolean, ab array<bigint>, ad array<double>"
)
_ROWS = [
    ("x", 1, 2**40, 1.5, True, [1, -2, 2**62], [0.25, -1e300]),
    (None, None, None, None, None, None, None),
    ("", -(2**31), -(2**63), -0.0, False, [], []),
    ("ünïcode", 2**31 - 1, 2**63 - 1, float("inf"), True, [None, 3], [None, 2.0]),
]


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["typed-rows", "empty"])
def test_rows_match_list_path_and_plan_is_local(spark, rows):
    new = local_frame(spark, rows, _SCHEMA)
    old = spark.createDataFrame(rows, _SCHEMA)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    plan = _executed(new)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_structtype_schema_keeps_id_type(spark):
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    schema = StructType([StructField("node", IntegerType()), StructField("r", DoubleType())])
    df = local_frame(spark, [(3, 0.5), (1, 0.25)], schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [(3, 0.5), (1, 0.25)]


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1.5,)], "b bigint"),  # a float where a bigint is declared
        ([([1, 2.5],)], "a array<bigint>"),  # a float inside an int array
        ([(2**31,)], "i int"),  # out of range
        ([(1, 2), (3,)], "a int, b int"),  # ragged rows
        ([(1, 2)], "a int"),  # more fields than the schema
    ],
    ids=["float-in-bigint", "float-in-int-array", "int-overflow", "ragged", "too-wide"],
)
def test_values_that_do_not_fit_raise(spark, rows, schema):
    with pytest.raises((ValueError, TypeError, OverflowError)):
        local_frame(spark, rows, schema)


def test_null_in_non_nullable_field_raises(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("a", LongType(), nullable=False)])
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [(1,), (None,)], schema)


def test_package_builds_row_frames_only_through_local_frame():
    """No ``createDataFrame(`` call anywhere in the package outside
    frames.py: a Python list handed to it plans as ``Scan ExistingRDD``
    and unpickles its rows in Python workers on every action."""
    offenders = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        if rel == "frames.py":
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"createDataFrame outside frames.local_frame: {offenders}"
