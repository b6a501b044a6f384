"""``operators/base.local_frame``: driver-built constants as JVM
``LocalRelation``s that keep the given schema exactly."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from bigdime_spark.operators.base import local_frame
from bigdime_spark.schema import LINEAGE_SCHEMA, VIOLATION_SCHEMA


def _jvm_schema(df) -> T.StructType:
    """The schema the JVM plans with (``df.schema`` may be the Python
    side's cached copy)."""
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))  # noqa: SLF001


def _leaf(df) -> str:
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    while plan.children().size() > 0:
        plan = plan.children().apply(0)
    return plan.getClass().getSimpleName()


def test_schema_kept_with_non_nullable_fields(spark):
    for schema in (VIOLATION_SCHEMA, LINEAGE_SCHEMA):
        assert any(not f.nullable for f in schema.fields)
        df = local_frame(spark, [], schema)
        assert df.schema == schema
        assert _jvm_schema(df) == schema
    row = ("schema.missing", "*", None, "w", "int", "raw")
    df = local_frame(spark, [row], VIOLATION_SCHEMA)
    assert _jvm_schema(df) == VIOLATION_SCHEMA
    assert [tuple(r) for r in df.collect()] == [row]


def test_empty_rows_give_empty_frame(spark):
    df = local_frame(spark, [], "a int, b string")
    assert df.count() == 0
    assert df.columns == ["a", "b"]


def test_values_round_trip_under_ddl_schema(spark):
    rows = [
        (1, 2**40, 0.5, [1.0, None, -2.5], "x"),
        (None, None, None, None, None),
        (-3, 0, 1e300, [], "héllo"),
    ]
    ddl = "i int, b bigint, d double, v array<double>, s string"
    df = local_frame(spark, rows, ddl)
    assert _jvm_schema(df) == T.StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_plan_leaf_is_local_relation(spark):
    df = local_frame(spark, [(1, "a")], "k bigint, v string")
    assert _leaf(df) == "LocalRelation"
    assert _leaf(local_frame(spark, [], VIOLATION_SCHEMA)) == "LocalRelation"
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
