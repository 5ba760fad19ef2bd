"""session.local_frame: driver-side rows become an Arrow-built local
relation — exact schema and values, and no Python worker in the plan."""

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from wimbd_spark.session import local_frame

SCHEMA = StructType(
    [
        StructField("l", LongType(), False),
        StructField("i", IntegerType()),
        StructField("s", StringType()),
        StructField("d", DoubleType()),
        StructField("ad", ArrayType(DoubleType())),
        StructField("as_", ArrayType(StringType(), False), False),
    ]
)

ROWS = [
    (2**40, 7, "x", None, [1.0, -2.5], ["a", "b"]),
    Row(l=-1, i=None, s=None, d=0.5, ad=None, as_=[]),
    (0, -3, "", float("inf"), [], ["c"]),
]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_round_trips_values_and_schema(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    assert df.schema == SCHEMA
    # the JVM side carries the same names, types and nullability
    assert _parse_datatype_json_string(df._jdf.schema().json()) == SCHEMA
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in ROWS]


def test_ddl_schema_and_zero_rows(spark):
    ddl = "a long, b array<string>, c double"
    empty = local_frame(spark, [], ddl)
    assert empty.schema.simpleString() == "struct<a:bigint,b:array<string>,c:double>"
    assert all(f.nullable for f in empty.schema.fields)
    assert empty.collect() == []
    assert empty.count() == 0
    one = local_frame(spark, [(1, ["p"], None)], ddl)
    assert one.schema == empty.schema
    assert one.collect() == [Row(a=1, b=["p"], c=None)]


def test_matches_list_built_frame(spark):
    """Same rows and schema as the list path it replaces."""
    listed = spark.createDataFrame(ROWS, SCHEMA)
    arrow = local_frame(spark, ROWS, SCHEMA)
    assert arrow.schema == listed.schema
    assert arrow.exceptAll(listed).count() == 0
    assert listed.exceptAll(arrow).count() == 0


def test_no_python_worker_in_lineage(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    joined = df.join(spark.range(3).withColumnRenamed("id", "l"), "l")
    assert "PythonRDD" not in _lineage(df)
    assert "PythonRDD" not in _lineage(joined)
    # control: the list path this replaces does run one
    assert "PythonRDD" in _lineage(spark.createDataFrame(ROWS, SCHEMA))


def test_rejects_non_struct_schema(spark):
    with pytest.raises(TypeError, match="struct schema"):
        local_frame(spark, [(1,)], LongType())
