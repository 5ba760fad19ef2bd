"""session.read_parquet: the schema Spark's inference would give, read
from one footer on the driver, so opening a local table or index runs
no Spark job; anything the footer cannot prove reads by inference."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from wimbd_spark.index import build_phrase_index, load_phrase_index
from wimbd_spark.session import (
    TABLE_NAMES,
    _footer_schema,
    load_tables,
    read_parquet,
)


def _jobs(spark, group, fn):
    """Run ``fn`` under its own job group; returns the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _same_schema(spark, path):
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_fixture_tables_read_with_the_inferred_schema(spark, name):
    _same_schema(spark, os.path.join(SF_DIR, f"{name}.parquet"))


def test_timestamp_table_falls_back_to_inference(spark):
    # pandas-written TIMESTAMP(NANOS): inference reads timestamp_ntz
    # (or bigint under nanosAsLong), Arrow says timestamp; the footer
    # cannot prove it, so the schema comes from inference.
    path = os.path.join(SF_DIR, "events.parquet")
    assert _footer_schema(spark, (path,)) is None
    _same_schema(spark, path)


def test_rebuilt_phrase_index_reads_with_the_inferred_schema(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )
    build_phrase_index(docs, path)
    # the footer's Spark schema says token/positions non-null
    assert _footer_schema(spark, (path,)) is not None
    _same_schema(spark, path)
    build_phrase_index(docs.limit(1), path, mode="overwrite")
    _same_schema(spark, path)


def test_spark_written_non_null_and_nested_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(4).select(
        F.col("id").alias("k"),
        F.array(F.col("id")).alias("arr"),
        F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("st"),
        F.create_map(F.lit("a"), F.col("id")).alias("m"),
        F.array(F.struct(F.col("id").alias("z"))).alias("arr_st"),
    )
    assert not df.schema["k"].nullable and not df.schema["arr"].nullable
    df.write.parquet(path)
    assert _footer_schema(spark, (path,)) is not None
    _same_schema(spark, path)


def test_arrow_written_lists_and_structs(spark, tmp_path):
    path = str(tmp_path / "a.parquet")
    pq.write_table(
        pa.table(
            {
                "i8": pa.array([1], pa.int8()),
                "f": pa.array([1.5], pa.float32()),
                "b": [True],
                "tags": [["x", "y"]],
                "st": [{"n": 1, "v": [2.0]}],
            }
        ),
        path,
    )
    assert _footer_schema(spark, (path,)) is not None
    _same_schema(spark, path)


def test_partition_dirs(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, 2), ("b", 3, 4)], "doc_id string, n int, m int"
    )
    one = str(tmp_path / "one")
    df.write.partitionBy("n").parquet(one)
    assert _footer_schema(spark, (one,)) is not None
    _same_schema(spark, one)
    # nested partition dirs: Spark's choice is not proven here
    nested = str(tmp_path / "nested")
    df.write.partitionBy("n", "m").parquet(nested)
    assert _footer_schema(spark, (nested,)) is None
    _same_schema(spark, nested)


def test_reads_the_footer_spark_reads(spark, tmp_path):
    # files with different schemas: inference reads the first data
    # file in path order, whatever order the directory lists them in
    path = tmp_path / "mixed"
    path.mkdir()
    for name in ["part-9", "part-3", "part-7", "part-1", "part-5"]:
        pq.write_table(pa.table({f"c{name[-1]}": [1]}), str(path / name))
    (path / "_SUCCESS").write_bytes(b"")
    assert read_parquet(spark, str(path)).columns == ["c1"]
    _same_schema(spark, str(path))
    files = [str(path / n) for n in ["part-7", "part-5"]]
    assert (
        read_parquet(spark, *files).schema
        == spark.read.parquet(*files).schema
    )


@pytest.mark.parametrize(
    "layout",
    [
        {"part-0": b"not parquet"},  # unreadable footer
        {"part-0": None, "_metadata": None},  # summary file
        {"part-0": None, "n=1/part-0": None},  # files beside partitions
        {"sub/part-0": None},  # a directory that is not col=value
    ],
)
def test_unproven_layouts_fall_back(spark, tmp_path, layout):
    root = tmp_path / "t"
    for rel, data in layout.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        if data is None:
            pq.write_table(pa.table({"x": [1]}), str(root / rel))
        else:
            (root / rel).write_bytes(data)
    assert _footer_schema(spark, (str(root),)) is None


def test_non_local_path_or_merge_schema_falls_back(spark, tmp_path):
    path = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"x": [1]}), path)
    assert _footer_schema(spark, (path,)) is not None
    assert _footer_schema(spark, ("file://" + path,)) is None
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _footer_schema(spark, (path,)) is None
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_open_runs_no_spark_job(spark, tmp_path):
    """Opening a fixture table and reloading a rebuilt phrase index run
    no Spark job (Spark's schema inference runs one each)."""
    def open_documents():
        load_tables(spark, SF_DIR, names=["documents"], register_views=False)

    assert _jobs(spark, "open:documents", open_documents) == 0
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    )
    build_phrase_index(docs, path)
    load_phrase_index(spark, path)
    build_phrase_index(docs, path, mode="overwrite")
    reload = lambda: load_phrase_index(spark, path)  # noqa: E731
    assert _jobs(spark, "open:index", reload) == 0
