"""Driver-built frames (``session.local_frame``): the one way the package
turns driver values into a DataFrame, and the read path that relies on
it. A list- or ``parallelize``-backed frame is a PythonRDD, so every use
pays a Python-worker pass that only un-pickles tuples; ``local_frame``
builds an Arrow relation JVM-side instead, with the unknown size Spark
gives any RDD source (so joins plan as before)."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import types as T

from hudi_rs_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hudi_rs_spark"
FRAME_BUILDERS = {"createDataFrame", "parallelize", "emptyRDD"}


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _frame_builder_calls():
    """(file, line, function) of every ``createDataFrame`` /
    ``parallelize`` / ``emptyRDD`` call in the package."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in FRAME_BUILDERS
            ):
                hits.append((path.relative_to(PACKAGE), node.lineno, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    return hits


def test_frames_built_only_by_local_frame():
    hits = _frame_builder_calls()
    assert hits, "scan found no call at all: the helper itself must match"
    outside = [h for h in hits if h[2] != "local_frame"]
    assert not outside, f"build driver frames with local_frame: {outside}"


class TestLocalFrame:
    @pytest.mark.parametrize(
        "schema",
        ["k string, v int",
         T.StructType([T.StructField("k", T.StringType()),
                       T.StructField("v", T.IntegerType())])],
        ids=["ddl", "struct"],
    )
    def test_empty(self, spark, schema):
        df = local_frame(spark, [], schema)
        assert df.schema.simpleString() == "struct<k:string,v:int>"
        assert df.collect() == []
        assert "PythonRDD" not in _lineage(df)

    def test_round_trip_with_nulls(self, spark):
        rows = [
            ("a", 1, 2**40, b"\x00\xff"),
            (None, None, None, None),
            ("", -(2**31), -(2**63), b""),
        ]
        df = local_frame(spark, rows, "s string, i int, l long, b binary")
        assert [tuple(r) for r in df.collect()] == [
            (s, i, l, bytearray(b) if b is not None else None)
            for s, i, l, b in rows
        ]

    def test_no_python_pass_and_core_sized(self, spark):
        df = local_frame(spark, [(str(i),) for i in range(50)], "k string")
        assert "PythonRDD" not in _lineage(df)
        parallelism = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() == min(50, parallelism)
        assert local_frame(spark, [("x",)], "k string").rdd.getNumPartitions() == 1

    def test_size_stays_unknown(self, spark):
        """A bare Arrow LocalRelation reports its byte size; the frame
        keeps Spark's unknown RDD size so joins plan as before."""
        df = local_frame(spark, [("a", 1)], "k string, v int")
        plan = df._jdf.queryExecution().optimizedPlan()
        assert "LocalRelation" not in plan.toString()
        size = int(plan.stats().sizeInBytes())
        assert size == spark._jsparkSession.sessionState().conf().defaultSizeInBytes()


def test_mor_read_runs_no_descriptor_python_pass(spark, tmp_path):
    """``HudiTable.read`` of a MOR table with log files: the only Python
    work in its lineage is the ``mapInArrow`` decode (a MapPartitionsRDD,
    not a PythonRDD), and its size estimate stays above the broadcast
    threshold so a join against it never broadcasts the table."""
    from hudi_rs_spark import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyDataSource
    from hudi_rs_spark.write.upsert import upsert

    spark.dataSource.register(HudiPyDataSource)
    path, ddl = str(tmp_path / "t"), "id long, name string, ts long"
    w = spark.createDataFrame([(i, f"n{i}", 1) for i in range(8)], ddl).write
    for k, v in {"recordkey.field": "id", "precombine.field": "ts",
                 "table.type": "MERGE_ON_READ", "path": path}.items():
        w = w.option(k, v)
    w.format("hudi_py").mode("append").save()
    upsert(spark.createDataFrame([(3, "u3", 5)], ddl), path)
    table = HudiTable(path, spark)
    assert any(s.log_files for s in table.get_file_slices())

    df = table.read()
    qe = df._jdf.queryExecution()
    assert "MapInArrow" in qe.optimizedPlan().toString()
    assert "PythonRDD" not in _lineage(df)
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert int(qe.optimizedPlan().stats().sizeInBytes()) >= threshold
    assert sorted((r.id, r.name) for r in df.collect()) == [
        (i, "u3" if i == 3 else f"n{i}") for i in range(8)
    ]


def test_call_result_collects_without_python_pass(spark, tmp_path):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource
    from hudi_rs_spark.write.sql import hudi_sql

    spark.dataSource.register(HudiPyDataSource)
    path = str(tmp_path / "t")
    (
        spark.createDataFrame([(1, "a", 1)], "id int, name string, ts int")
        .write.format("hudi_py").option("path", path)
        .option("recordkey.field", "id").option("precombine.field", "ts")
        .mode("append").save()
    )
    df = hudi_sql(spark, "CALL show_commits(table => 't')", tables={"t": path})
    assert "PythonRDD" not in _lineage(df)
    assert [(r.action, r.state) for r in df.collect()] == [("commit", "COMPLETED")]
    empty = hudi_sql(spark, "CALL show_rollbacks(table => 't')", tables={"t": path})
    assert empty.collect() == []
