"""Expression (functional) index — write/expr_index.py +
HudiTable.read_where_expression: build over live base files, file-level
interval pruning on the EXPRESSION value, residual row filter, fail-open
on unindexed/logged slices, drop lifecycle.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)


OPTS = {
    "recordkey.field": "id",
    "precombine.field": "ts",
    "partitionpath.field": "part",
    "table.type": "MERGE_ON_READ",
    "table.version": "8",
    "metadata.enable": "true",
}


def _seed(spark, tmp_path, name="t", **extra):
    t = str(tmp_path / name)
    rows = [(i, f"Name{i}", 1, "a") for i in range(10)]
    rows += [(100 + i, f"OTHER{i}", 1, "b") for i in range(10)]
    df = spark.createDataFrame(
        rows, "id long, name string, ts long, part string"
    ).coalesce(1)  # one task -> exactly one base file per partition
    w = df.write.format("hudi_py").option("path", t)
    for k, v in {**OPTS, **extra}.items():
        w = w.option(k, v)
    w.mode("append").save()
    return t


class TestBuild:
    def test_requires_metadata_table(self, spark, tmp_path):
        from hudi_rs_spark.write import create_expression_index

        t = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a", 1, "p")],
                                   "id long, name string, ts long, part string")
        (
            df.write.format("hudi_py").option("path", t)
            .option("recordkey.field", "id").mode("append").save()
        )
        with pytest.raises(ValueError, match="metadata"):
            create_expression_index(spark, t, "x2", "id * 2")

    def test_build_registers_partition_and_expr(self, spark, tmp_path):
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.metadata.column_stats import read_column_stats
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        n = create_expression_index(spark, t, "x2", "id * 2")
        assert n >= 2  # one per partition at least
        tc = HudiTableConfig.from_base_path(t)
        assert "expr_index_x2" in tc.props["hoodie.table.metadata.partitions"]
        assert tc.props["hoodie.table.expr.index.x2"] == "id * 2"
        stats = read_column_stats(t, partition="expr_index_x2")
        assert len(stats) == n
        # the recorded intervals are the expression's, not the column's
        all_bounds = [b for cols in stats.values() for b in cols.values()]
        assert any(mx >= 200 for _, mx in all_bounds)

    def test_conflicting_redefinition_rejected(self, spark, tmp_path):
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        create_expression_index(spark, t, "x2", "id * 2")
        with pytest.raises(ValueError, match="already exists"):
            create_expression_index(spark, t, "x2", "id * 3")

    def test_backslash_in_expression_survives_properties(
        self, spark, tmp_path
    ):
        """The expression is stored in hoodie.properties; a backslash in
        it must read back unchanged, so the pruned read equals the
        unpruned filter and re-creating the index with the same
        expression is not a conflicting redefinition."""
        from pyspark.sql import functions as F

        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        expr = "regexp_extract(name, '(\\\\d+)', 1)"
        create_expression_index(spark, t, "digits", expr)
        ht = HudiTable(t, spark)
        got = sorted(
            r.id
            for r in ht.read_where_expression("digits", "=", "3").collect()
        )
        want = sorted(
            r.id for r in ht.read().filter(F.expr(expr) == "3").collect()
        )
        assert got == want == [3, 103]
        create_expression_index(spark, t, "digits", expr)

    def test_bad_name_rejected(self, spark, tmp_path):
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        with pytest.raises(ValueError, match="name"):
            create_expression_index(spark, t, "x/../2", "id * 2")


class TestQuery:
    def test_results_match_plain_filter(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        create_expression_index(spark, t, "lname", "lower(name)")
        ht = HudiTable(t, spark)
        got = sorted(
            r.id for r in ht.read_where_expression("lname", "=", "other3")
            .collect()
        )
        assert got == [103]
        got = sorted(
            r.id
            for r in ht.read_where_expression("lname", "<", "name2").collect()
        )
        want = sorted(
            r.id
            for r in ht.read().filter("lower(name) < 'name2'").collect()
        )
        assert got == want and len(want) > 0

    def test_pruning_skips_disproven_files(self, spark, tmp_path, monkeypatch):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        create_expression_index(spark, t, "x2", "id * 2")
        ht = HudiTable(t, spark)
        seen = []
        orig = HudiTable._execute_slices

        def spy(self, slices, *a, **kw):
            seen.append(len(slices))
            return orig(self, slices, *a, **kw)

        monkeypatch.setattr(HudiTable, "_execute_slices", spy)
        rows = ht.read_where_expression("x2", "=", 208).collect()
        assert [r.id for r in rows] == [104]
        assert seen and seen[-1] == 1  # part=a's file pruned by interval
        seen.clear()
        total = len(ht.get_file_slices())
        ht.read_where_expression("x2", ">=", 0).collect()
        assert seen and seen[-1] == total  # nothing disproven -> no pruning

    def test_fail_open_on_post_index_writes(self, spark, tmp_path):
        """Rows upserted AFTER the index build (log files / new groups)
        must still be found — stale stats cost reads, never rows."""
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import create_expression_index
        from hudi_rs_spark.write.upsert import upsert

        t = _seed(spark, tmp_path)
        create_expression_index(spark, t, "x2", "id * 2")
        upsert(
            spark.createDataFrame(
                [(5, "Name5", 9, "a"), (500, "New", 1, "b")],
                "id long, name string, ts long, part string",
            ),
            t,
        )
        ht = HudiTable(t, spark)
        got = sorted(
            r.id for r in ht.read_where_expression("x2", ">=", 1000).collect()
        )
        assert got == [500]  # brand-new row, no index entry anywhere
        got = [r.ts for r in ht.read_where_expression("x2", "=", 10).collect()]
        assert got == [9]  # the updated (logged) row's latest version

    def test_unknown_index_and_op_rejected(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import create_expression_index

        t = _seed(spark, tmp_path)
        ht = HudiTable(t, spark)
        with pytest.raises(ValueError, match="no expression index"):
            ht.read_where_expression("nope", "=", 1)
        create_expression_index(spark, t, "x2", "id * 2")
        with pytest.raises(ValueError, match="op"):
            HudiTable(t, spark).read_where_expression("x2", "!=", 1)


class TestDrop:
    def test_drop_lifecycle(self, spark, tmp_path):
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import (
            create_expression_index,
            drop_expression_index,
        )

        t = _seed(spark, tmp_path)
        create_expression_index(spark, t, "x2", "id * 2")
        assert drop_expression_index(t, "x2") is True
        tc = HudiTableConfig.from_base_path(t)
        assert "expr_index_x2" not in tc.props.get(
            "hoodie.table.metadata.partitions", ""
        )
        assert "hoodie.table.expr.index.x2" not in tc.props
        with pytest.raises(ValueError, match="no expression index"):
            HudiTable(t, spark).read_where_expression("x2", "=", 1)
        assert drop_expression_index(t, "x2") is False
        # re-creatable with a different expression after the drop
        assert create_expression_index(spark, t, "x2", "id * 3") >= 1
