"""Shared tag-index handle (r14 optimization, VERDICT r13 item 3):
one index materialization serves the upsert+delete lifecycle pair (and
any follow-up upsert of pre-existing keys) — two commits stay, one
index read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)


OPTS = {
    "recordkey.field": "id", "precombine.field": "ts",
    "partitionpath.field": "city",
    "table.type": "MERGE_ON_READ", "table.version": "8",
    "metadata.enable": "true", "metadata.recordindex.enable": "true",
}


def _seed(spark, path, n=40):
    df = spark.createDataFrame(
        [(i, f"n{i}", ["a", "b"][i % 2], 1) for i in range(n)],
        "id int, name string, city string, ts int",
    )
    w = df.write.format("hudi_py").option("path", path)
    for k, v in OPTS.items():
        w = w.option(k, v)
    w.mode("append").save()
    return df


def _snapshot(spark, path):
    return {
        (r["id"], r["name"])
        for r in spark.read.format("hudi_py").option("path", path)
        .load().select("id", "name").collect()
    }


def _lifecycle(spark, df, path, handle):
    from hudi_rs_spark.write.upsert import delete, upsert

    upsert(
        df.filter(F.col("id") % 3 == 0)
        .withColumn("name", F.concat(F.col("name"), F.lit("#u")))
        .withColumn("ts", F.lit(2)),
        path, index_handle=handle,
    )
    delete(
        df.filter(F.col("id") % 5 == 0).withColumn("ts", F.lit(3)),
        path, index_handle=handle,
    )


class TestTagIndexHandle:
    def test_pair_with_handle_matches_pair_without(self, spark, tmp_path):
        from hudi_rs_spark.write.upsert import tag_index_handle

        p_plain = os.path.join(str(tmp_path), "plain")
        p_handle = os.path.join(str(tmp_path), "handled")
        df = _seed(spark, p_plain)
        _seed(spark, p_handle)

        _lifecycle(spark, df, p_plain, None)
        h = tag_index_handle(spark, p_handle)
        _lifecycle(spark, df, p_handle, h)

        assert _snapshot(spark, p_handle) == _snapshot(spark, p_plain)
        expect = {
            (i, f"n{i}#u" if i % 3 == 0 else f"n{i}")
            for i in range(40) if i % 5 != 0
        }
        assert _snapshot(spark, p_handle) == expect

    def test_handle_is_used_not_rebuilt(self, spark, tmp_path, monkeypatch):
        """After handle creation the index tiers must never re-run:
        poisoning _tag_index proves the consuming writes read the
        materialized handle."""
        import importlib

        U = importlib.import_module("hudi_rs_spark.write.upsert")

        path = os.path.join(str(tmp_path), "t")
        df = _seed(spark, path)
        h = U.tag_index_handle(spark, path)

        def boom(*a, **k):
            raise AssertionError("index rebuilt despite handle")

        monkeypatch.setattr(U, "_tag_index", boom)
        _lifecycle(spark, df, path, h)
        expect = {
            (i, f"n{i}#u" if i % 3 == 0 else f"n{i}")
            for i in range(40) if i % 5 != 0
        }
        assert _snapshot(spark, path) == expect

    def test_wrong_table_raises(self, spark, tmp_path):
        from hudi_rs_spark.write.upsert import tag_index_handle, upsert

        p1 = os.path.join(str(tmp_path), "t1")
        p2 = os.path.join(str(tmp_path), "t2")
        df = _seed(spark, p1)
        _seed(spark, p2)
        h = tag_index_handle(spark, p1)
        with pytest.raises(ValueError, match="index_handle built for"):
            upsert(
                df.filter(F.col("id") % 3 == 0).withColumn("ts", F.lit(2)),
                p2, index_handle=h,
            )

    def test_next_log_versions_stay_fresh(self, spark, tmp_path):
        """The handle shares the INDEX only: log versions are re-listed
        per call, so the delete after an upsert appends version 2, not a
        colliding version 1."""
        from hudi_rs_spark.fs.file_group import LogFile
        from hudi_rs_spark.write.upsert import tag_index_handle

        path = os.path.join(str(tmp_path), "t")
        df = _seed(spark, path)
        h = tag_index_handle(spark, path)
        _lifecycle(spark, df, path, h)
        versions = set()
        for root, _dirs, files in os.walk(path):
            if "/.hoodie" in root:
                continue
            for name in files:
                if ".log." in name:
                    versions.add(LogFile.parse(name).version)
        assert versions == {1, 2}, versions


def _log_names(path):
    """LogFile of every data log file under ``path``."""
    from hudi_rs_spark.fs.file_group import LogFile

    out = []
    for root, _dirs, files in os.walk(path):
        if "/.hoodie" in root:
            continue
        out.extend(LogFile.parse(n) for n in files if ".log." in n)
    return out


class TestHandleAcrossServices:
    """The handle pins (key, partition, file id) only; each call joins a
    fresh file-group side, so it survives what keeps file ids and
    refuses what replaces them."""

    @pytest.mark.parametrize("record_index", [True, False], ids=["ri", "scan"])
    def test_reuse_after_compaction_matches_plain(
        self, spark, tmp_path, monkeypatch, record_index
    ):
        from hudi_rs_spark.write import compact
        from hudi_rs_spark.write.upsert import tag_index_handle, upsert

        if not record_index:
            monkeypatch.setitem(OPTS, "metadata.recordindex.enable", "false")
        p_plain = os.path.join(str(tmp_path), "plain")
        p_handle = os.path.join(str(tmp_path), "handled")
        df = _seed(spark, p_plain)
        _seed(spark, p_handle)
        h = tag_index_handle(spark, p_handle)
        first = (
            df.filter(F.col("id") % 3 == 0)
            .withColumn("name", F.concat(F.col("name"), F.lit("#u")))
            .withColumn("ts", F.lit(2))
        )
        later = (
            df.filter(F.col("id") % 5 == 0)
            .withColumn("name", F.concat(F.col("name"), F.lit("#c")))
            .withColumn("ts", F.lit(3))
        )
        for path, handle in ((p_plain, None), (p_handle, h)):
            upsert(first, path, index_handle=handle)
            compact(spark, path)
            upsert(later, path, index_handle=handle)

        expect = {
            (i, f"n{i}#c" if i % 5 == 0 else f"n{i}#u" if i % 3 == 0 else f"n{i}")
            for i in range(40)
        }
        assert _snapshot(spark, p_plain) == expect
        assert _snapshot(spark, p_handle) == expect

    def test_reuse_after_clustering_raises(self, spark, tmp_path):
        from hudi_rs_spark.write.cluster import cluster
        from hudi_rs_spark.write.upsert import tag_index_handle, upsert

        path = os.path.join(str(tmp_path), "t")
        df = _seed(spark, path)
        h = tag_index_handle(spark, path)
        cluster(spark, path, sort_columns=("id",), min_group_slices=1)
        with pytest.raises(ValueError, match="no longer live"):
            upsert(
                df.filter(F.col("id") % 5 == 0).withColumn("ts", F.lit(2)),
                path, index_handle=h,
            )

    def test_reuse_under_scheduled_compaction_anchors_at_plan(
        self, spark, tmp_path
    ):
        from hudi_rs_spark.write.async_compact import (
            run_scheduled_compaction,
            schedule_compaction,
        )
        from hudi_rs_spark.write.upsert import tag_index_handle, upsert

        path = os.path.join(str(tmp_path), "t")
        df = _seed(spark, path)
        h = tag_index_handle(spark, path)
        upsert(
            df.filter(F.col("id") % 3 == 0).withColumn("ts", F.lit(2)),
            path, index_handle=h,
        )
        plan = schedule_compaction(path)
        assert plan is not None
        before = {lf.file_name for lf in _log_names(path)}
        upsert(
            df.filter(F.col("id") % 5 == 0)
            .withColumn("name", F.concat(F.col("name"), F.lit("#p")))
            .withColumn("ts", F.lit(3)),
            path, index_handle=h,
        )
        new = [lf for lf in _log_names(path) if lf.file_name not in before]
        assert new and {lf.timestamp for lf in new} == {plan}
        run_scheduled_compaction(spark, path)
        assert _snapshot(spark, path) == {
            (i, f"n{i}#p" if i % 5 == 0 else f"n{i}") for i in range(40)
        }
