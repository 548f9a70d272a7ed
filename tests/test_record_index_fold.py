"""Record-index fold semantics for same-instant twins (r13 fix).

One commit can emit BOTH a tombstone and an add for the same key from
DIFFERENT writer tasks: ``update.partition.path=true`` moves a record,
so the task owning the OLD file group logs an index tombstone while the
task inserting at the NEW location logs an add — same instant, and the
two shard log files' name order is task-schedule dependent. A commit's
index mutations are a set: delete+add within one instant must net to
the add, regardless of file order. Pre-fix, the fold applied entries in
file order, so under unlucky scheduling the tombstone erased the fresh
location and a record-key-pruned read (point lookup / pushed filter)
reported the moved row as nonexistent — the load-dependent
test_global_through_record_index_tier flake.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hudi_rs_spark.write.upsert import upsert


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)


RI_OPTS = {
    "recordkey.field": "id", "precombine.field": "ts",
    "partitionpath.field": "city",
    "table.type": "MERGE_ON_READ", "table.version": "8",
    "metadata.enable": "true", "metadata.recordindex.enable": "true",
}


def _seed(spark, path, n=10):
    df = spark.createDataFrame(
        [(i, f"n{i}", ["a", "b"][i % 2], 1) for i in range(n)],
        "id int, name string, city string, ts int",
    )
    w = df.write.format("hudi_py").option("path", path)
    for k, v in RI_OPTS.items():
        w = w.option(k, v)
    w.mode("append").save()


def _committed_instant(path):
    tl = os.path.join(path, ".hoodie", "timeline")
    return sorted(
        n.split(".")[0].split("_")[0]
        for n in os.listdir(tl)
        if n.endswith((".commit", ".deltacommit"))
    )[-1]


class TestSameInstantTwins:
    @pytest.mark.parametrize("delete_first", [True, False])
    def test_delete_add_twins_net_to_add(self, spark, tmp_path, delete_first):
        """Same-instant tombstone + add for one key must fold to the add
        in BOTH append orders (file order is schedule-dependent in the
        real race; sequential appends pin each order exactly)."""
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.write.record_index import append_record_index_log

        path = str(tmp_path / "t")
        _seed(spark, path)
        instant = _committed_instant(path)
        ops = [("k-moved", None), ("k-moved", ("b", "new-fid-0"))]
        if not delete_first:
            ops.reverse()
        for i, (key, loc) in enumerate(ops):
            append_record_index_log(path, instant, {key: loc}, 4, f"tw-{i}")
        idx = read_record_index(path)
        assert idx.get("k-moved") == ("b", "new-fid-0")
        # later-instant tombstones still delete (cross-instant order wins)

    def test_later_instant_delete_still_deletes(self, spark, tmp_path):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.write.record_index import append_record_index_log

        path = str(tmp_path / "t")
        _seed(spark, path)
        instant = _committed_instant(path)
        append_record_index_log(path, instant, {"k2": ("a", "f-0")}, 4, "tw-0")
        # a delete arriving in a LATER commit must still win over the
        # earlier add — only same-instant twins reorder
        upsert(
            spark.createDataFrame(
                [(0, "u0", "a", 2)], "id int, name string, city string, ts int"
            ),
            path,
        )
        later = _committed_instant(path)
        assert later > instant
        append_record_index_log(path, later, {"k2": None}, 4, "tw-1")
        assert "k2" not in read_record_index(path)

    def test_moved_record_visible_through_pushed_key_filter(
        self, spark, tmp_path
    ):
        """End-to-end: the original flake — a partition-drift move under
        the record-index tier must stay visible to a key-filtered read
        (which prunes through the record index)."""
        path = str(tmp_path / "t")
        _seed(spark, path)
        upsert(
            spark.createDataFrame(
                [(0, "moved", "b", 2)],
                "id int, name string, city string, ts int",
            ),
            path,
            **{"index.global": "true", "update.partition.path": "true"},
        )
        rows = sorted(
            tuple(r)
            for r in spark.read.format("hudi_py").option("path", path).load()
            .filter(F.col("id") == 0).select("id", "name", "city").collect()
        )
        assert rows == [(0, "moved", "b")]


class TestShardTasksReadTheDriverPlan:
    def test_shard_closure_plans_nothing(self, spark, tmp_path, monkeypatch):
        """The record-index tier's shard-read closure, run in the test
        process (the function executors run): it reads every shard from
        the plan the driver shipped, without reading the MDT's
        hoodie.properties, loading its timeline or listing a directory,
        and yields what the driver-side index read returns."""
        import pyarrow as pa

        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.fs.storage import LocalStorage
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.timeline.timeline import Timeline
        from hudi_rs_spark.write.upsert import _record_index_tier

        path = os.path.join(str(tmp_path), "t")
        _seed(spark, path, n=40)
        upsert(
            spark.createDataFrame(
                [(i, f"u{i}", ["a", "b"][i % 2], 2) for i in range(0, 50, 5)],
                "id int, name string, city string, ts int",
            ),
            path,
        )
        closures = []
        DataFrame = type(spark.range(1))
        real_map = DataFrame.mapInArrow

        def capture(self, fn, schema, *a, **k):
            closures.append(fn)
            return real_map(self, fn, schema, *a, **k)

        monkeypatch.setattr(DataFrame, "mapInArrow", capture)
        table = HudiTable(path, spark, listing="direct")
        assert _record_index_tier(spark, table) is not None
        (read_shards,) = closures

        calls = []

        def counting(owner, name):
            orig = getattr(owner, name)

            def wrapped(*a, **k):
                calls.append(name)
                return orig(*a, **k)

            monkeypatch.setattr(owner, name, wrapped)

        counting(HudiTableConfig, "from_base_path")
        counting(Timeline, "load")
        counting(LocalStorage, "list_dir")
        n = int(table.config.props["hoodie.metadata.record.index.shards"])
        shards = pa.record_batch([pa.array(range(n), pa.int32())], ["shard"])
        got = {}
        for b in read_shards(iter([shards])):
            for k, part, fid in zip(*(c.to_pylist() for c in b.columns)):
                got[k] = (part, fid)
        assert calls == []
        monkeypatch.undo()
        assert got == read_record_index(path)
        assert len(got) == 42
