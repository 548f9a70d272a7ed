"""One table snapshot per write step: ``upsert`` / ``delete`` on the
driver, the ``hudi_py`` writer's plan and commit steps, and the
``cluster`` and ``split_buckets`` services each load the table
(hoodie.properties + timeline) once and hand that snapshot to every
helper, instead of re-reading it by path in each one.

The counts are taken in the test process by wrapping
``HudiTableConfig.from_base_path`` and ``Timeline.load``; the writer's
own steps run in-process here, so their reads are counted too."""

from __future__ import annotations

import collections

import pytest

from tests.test_writer import _register, tdir  # noqa: F401

OPTIONS = {
    "hoodie.table.name": "snap",
    "recordkey.field": "id",
    "precombine.field": "ts",
    "partitionpath.field": "part",
    "table.type": "MERGE_ON_READ",
    "table.version": "8",
    "metadata.enable": "true",
    "metadata.columnstats.enable": "true",
    "metadata.recordindex.enable": "true",
}
SCHEMA = "id long, name string, part string, ts long"


@pytest.fixture()
def reads(monkeypatch):
    """Counter of ``props`` (hoodie.properties) reads and ``timeline``
    loads made in this process while the fixture is active; those of
    the metadata table also count as ``mdt_props`` / ``mdt_timeline``."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.timeline.timeline import Timeline

    counts: collections.Counter = collections.Counter()

    def counting(owner, name, kind):
        orig = getattr(owner, name).__func__

        def wrapped(cls, base_path, *a, **k):
            counts[kind] += 1
            if str(base_path).rstrip("/").endswith("/.hoodie/metadata"):
                counts["mdt_" + kind] += 1
            return orig(cls, base_path, *a, **k)

        monkeypatch.setattr(owner, name, classmethod(wrapped))

    counting(HudiTableConfig, "from_base_path", "props")
    counting(Timeline, "load", "timeline")
    return counts


def _seed(spark, path):
    _register(spark)
    rows = [(i, f"n{i}", f"p{i % 4}", 1) for i in range(200)]
    w = spark.createDataFrame(rows, SCHEMA).repartition(4, "part").write
    w = w.format("hudi_py").option("path", path)
    for k, v in OPTIONS.items():
        w = w.option(k, v)
    w.mode("append").save()


def _live(spark, path):
    from hudi_rs_spark.sources.hudi import HudiTable

    return {r.id: r.name for r in HudiTable(path, spark).read().collect()}


def test_upsert_and_delete_load_the_table_once_on_the_driver(
    spark, tdir, reads  # noqa: F811
):
    from hudi_rs_spark.write import delete, upsert

    _seed(spark, tdir)
    reads.clear()
    upsert(
        spark.createDataFrame(
            [(i, f"u{i}", f"p{i % 4}", 2) for i in range(0, 200, 10)], SCHEMA
        ),
        tdir,
    )
    # the data table once; the metadata table once, for the
    # record-index shard plan the shard tasks read from
    assert reads["mdt_timeline"] <= 1 and reads["mdt_props"] <= 1, dict(reads)
    assert reads["timeline"] - reads["mdt_timeline"] <= 1, dict(reads)
    assert reads["props"] - reads["mdt_props"] <= 2, dict(reads)
    reads.clear()
    delete(
        spark.createDataFrame(
            [(i, f"p{i % 4}", 3) for i in range(1, 200, 20)],
            "id long, part string, ts long",
        ),
        tdir,
    )
    assert reads["mdt_timeline"] <= 1 and reads["mdt_props"] <= 1, dict(reads)
    assert reads["timeline"] - reads["mdt_timeline"] <= 1, dict(reads)
    assert reads["props"] - reads["mdt_props"] <= 2, dict(reads)
    live = _live(spark, tdir)
    assert len(live) == 190
    assert live[10] == "u10" and live[11] == "n11" and 1 not in live


def test_writer_plan_reads_properties_once_and_commit_loads_once(
    spark, tdir, reads  # noqa: F811
):
    import pyarrow as pa
    from pyspark.sql import types as T

    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.writer import (
        HudiPyBatchWriter,
        HudiWriteMessage,
        _TaskWriter,
    )

    _seed(spark, tdir)
    read_point = ",".join(
        i.timestamp for i in HudiTable(tdir, spark).timeline.instants
    )
    reads.clear()
    # an append carrying only the path and the OCC read point (upsert()
    # hands the writer its snapshot's read point the same way): identity,
    # index flags and the bucket guard all resolve from one properties
    # read
    w = HudiPyBatchWriter(
        {"path": tdir, "occ.readpoint": read_point},
        T._parse_datatype_string(SCHEMA),
        False,
    )
    assert reads["props"] <= 1 and reads["timeline"] == 0, dict(reads)
    assert w.cfg.emit_record_index and w.cfg.emit_column_stats
    assert w.cfg.partition_fields == ("part",)
    tw = _TaskWriter(w.cfg, 0, "0-0-0")
    tw.consume(
        pa.record_batch(
            [
                pa.array([1000, 1001], pa.int64()),
                pa.array(["a", "b"], pa.string()),
                pa.array(["p0", "p1"], pa.string()),
                pa.array([1, 1], pa.int64()),
            ],
            names=["id", "name", "part", "ts"],
        )
    )
    reads.clear()
    # one snapshot under the commit lock + one post-commit maintenance
    # read of the properties
    w.commit([HudiWriteMessage(stats=tw.finish())])
    assert reads["props"] <= 2 and reads["timeline"] <= 1, dict(reads)
    live = _live(spark, tdir)
    assert len(live) == 202 and live[1001] == "b"


def test_cluster_loads_the_table_once(spark, tdir, reads):  # noqa: F811
    from hudi_rs_spark.write.cluster import cluster

    _seed(spark, tdir)
    before = _live(spark, tdir)
    reads.clear()
    assert cluster(spark, tdir, min_group_slices=1) > 0
    # the planning snapshot + one snapshot under the commit lock
    assert reads["timeline"] <= 2 and reads["props"] <= 2, dict(reads)
    assert _live(spark, tdir) == before


def test_split_buckets_loads_the_table_once(spark, tdir, reads):  # noqa: F811
    from hudi_rs_spark.write.bucket import split_buckets
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    upsert(
        spark.createDataFrame(
            [(i, f"n{i}", f"p{i % 2}", 1) for i in range(40)], SCHEMA
        ),
        tdir,
        **{
            "hoodie.table.name": "snap_bkt", "recordkey.field": "id",
            "precombine.field": "ts", "partitionpath.field": "part",
            "table.type": "MERGE_ON_READ", "table.version": "8",
            "index.type": "bucket", "bucket.index.num.buckets": "2",
        },
    )
    before = _live(spark, tdir)
    reads.clear()
    assert split_buckets(spark, tdir, [(0, None)]) > 0
    assert reads["timeline"] <= 2 and reads["props"] <= 2, dict(reads)
    assert _live(spark, tdir) == before
