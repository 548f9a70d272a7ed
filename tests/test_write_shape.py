"""The shape of one routed write, on the upsert_ingest table shape of
``perfbench`` (4,000 rows in 8 partitions, MOR v8, MDT with column
stats and the record index): the Spark jobs an upsert and a delete run,
and the broadcasts in the routed write's plan. Every tag tier joins one
per-file-group side (log anchor + next log version), broadcast once;
no join follows the tag join."""

from __future__ import annotations

import os

import pytest

OPTS = {
    "recordkey.field": "id",
    "precombine.field": "ts",
    "partitionpath.field": "part",
    "table.type": "MERGE_ON_READ",
    "table.version": "8",
    "metadata.enable": "true",
    "metadata.columnstats.enable": "true",
    "metadata.recordindex.enable": "true",
}
SCHEMA = "id long, part string, ts long, val double, payload string"
TIERS = {
    "record_index": {},
    "pending_plan": {},
    "full_scan": {"metadata.enable": "false",
                  "metadata.columnstats.enable": "false",
                  "metadata.recordindex.enable": "false"},
    "bloom": {"metadata.recordindex.enable": "false",
              "metadata.bloom.enable": "true"},
    "bucket": {"metadata.recordindex.enable": "false",
               "index.type": "bucket", "bucket.index.num.buckets": "4"},
}


def _frame(spark, ids, ts):
    return spark.createDataFrame(
        [(i, f"p{i % 8}", ts, i * 0.5, f"x{i}" * 3) for i in ids], SCHEMA
    )


def _seed(spark, path, **extra):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource
    from hudi_rs_spark.write.upsert import upsert

    spark.dataSource.register(HudiPyDataSource)
    opts = {**OPTS, **extra}
    seed = _frame(spark, range(4000), 1)
    if extra.get("index.type") == "bucket":
        upsert(seed, path, **opts)  # a bucket table seeds through upsert
        return
    w = seed.repartition(spark.sparkContext.defaultParallelism, "part").write
    w = w.format("hudi_py").option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode("append").save()


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Seeded tables by tier, built on first use."""
    root = str(tmp_path_factory.mktemp("shape"))
    built: dict[str, str] = {}

    def get(tier):
        if tier not in built:
            path = os.path.join(root, tier)
            _seed(spark, path, **TIERS[tier])
            if tier == "pending_plan":
                from hudi_rs_spark.write.async_compact import (
                    schedule_compaction,
                )
                from hudi_rs_spark.write.upsert import upsert

                upsert(_frame(spark, range(0, 4000, 20), 2), path)
                assert schedule_compaction(path) is not None
            built[tier] = path
        return built[tier]

    return get


def _jobs(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_and_delete_run_six_jobs(spark, tables):
    """Per op: the file-group side's broadcast, the record-index shard
    read, the precombine window and the routed write, plus the
    writer's own jobs; no second side is broadcast."""
    from hudi_rs_spark.write.upsert import delete, upsert

    path = tables("record_index")
    n_upsert = _jobs(spark, "shape-upsert", lambda: upsert(
        _frame(spark, [*range(3, 3200, 20), *range(4000, 4040)], 5), path
    ))
    n_delete = _jobs(spark, "shape-delete", lambda: delete(
        _frame(spark, range(7, 3200, 80), 6), path
    ))
    assert (n_upsert, n_delete) == (6, 6)


class _Routed(Exception):
    pass


@pytest.mark.parametrize("tier", list(TIERS))
def test_routed_write_broadcasts_one_side(spark, tables, monkeypatch, tier):
    """The routed write's plan holds exactly one BroadcastExchange, the
    file-group side, on every tag path. The write itself is stopped at
    ``save`` once the plan is captured, so the table does not change."""
    from pyspark.sql import DataFrameWriter

    from hudi_rs_spark.write.upsert import upsert

    path = tables(tier)
    plans = []

    def capture(self, *a, **k):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        raise _Routed

    monkeypatch.setattr(DataFrameWriter, "save", capture)
    with pytest.raises(_Routed):
        upsert(_frame(spark, range(1, 4000, 25), 9), path)
    (plan,) = plans
    assert plan.count("BroadcastExchange") == 1, plan
    if tier == "bucket":
        assert "__fg_bucket" in plan and "__fg_mod" in plan
