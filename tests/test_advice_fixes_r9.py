"""Regression tests for the round-9 ADVICE findings.

1. (high) A failed/aborted FIRST write's executor-side MDT index log
   appends leave shard log files anchored at a never-completed instant;
   later appends reuse that anchor and the reader drops the whole shard
   slice — committed index entries become permanently invisible. Fixed
   by purging never-committed-anchor MDT logs before a write's tasks
   launch (batch/stream/backfill) and on abort().
2. (medium) The streaming exactly-once ledger keyed on batchId alone:
   a NEW query (fresh checkpoint) against a table with prior streaming
   commits matched the OLD query's batch ids, took the replay path, and
   silently dropped its own data. Ledger + instant sidecars are now
   keyed per query (checkpointLocation hash).
3. (medium) HFile cell keys over 32767 bytes crashed mid-append with an
   opaque struct.error (signed 16-bit length prefix). Now validated up
   front with a clear error, before any bytes are framed.
4. (low) existing_shard_count inferred the shard count from on-disk
   shard file names (max(observed)+1 — wrong when high shards are
   empty). Now the table property is required; plus the property is
   pinned at table creation so the window cannot open.
"""

from __future__ import annotations

import os

import pytest

from hudi_rs_spark.write.config import WriteConfig


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)


def _write(df, path, mode="append", **options):
    w = df.write.format("hudi_py").option("path", path)
    for k, v in options.items():
        w = w.option(k, v)
    w.mode(mode).save()


def _people(spark, n=20, ts=1, name="n"):
    return spark.createDataFrame(
        [(i, f"{name}{i}", ["a", "b"][i % 2], ts) for i in range(n)],
        "id long, name string, city string, ts long",
    )


RI_OPTS = {
    "recordkey.field": "id", "precombine.field": "ts",
    "table.version": "8", "metadata.enable": "true",
    "metadata.recordindex.enable": "true",
}


# ---------------------------------------------------------------------------
# 1. poisoned MDT shard anchors
# ---------------------------------------------------------------------------
class TestPoisonedAnchorPurge:
    def test_failed_first_write_logs_purged_unit(self, tmp_path):
        """Shard logs anchored at a never-completed instant are garbage;
        purge removes them (and nothing else)."""
        from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs
        from hudi_rs_spark.write.record_index import append_record_index_log

        base = str(tmp_path / "t")
        os.makedirs(base)
        # simulate a failed first write: index appends, no MDT commit
        append_record_index_log(
            base, "20240101000000000", {"k1": ("", "fid-0")}, 4, "0-0-0"
        )
        ri = os.path.join(base, ".hoodie", "metadata", "record_index")
        assert any(".log." in n for n in os.listdir(ri))
        deleted = purge_uncommitted_mdt_logs(base)
        assert deleted and not os.listdir(ri)

    def test_committed_anchor_survives_purge(self, spark, tmp_path):
        """A healthy written table's MDT logs are anchored at committed
        instants — the purge must not touch them."""
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

        base = str(tmp_path / "t")
        _write(_people(spark, 10), base, **RI_OPTS)
        assert purge_uncommitted_mdt_logs(base) == []
        assert set(read_record_index(base)) == {str(i) for i in range(10)}

    def test_poisoned_table_recovers_on_next_write(self, spark, tmp_path):
        """ADVICE repro: failed first write leaves a poisoned shard
        anchor; the next real write must still produce a fully visible
        record index (pre-fix: committed entries were dropped with the
        poisoned slice, point lookups reported rows as nonexistent)."""
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.record_index import append_record_index_log

        base = str(tmp_path / "t")
        os.makedirs(base)
        # failed first write at an instant that never commits; a stale
        # anchor like this sorts BEFORE every later instant
        append_record_index_log(
            base, "19990101000000000", {"ghost": ("", "dead-fid")}, 4, "9-9-9"
        )
        _write(_people(spark, 12).repartition(2), base, **RI_OPTS)
        idx = read_record_index(base)
        assert set(idx) == {str(i) for i in range(12)}
        got = {r.id for r in HudiTable(base, spark).point_lookup(["3", "7"]).collect()}
        assert got == {3, 7}

    def test_abort_purges_mdt_logs(self, spark, tmp_path):
        """abort() must clean this write's own uncommitted MDT appends."""
        from hudi_rs_spark.write.record_index import append_record_index_log
        from hudi_rs_spark.write.writer import HudiPyBatchWriter

        base = str(tmp_path / "t")
        _write(_people(spark, 6), base, **RI_OPTS)
        w = HudiPyBatchWriter(
            {"path": base, **{k: v for k, v in RI_OPTS.items()}},
            _people(spark, 1).schema, overwrite=False,
        )
        # simulate the aborted write's executor appends (new instant)
        append_record_index_log(
            base, w.cfg.instant, {"zz": ("", "f")}, w.cfg.record_index_shards,
            "1-1-0",
        )
        w.abort([])
        ri = os.path.join(base, ".hoodie", "metadata", "record_index")
        from hudi_rs_spark.fs.file_group import LogFile
        from hudi_rs_spark.write.mdt import _mdt_completed_instants

        completed = _mdt_completed_instants(
            os.path.join(base, ".hoodie", "metadata")
        )
        for n in os.listdir(ri):
            assert LogFile.parse(n).timestamp in completed


# ---------------------------------------------------------------------------
# 2. streaming ledger keyed per query
# ---------------------------------------------------------------------------
class TestStreamLedgerPerQuery:
    def _cfg(self, path):
        return WriteConfig(path=path, table_name="t")

    def test_new_query_does_not_match_old_batches(self, tmp_path):
        from hudi_rs_spark.write.stream import (
            BATCH_ID_KEY,
            QUERY_ID_KEY,
            committed_batch_ids,
            query_key,
        )
        from hudi_rs_spark.write.writer import commit_instant, init_table

        base = str(tmp_path / "t")
        cfg = self._cfg(base)
        init_table(cfg)
        qa = query_key({"checkpointLocation": "/cp/a"})
        qb = query_key({"checkpointLocation": "/cp/b"})
        assert qa != qb
        commit_instant(
            cfg, [], None,
            extra_metadata={BATCH_ID_KEY: "0", QUERY_ID_KEY: qa},
        )
        assert committed_batch_ids(cfg, qa) == {0}
        # the new query's batch 0 must NOT look already-committed
        assert committed_batch_ids(cfg, qb) == set()

    def test_legacy_commits_match_only_legacy(self, tmp_path):
        from hudi_rs_spark.write.stream import BATCH_ID_KEY, committed_batch_ids
        from hudi_rs_spark.write.writer import commit_instant, init_table

        base = str(tmp_path / "t")
        cfg = self._cfg(base)
        init_table(cfg)
        commit_instant(cfg, [], None, extra_metadata={BATCH_ID_KEY: "3"})
        assert committed_batch_ids(cfg, "legacy") == {3}
        assert committed_batch_ids(cfg, "abc123") == set()

    def test_instant_sidecars_are_per_query(self, tmp_path):
        import time

        from hudi_rs_spark.write.stream import batch_instant

        base = str(tmp_path / "t")
        os.makedirs(base)
        a = batch_instant(base, 0, "qa0000000000")
        time.sleep(0.002)  # new_instant() is millisecond-resolution
        b = batch_instant(base, 0, "qb1111111111")
        # distinct SIDECAR files -> query B never reuses query A's
        # already-committed instant for its own batch 0
        d = os.path.join(base, ".hoodie", ".stream_instants")
        assert sorted(os.listdir(d)) == ["qa0000000000-0", "qb1111111111-0"]
        assert a != b
        assert batch_instant(base, 0, "qa0000000000") == a  # stable

    def test_same_checkpoint_same_key(self):
        from hudi_rs_spark.write.stream import query_key

        assert query_key({"checkpointLocation": "/cp/x"}) == query_key(
            {"checkpointlocation": "/cp/x"}
        )
        assert query_key({}) == "legacy"


# ---------------------------------------------------------------------------
# 3. HFile key length validation
# ---------------------------------------------------------------------------
class TestHFileKeyCap:
    def test_build_hfile_rejects_oversized_key(self):
        from hudi_rs_spark.hfile.writer import MAX_KEY_BYTES, build_hfile

        big = b"k" * (MAX_KEY_BYTES + 1)
        with pytest.raises(ValueError, match="16-bit"):
            build_hfile([(big, b"v")])
        # the cap itself is fine
        assert build_hfile([(b"k" * MAX_KEY_BYTES, b"v")])

    def test_encode_cell_rejects_long_value_up_front(self):
        from hudi_rs_spark.write.secondary_index import encode_cell

        with pytest.raises(ValueError, match="secondary-index cell key"):
            encode_cell("v" * 40000, "rk")

    def test_append_secondary_log_appends_nothing_on_error(self, tmp_path):
        import pyarrow as pa

        from hudi_rs_spark.write.config import WriteConfig
        from hudi_rs_spark.write.writer import _TaskWriter

        base = str(tmp_path / "t")
        os.makedirs(base)
        cfg = WriteConfig(
            path=base, instant="20240101000000000", table_version=8,
            emit_metadata=True, emit_record_index=True,
            secondary_index_columns=("c",),
        )
        with pytest.raises(ValueError):
            _TaskWriter(cfg, 0, "0-0-0")._emit_secondary_cells(
                pa.table({"c": ["ok", "v" * 40000]}), pa.array(["k1", "k2"])
            )
        idx_dir = os.path.join(base, ".hoodie", "metadata", "secondary_index_c")
        assert not os.path.isdir(idx_dir) or not os.listdir(idx_dir)


# ---------------------------------------------------------------------------
# 4. shard count: property required, pinned at creation
# ---------------------------------------------------------------------------
class TestShardCountAuthority:
    def test_property_pinned_at_table_creation(self, spark, tmp_path):
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.write.record_index import SHARDS_PROP

        base = str(tmp_path / "t")
        _write(_people(spark, 6), base, **{
            **RI_OPTS, "metadata.recordindex.shards": "6",
        })
        assert HudiTableConfig.from_base_path(base).props[SHARDS_PROP] == "6"

    def test_missing_property_with_index_files_errors(self, tmp_path):
        from hudi_rs_spark.write.record_index import existing_shard_count

        base = str(tmp_path / "t")
        ri = os.path.join(base, ".hoodie", "metadata", "record_index")
        os.makedirs(ri)
        # only shard 1 ever wrote: max(observed)+1 == 2 would be WRONG
        # for an index built with 4 shards
        open(os.path.join(ri, ".record-index-0001_20240101000000000.log.1_0-0-0"), "wb").close()
        with pytest.raises(ValueError, match="refusing to guess"):
            existing_shard_count(base)

    def test_no_index_files_returns_zero(self, tmp_path):
        from hudi_rs_spark.write.record_index import existing_shard_count

        assert existing_shard_count(str(tmp_path / "nope")) == 0
