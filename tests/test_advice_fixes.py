"""Regression tests for the round-1 advisor findings: cross-file rollback
voiding, timeline-timezone handling, incremental bound normalization, and
OVERWRITE_WITH_LATEST config validation."""

from __future__ import annotations

import os
import shutil

import pytest

from hudi_rs_spark.logfile import reader as logreader
from hudi_rs_spark.logfile.reader import KEY_INSTANT_TIME
from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp
from tests.synth import SynthTable, frame_block, parquet_bytes, rollback_block
from hudi_rs_spark.logfile.reader import BLOCK_PARQUET_DATA


def data_block(instant: str, keys: list[str]) -> bytes:
    content = parquet_bytes(
        {
            "_hoodie_commit_time": [instant] * len(keys),
            "_hoodie_record_key": keys,
            "val": list(range(len(keys))),
        }
    )
    return frame_block(BLOCK_PARQUET_DATA, {KEY_INSTANT_TIME: instant}, content)


class TestCrossFileRollback:
    """A rollback command appended to a LATER log file (writer rollover)
    must void data blocks in an EARLIER file of the same file group —
    the reference aggregates targets across the whole slice before
    filtering (scanner.rs CollectedBlocks)."""

    def _write(self, tmp_path, name: str, payload: bytes) -> str:
        p = os.path.join(tmp_path, name)
        with open(p, "wb") as f:
            f.write(payload)
        return p

    def test_override_voids_earlier_file(self, tmp_path):
        p1 = self._write(tmp_path, "f1.log", data_block("002", ["a", "b"]))
        blocks1 = logreader.read_log_file(p1)
        # per-file scan alone cannot see the rollback in the second file
        assert len(logreader.valid_blocks(blocks1, valid_instants={"002"})) == 1
        # slice-aggregated targets void it
        assert (
            logreader.valid_blocks(
                blocks1, valid_instants={"002"}, rollback_targets_override={"002"}
            )
            == []
        )

    def test_same_file_rollback_still_default(self, tmp_path):
        payload = data_block("002", ["a"]) + rollback_block("003", "002") + data_block(
            "004", ["b"]
        )
        p = self._write(tmp_path, "f.log", payload)
        blocks = logreader.read_log_file(p)
        kept = logreader.valid_blocks(blocks, valid_instants={"002", "004"})
        assert [b.instant_time for b in kept] == ["004"]

    def test_slice_read_voids_across_log_files(self, tmp_path):
        import json

        from pyspark.sql import types as T

        from hudi_rs_spark.sources.pyds import HudiSlicePartition, _read_slice

        p1 = self._write(tmp_path, "f1.log", data_block("002", ["a", "b"]))
        p2 = self._write(tmp_path, "f2.log", rollback_block("003", "002"))
        schema = T.StructType(
            [
                T.StructField("_hoodie_commit_time", T.StringType()),
                T.StructField("_hoodie_record_key", T.StringType()),
                T.StructField("val", T.LongType()),
            ]
        )

        def rows(logs):
            part = HudiSlicePartition(
                base_file=None, log_files=logs,
                schema_json=json.dumps(schema.jsonValue()), ordering=None,
                strategy="APPEND_ONLY", valid_instants=["002"],
                archival_boundary=None, pending_instants=[], as_of=None,
                merge_logs=True,
            )
            return sum(b.num_rows for b in _read_slice(part))

        assert rows([p1]) == 2
        # the rollback command in the slice's second log file voids the
        # data block in its first
        assert rows([p1, p2]) == 0


class TestTimelineTimezone:
    UTC_TS = "20240402123035233"

    def test_utc_default(self):
        assert to_hudi_timestamp("2024-04-02T12:30:35.233+00:00") == self.UTC_TS
        assert to_hudi_timestamp(1712061035233) == self.UTC_TS

    def test_named_zone_shifts_rendering(self):
        # IST = UTC+05:30 — same instant renders 18:00:35 local
        assert (
            to_hudi_timestamp("2024-04-02T12:30:35.233+00:00", "Asia/Kolkata")
            == "20240402180035233"
        )
        assert to_hudi_timestamp(1712061035233, "Asia/Kolkata") == "20240402180035233"

    def test_local_zone_resolves(self):
        out = to_hudi_timestamp(1712061035233, "LOCAL")
        assert len(out) == 17 and out.isdigit()

    def test_timeline_format_passthrough(self):
        # already in timeline form: must NOT be re-shifted
        assert to_hudi_timestamp(self.UTC_TS, "Asia/Kolkata") == self.UTC_TS


class TestIncrementalBounds:
    def test_epoch_bounds_accepted(self, spark, v8_trips_table):
        from hudi_rs_spark.sources.hudi import HudiTable

        t = HudiTable(v8_trips_table, spark)
        baseline = t.read_incremental(None).count()
        # epoch-seconds start far before the table's first commit ==
        # unbounded start; raised ValueError before the fix
        early = t.read_incremental(1000000000).count()
        assert early == baseline
        rfc = t.read_incremental("2001-09-09T00:00:00+00:00").count()
        assert rfc == baseline


class TestIncrementalPreMergeFilter:
    """An out-of-range base row with a HIGHER ordering value than an
    in-range log update must not make the key vanish from the incremental
    result: base batches are commit-time-filtered BEFORE the merge
    (file_group/reader.rs:169-177)."""

    C1 = "20240101000000000"
    C2 = "20240102000000000"

    def _build(self, tmp_path) -> str:
        from tests.synth import parquet_data_block

        base = os.path.join(tmp_path, "tbl")
        t = SynthTable(base)
        t.write_base(
            "g1-0", self.C1, {"id": ["k1"], "ts": [100], "val": ["old"]}, ["k1"]
        )
        t.commit(self.C1)
        rows = t.log_rows(
            self.C2, {"id": ["k1"], "ts": [50], "val": ["new"]}, ["k1"], "log"
        )
        t.append_log(
            "g1-0", self.C1, parquet_data_block(self.C2, rows), stats_instant=self.C2
        )
        t.commit(self.C2)
        return base

    def test_out_of_order_log_update_survives(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable

        ht = HudiTable(self._build(tmp_path), spark)
        # snapshot: higher ordering value (the base row) wins
        snap = {r["id"]: r["val"] for r in ht.read().collect()}
        assert snap == {"k1": "old"}
        # incremental (C1, C2]: the in-range log version must be emitted —
        # pre-fix the out-of-range base row won the merge and the
        # post-filter dropped the key entirely
        inc = {r["id"]: r["val"] for r in ht.read_incremental(self.C1).collect()}
        assert inc == {"k1": "new"}


class TestMergeStrategyValidation:
    def test_overwrite_with_latest_requires_ordering(self, spark, v8_trips_table, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable

        table_copy = os.path.join(tmp_path, "trips")
        shutil.copytree(v8_trips_table, table_copy)
        props_path = os.path.join(table_copy, ".hoodie", "hoodie.properties")
        with open(props_path) as f:
            lines = [
                ln
                for ln in f.read().splitlines()
                if not ln.startswith("hoodie.table.precombine.field")
                and not ln.startswith("hoodie.table.ordering.fields")
                and not ln.startswith("hoodie.table.record.merge.strategy")
            ]
        lines.append("hoodie.table.record.merge.strategy=OVERWRITE_WITH_LATEST")
        with open(props_path, "w") as f:
            f.write("\n".join(lines) + "\n")
        t = HudiTable(table_copy, spark)
        with pytest.raises(ValueError, match="OVERWRITE_WITH_LATEST"):
            t.read()
