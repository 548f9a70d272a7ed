"""Storage abstraction (fs/storage.py): every planner-side byte —
timeline listing, hoodie.properties, commit metadata, log/HFile decode,
parquet footers — goes through Storage, proven by running the whole
planner against a memory:// table no os/open call could ever reach.
Mirrors the reference's object_store routing (storage/mod.rs:26-28)."""

from __future__ import annotations

import json
import os

import pytest

from hudi_rs_spark.fs.storage import (
    LocalStorage,
    MemoryStorage,
    storage_for,
)
from hudi_rs_spark.sources.hudi import HudiTable
from tests.synth import SynthTable, cdc_block, parquet_data_block

C1 = "20240101000000000"
C2 = "20240102000000000"


def _copy_to_memory(local_base: str, mem_base: str) -> MemoryStorage:
    st = storage_for(mem_base)
    local = LocalStorage()
    for rel_dir, name, _size in local.walk_files(local_base):
        rel = f"{rel_dir}/{name}" if rel_dir else name
        st.write_bytes(
            f"{mem_base}/{rel}", local.read_bytes(os.path.join(local_base, rel))
        )
    return st


def _cdc_feed_in_process(table: HudiTable, start: str, end: str) -> list:
    """``read_changes``' worker kernel, run in this process: memory://
    and registered test filesystems are driver-process-only, so
    ``read_changes`` itself refuses them (its workers cannot open them)."""
    from hudi_rs_spark.sources.pyds import (
        HudiPyDataSource,
        _cdc_partitions,
        _read_slice,
    )

    schema = HudiPyDataSource.CDC_SCHEMA.json()
    return [
        row
        for part in _cdc_partitions(table, start, end, schema)
        for batch in _read_slice(part)
        for row in batch.to_pylist()
    ]


def _synth(tmp_path) -> SynthTable:
    t = SynthTable(os.path.join(str(tmp_path), "tbl"))
    t.write_base("g1-0", C1, {"id": ["k1", "k2"], "ts": [1, 1],
                              "val": ["a", "b"]}, ["k1", "k2"])
    t.commit(C1)
    rows = t.log_rows(C2, {"id": ["k1"], "ts": [2], "val": ["a2"]}, ["k1"], "log")
    payload = parquet_data_block(C2, rows) + cdc_block(
        C2, [{"op": "u", "ts_ms": "0",
              "before": json.dumps({"id": "k1", "val": "a"}),
              "after": json.dumps({"id": "k1", "val": "a2"})}],
    )
    t.append_log("g1-0", C1, payload, stats_instant=C2)
    t.commit(C2)
    return t


class TestBackends:
    def test_scheme_dispatch(self):
        assert storage_for("/plain/path") is storage_for("file:///plain/path")
        assert isinstance(storage_for("/p"), LocalStorage)
        assert isinstance(storage_for("memory://x/p"), MemoryStorage)
        # one cached instance per authority
        assert storage_for("memory://x/a") is storage_for("memory://x/b")
        assert storage_for("memory://x/a") is not storage_for("memory://y/a")

    def test_local_walk_prunes_skip_dirs(self, tmp_path):
        (tmp_path / ".hoodie").mkdir()
        (tmp_path / ".hoodie" / "f").write_bytes(b"x")
        (tmp_path / "p1").mkdir()
        (tmp_path / "p1" / "data").write_bytes(b"yy")
        got = list(LocalStorage().walk_files(str(tmp_path),
                                             skip_dirs=frozenset({".hoodie"})))
        assert got == [("p1", "data", 2)]

    def test_memory_roundtrip_and_listing(self):
        st = storage_for("memory://rt")
        st.write_bytes("memory://rt/a/b/f1", b"123")
        st.write_bytes("memory://rt/a/f2", b"45")
        assert st.read_bytes("memory://rt/a/b/f1") == b"123"
        assert st.size("memory://rt/a/f2") == 2
        assert st.isfile("memory://rt/a/f2") and not st.isfile("memory://rt/a")
        assert st.isdir("memory://rt/a")
        names = {(e.name, e.is_dir) for e in st.list_dir("memory://rt/a")}
        assert names == {("b", True), ("f2", False)}
        assert list(st.walk_files("memory://rt/a")) == [
            ("b", "f1", 3), ("", "f2", 2)]
        with st.open_seekable("memory://rt/a/b/f1") as f:
            f.seek(1)
            assert f.read() == b"23"
        with pytest.raises(FileNotFoundError):
            st.read_bytes("memory://rt/missing")


class TestPlannerOnMemory:
    """The full driver-side planner against memory:// — any leftover
    direct os/open call in a planner module fails this with
    FileNotFoundError on the URI."""

    def _mem_table(self, tmp_path, spark) -> HudiTable:
        t = _synth(tmp_path)
        mem_base = "memory://planner/tbl"
        _copy_to_memory(t.base_path, mem_base)
        return HudiTable(mem_base, spark)

    def test_timeline_and_slices(self, spark, tmp_path):
        table = self._mem_table(tmp_path, spark)
        assert [i.timestamp for i in table.timeline.instants] == [C1, C2]
        slices = table.get_file_slices()
        assert len(slices) == 1
        assert slices[0].has_log_files

    def test_schema_resolution_reads_memory_footer(self, spark, tmp_path):
        table = self._mem_table(tmp_path, spark)
        names = table.get_schema().fieldNames()
        assert {"id", "ts", "val"} <= set(names)

    def test_table_stats_estimation(self, spark, tmp_path):
        table = self._mem_table(tmp_path, spark)
        rows, size = table.compute_table_stats()
        assert rows == 2 and size > 0

    def test_cdc_feed_decodes_from_memory(self, spark, tmp_path):
        table = self._mem_table(tmp_path, spark)
        with pytest.raises(ValueError, match="driver process"):
            table.read_changes(C1, C2)
        feed = _cdc_feed_in_process(table, C1, C2)
        assert [(r["commit_time"], r["op"]) for r in feed] == [(C2, "u")]


class TestFileUriEndToEnd:
    """file:// is a real non-plain-path scheme Spark itself can execute:
    the whole read (planner through executors) must equal the plain-path
    read bit for bit."""

    def test_snapshot_read_equal(self, spark, tmp_path):
        t = _synth(tmp_path)
        plain = HudiTable(t.base_path, spark).read()
        via_uri = HudiTable("file://" + t.base_path, spark).read()
        rows = lambda df: sorted(  # noqa: E731
            map(repr, map(tuple, df.select(*sorted(df.columns)).collect()))
        )
        assert rows(via_uri) == rows(plain)
        # (the CDC block decodes as one null-id record row, like the
        # reference reading type-6 blocks as plain data — ignore it)
        got = {r["id"]: r["val"] for r in via_uri.collect() if r["id"] is not None}
        assert got == {"k1": "a2", "k2": "b"}


class TestConnectorStorageOptions:
    def test_storage_option_extraction(self):
        from hudi_rs_spark.sources.pyds import _storage_options

        opts = {
            "path": "s3://b/t",
            "storage.endpoint_override": "http://minio:9000",
            "storage.region": "us-east-1",
            "listing": "auto",
        }
        assert _storage_options(opts) == {
            "endpoint_override": "http://minio:9000",
            "region": "us-east-1",
        }
        assert _storage_options({"path": "/x"}) is None

    def test_connector_plans_against_memory_scheme(self, spark, tmp_path):
        """The connector's driver-side planning (schema + partitions)
        runs against a non-local scheme end to end."""
        from hudi_rs_spark.sources.pyds import HudiPyDataSource

        t = _synth(tmp_path)
        mem_base = "memory://conn/tbl"
        _copy_to_memory(t.base_path, mem_base)
        ds = HudiPyDataSource({"path": mem_base})
        schema = ds.schema()
        assert {"id", "ts", "val"} <= set(schema.fieldNames())
        parts = ds.reader(schema).partitions()
        assert len(parts) == 1 and parts[0].log_files
        assert parts[0].base_file.startswith("memory://")

    def test_executor_slice_read_routes_through_storage(self, spark, tmp_path):
        """The executor-side slice read (base parquet + log merge) is
        scheme-transparent: running it against a memory:// partition
        proves no pq.read_table(plain_path)/open() call remains in the
        read path. (memory:// is driver-process-only, so the read runs
        in-process — the same function executors run.)"""
        from hudi_rs_spark.sources.pyds import HudiPyDataSource, _read_slice

        t = _synth(tmp_path)
        mem_base = "memory://execread/tbl"
        _copy_to_memory(t.base_path, mem_base)
        ds = HudiPyDataSource({"path": mem_base})
        schema = ds.schema()
        [part] = ds.reader(schema).partitions()
        merged = {}
        for batch in _read_slice(part):
            for row in batch.to_pylist():
                if row.get("id") is not None:
                    merged[row["id"]] = row["val"]
        assert merged == {"k1": "a2", "k2": "b"}

    def test_partitions_carry_storage_options_to_executors(self, spark, tmp_path):
        """Executor processes have their own storage_for cache; the
        per-table backend options must ride on every InputPartition."""
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.sources.pyds import _slice_partitions

        t = _synth(tmp_path)
        opts = {"endpoint_override": "http://minio:9000"}
        table = HudiTable(t.base_path, spark, storage_options=opts)
        assert table.storage_options == opts
        parts = _slice_partitions(
            table, table.get_file_slices(), None, read_optimized=False
        )
        assert all(p.storage_options == opts for p in parts)

    def test_log_slice_read_opens_every_file_with_table_options(
        self, spark, tmp_path, monkeypatch
    ):
        """One log-bearing slice descriptor, read in the test process
        (the function executors run): every storage lookup of the base
        file and of each log file carries the table's options."""
        from hudi_rs_spark.fs import storage
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.sources.pyds import _read_slice, _slice_partitions

        t = _synth(tmp_path)
        opts = {"endpoint_override": "http://table-endpoint"}
        table = HudiTable(t.base_path, spark, storage_options=opts)
        parts = _slice_partitions(
            table, table.get_file_slices(), None, read_optimized=False
        )
        [part] = [p for p in parts if p.log_files]
        seen = []
        real = storage.storage_for

        def recording(path, options=None):
            seen.append((path, options))
            return real(path, options)

        monkeypatch.setattr(storage, "storage_for", recording)
        rows = [r for b in _read_slice(part) for r in b.to_pylist()]
        assert rows
        assert {p for p, _o in seen} >= set(part.log_files)
        assert all(o == opts for _p, o in seen), seen


class TestPlannerOnArrowFS:
    """The same planner matrix as TestPlannerOnMemory, but through a REAL
    pyarrow FileSystem object (SubTreeFileSystem over local) registered
    under a non-local scheme — exercises ArrowFSStorage's list/walk/
    seekable-open/info code paths end-to-end, not just path mapping
    (VERDICT r6 next-round #5)."""

    def _arrow_table(self, tmp_path, spark) -> tuple[HudiTable, SynthTable]:
        from pyarrow import fs as pafs

        from hudi_rs_spark.fs.storage import ArrowFSStorage, register_storage

        t = _synth(tmp_path)
        subfs = pafs.SubTreeFileSystem(t.base_path, pafs.LocalFileSystem())
        st = ArrowFSStorage("mock", "bucket", filesystem=subfs)
        register_storage("mock", "bucket", st)
        return HudiTable("mock://bucket", spark), t

    def test_timeline_and_slices_match_local(self, spark, tmp_path):
        table, t = self._arrow_table(tmp_path, spark)
        local = HudiTable(t.base_path, spark)
        assert [i.timestamp for i in table.timeline.instants] == [C1, C2]
        got = [
            (s.partition_path, s.file_id, s.commit_timestamp,
             s.base_file_relative_path(), s.log_file_relative_paths())
            for s in table.get_file_slices()
        ]
        want = [
            (s.partition_path, s.file_id, s.commit_timestamp,
             s.base_file_relative_path(), s.log_file_relative_paths())
            for s in local.get_file_slices()
        ]
        assert got == want and len(got) == 1

    def test_schema_resolution_via_arrow_fs(self, spark, tmp_path):
        table, t = self._arrow_table(tmp_path, spark)
        local = HudiTable(t.base_path, spark)
        assert table.get_schema() == local.get_schema()

    def test_table_stats_via_arrow_fs(self, spark, tmp_path):
        table, t = self._arrow_table(tmp_path, spark)
        assert table.compute_table_stats() == HudiTable(
            t.base_path, spark
        ).compute_table_stats()

    def test_cdc_feed_decodes_via_arrow_fs(self, spark, tmp_path):
        table, _t = self._arrow_table(tmp_path, spark)
        with pytest.raises(ValueError, match="driver process"):
            table.read_changes(C1, C2)
        feed = _cdc_feed_in_process(table, C1, C2)
        assert [(r["commit_time"], r["op"]) for r in feed] == [(C2, "u")]

    def test_worker_reachability(self, spark, tmp_path):
        from hudi_rs_spark.fs.storage import worker_reachable

        self._arrow_table(tmp_path, spark)
        assert not worker_reachable("mock://bucket/f")
        assert worker_reachable("mock://bucket/f", {"endpoint": "e"})
        assert not worker_reachable("memory://x/f", {"endpoint": "e"})
        assert worker_reachable("/p") and worker_reachable("s3://b/f")

    def test_walk_and_listing_primitives(self, spark, tmp_path):
        _table, t = self._arrow_table(tmp_path, spark)
        st = storage_for("mock://bucket/x")
        local = LocalStorage()
        got = sorted(st.walk_files("mock://bucket",
                                   skip_dirs=frozenset({".hoodie"})))
        want = sorted(local.walk_files(t.base_path,
                                       skip_dirs=frozenset({".hoodie"})))
        assert got == want
        names = {e.name for e in st.list_dir("mock://bucket/.hoodie")}
        assert "hoodie.properties" in names
        assert st.isdir("mock://bucket/.hoodie")
        assert not st.isfile("mock://bucket/.hoodie")


class TestStorageCacheByOptions:
    """storage_for caches per (scheme, authority, options): two
    credential sets on one bucket coexist instead of rebuilding the
    filesystem handle on every alternating priming call (ADVICE r6)."""

    def test_distinct_option_sets_coexist(self):
        opts_a = {"access_key": "A", "secret_key": "sa",
                  "region": "us-east-1",
                  "endpoint_override": "http://127.0.0.1:9"}
        opts_b = {"access_key": "B", "secret_key": "sb",
                  "region": "us-east-1",
                  "endpoint_override": "http://127.0.0.1:9"}
        sa1 = storage_for("s3://one-bucket/t1", opts_a)
        sb1 = storage_for("s3://one-bucket/t2", opts_b)
        assert sa1 is not sb1
        # alternating priming returns the SAME instances — no rebuild
        assert storage_for("s3://one-bucket/t1", opts_a) is sa1
        assert storage_for("s3://one-bucket/t2", opts_b) is sb1
        # options-less lookup resolves to the most recently primed set
        assert storage_for("s3://one-bucket/t1") is sb1
        sa2 = storage_for("s3://one-bucket/x", opts_a)
        assert sa2 is sa1
        assert storage_for("s3://one-bucket/x") is sa1

    def test_register_storage_resolves(self):
        from pyarrow import fs as pafs

        from hudi_rs_spark.fs.storage import ArrowFSStorage, register_storage

        st = ArrowFSStorage(
            "mock", "cachehook",
            filesystem=pafs.SubTreeFileSystem("/", pafs.LocalFileSystem()),
        )
        register_storage("mock", "cachehook", st)
        assert storage_for("mock://cachehook/any") is st

# Driver fast lane (r14, VERDICT r13 item 1): slow-lane suite — infra/
# feature matrix whose surfaces the oracle write rows exercise end-to-end;
# the builder runs the full lane each round via `pytest -m "slow or not slow"`.
pytestmark = pytest.mark.slow
