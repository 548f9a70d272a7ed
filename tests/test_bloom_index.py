"""Metadata-table ``bloom_filters`` partition (record type 4 — reference
spec crates/core/src/metadata/table/records.rs:114-116) and the
bloom-routed upsert tag tier.

Covers: the serialized filter's contract (no false negatives, bounded
false positives), write→read round-trip incl. the partition-prefix
read, tag-path pruning (the meta-column index scan must touch ONLY
bloom-candidate files), end-to-end upsert parity vs a bloom-less
table, compaction/clustering re-emission for rewritten bases, and MDT
fold survival.
"""

from __future__ import annotations

import os

import pytest

from hudi_rs_spark.bloomfilter import (
    bloom_contains,
    bloom_contains_many,
    build_bloom,
    candidates_for_keys,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)


def _write(df, path, mode="append", **options):
    w = df.write.format("hudi_py").option("path", path)
    for k, v in options.items():
        w = w.option(k, v)
    w.mode(mode).save()


def _rows(spark, n=40, start=0, ts=1, name="n"):
    return spark.createDataFrame(
        [
            (start + i, f"{name}{start + i}", ts, "a" if i % 2 else "b")
            for i in range(n)
        ],
        "id long, name string, ts long, part string",
    )


BLOOM_OPTS = {
    "recordkey.field": "id", "precombine.field": "ts",
    "partitionpath.field": "part",
    "table.type": "MERGE_ON_READ", "table.version": "8",
    "metadata.enable": "true", "metadata.bloomfilter.enable": "true",
}


class TestBloomCore:
    def test_no_false_negatives(self):
        keys = [f"k{i}" for i in range(5000)]
        blob = build_bloom(keys, fpp=0.01)
        assert all(bloom_contains_many(blob, keys))

    def test_false_positive_rate_bounded(self):
        blob = build_bloom([f"k{i}" for i in range(5000)], fpp=0.01)
        absent = [f"x{i}" for i in range(5000)]
        fp = sum(bloom_contains_many(blob, absent))
        assert fp / 5000 < 0.05  # 5x slack over the 1% target

    def test_candidates_for_keys(self):
        blooms = {
            "f1": build_bloom(["a", "b"]),
            "f2": build_bloom(["c"]),
            "f3": build_bloom(["zzz"]),
        }
        cand = candidates_for_keys(blooms, ["a", "c"])
        assert "f1" in cand and "f2" in cand
        assert "f3" not in cand  # overwhelmingly likely at these sizes

    def test_bad_magic_rejected(self):
        with pytest.raises(ValueError, match="magic"):
            bloom_contains(b"XXXX" + b"\x00" * 32, "k")

    def test_stable_across_processes(self):
        # blake2b is keyless: the same blob answers identically when
        # re-parsed from bytes (what executors do)
        blob = bytes(build_bloom(["alpha", "beta"]))
        assert bloom_contains(blob, "alpha")
        assert not bloom_contains(blob, "definitely-not-present-key-123456")


class TestBloomPartitionRoundTrip:
    def test_write_read_and_prefix(self, spark, tmp_path):
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.metadata.bloom_filters import (
            has_bloom_filters_partition,
            read_bloom_filters,
        )

        t = str(tmp_path / "t")
        _write(_rows(spark), t, **BLOOM_OPTS)
        tc = HudiTableConfig.from_base_path(t)
        assert has_bloom_filters_partition(tc)
        assert "bloom_filters" in tc.props["hoodie.table.metadata.partitions"]
        blooms = read_bloom_filters(t)
        from hudi_rs_spark.sources.hudi import HudiTable

        live = {
            os.path.basename(sl.base_file_relative_path())
            for sl in HudiTable(t, spark=None, listing="direct").get_file_slices()
        }
        assert set(blooms) == live  # every base file has a bloom record
        # prefix read returns exactly the files of that partition
        only_a = read_bloom_filters(t, partition="part=a")
        assert set(only_a) == {f for f in live if self._part_of(t, f) == "part=a"}
        # blooms answer for the keys actually in each file
        import pyarrow.parquet as pq

        for fname, blob in blooms.items():
            part = self._part_of(t, fname)
            keys = pq.read_table(
                f"{t}/{part}/{fname}", columns=["_hoodie_record_key"]
            )["_hoodie_record_key"].to_pylist()
            assert all(bloom_contains_many(blob, keys))

    @staticmethod
    def _part_of(t, fname):
        for part in ("part=a", "part=b"):
            if os.path.exists(f"{t}/{part}/{fname}"):
                return part
        raise AssertionError(f"{fname} not found")


class TestBloomTagPruning:
    def test_index_scan_touches_only_candidates(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.config import WriteConfig
        from hudi_rs_spark.write.upsert import (
            _spark_key_expr,
            _spark_partition_expr,
            _tag_index,
        )

        t = str(tmp_path / "t")
        _write(_rows(spark, n=80), t, **BLOOM_OPTS)
        cfg = WriteConfig.from_options(
            {"path": t, **BLOOM_OPTS, "operation": "upsert"}
        )
        # incoming batch: ONE existing key, in partition part=a only
        incoming = spark.createDataFrame(
            [(1, "up", 9, "a")], "id long, name string, ts long, part string"
        )
        keys_df = incoming.select(
            _spark_key_expr(cfg.record_key_fields).alias("k"),
            _spark_partition_expr(cfg).alias("p"),
        )
        table = HudiTable(t, spark, listing="direct")
        index = _tag_index(spark, table, table.get_file_slices(), keys_df)
        touched = {os.path.basename(p) for p in index.inputFiles()}
        all_files = {
            os.path.basename(sl.base_file_relative_path())
            for sl in HudiTable(t, spark=None, listing="direct").get_file_slices()
        }
        # strictly fewer files than the full simple-index scan, and the
        # file that holds key "1" is among them (no false negatives)
        assert touched and touched < all_files
        hits = index.filter("_hoodie_record_key = '1'").collect()
        assert len(hits) == 1

    def test_untouched_partition_fully_pruned(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.config import WriteConfig
        from hudi_rs_spark.write.upsert import (
            _bloom_candidate_files,
            _spark_key_expr,
            _spark_partition_expr,
        )

        t = str(tmp_path / "t")
        _write(_rows(spark, n=40), t, **BLOOM_OPTS)
        cfg = WriteConfig.from_options(
            {"path": t, **BLOOM_OPTS, "operation": "upsert"}
        )
        incoming = spark.createDataFrame(
            [(1, "up", 9, "a")], "id long, name string, ts long, part string"
        )
        keys_df = incoming.select(
            _spark_key_expr(cfg.record_key_fields).alias("k"),
            _spark_partition_expr(cfg).alias("p"),
        )
        bloom = _bloom_candidate_files(
            spark, HudiTable(t, spark, listing="direct"), keys_df
        )
        assert bloom is not None
        assert bloom["touched"] == {"part=a"}
        assert all(p == "part=a" for p, _f in bloom["recorded"])

    def test_plain_table_returns_none(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import _bloom_candidate_files

        t = str(tmp_path / "t")
        opts = {k: v for k, v in BLOOM_OPTS.items()
                if "bloom" not in k and "metadata" not in k}
        _write(_rows(spark, n=10), t, **opts)
        keys_df = spark.createDataFrame([("1", "part=a")], "k string, p string")
        assert _bloom_candidate_files(
            spark, HudiTable(t, spark, listing="direct"), keys_df
        ) is None


class TestBloomUpsertParity:
    def test_upsert_delete_parity_vs_plain(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import delete, upsert

        plain_opts = {
            "recordkey.field": "id", "precombine.field": "ts",
            "partitionpath.field": "part", "table.type": "MERGE_ON_READ",
        }
        results = {}
        for mode, opts in (("bloom", BLOOM_OPTS), ("plain", plain_opts)):
            t = str(tmp_path / mode)
            _write(_rows(spark, n=60), t, **opts)
            upsert(
                spark.createDataFrame(
                    [(3, "U3", 9, "a"), (4, "U4", 9, "b"), (200, "NEW", 9, "a")],
                    "id long, name string, ts long, part string",
                ),
                t,
            )
            delete(
                spark.createDataFrame(
                    [(5, 10, "a")], "id long, ts long, part string"
                ),
                t,
            )
            results[mode] = {
                (r.id, r.name, r.part)
                for r in HudiTable(t, spark).read()
                .select("id", "name", "part").collect()
            }
        assert results["bloom"] == results["plain"]
        assert (3, "U3", "a") in results["bloom"]
        assert (200, "NEW", "a") in results["bloom"]
        assert not any(i == 5 for i, _n, _p in results["bloom"])


class TestBloomMaintenance:
    def test_compaction_reemits_blooms(self, spark, tmp_path):
        from hudi_rs_spark.metadata.bloom_filters import read_bloom_filters
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        t = str(tmp_path / "t")
        _write(_rows(spark, n=40), t, **BLOOM_OPTS)
        upsert(
            spark.createDataFrame(
                [(1, "u1", 9, "a")], "id long, name string, ts long, part string"
            ),
            t,
        )
        assert compact(spark, t) > 0
        live = {
            os.path.basename(sl.base_file_relative_path())
            for sl in HudiTable(t, spark=None, listing="direct").get_file_slices()
        }
        blooms = read_bloom_filters(t)
        # every live base — including compaction-rewritten ones — has a
        # bloom record, so the tag path keeps pruning after compaction
        assert live <= set(blooms)
        upsert(
            spark.createDataFrame(
                [(2, "u2", 11, "b")], "id long, name string, ts long, part string"
            ),
            t,
        )
        rows = {r.id: r.name for r in HudiTable(t, spark).read().collect()}
        assert rows[1] == "u1" and rows[2] == "u2" and len(rows) == 40

    def test_fold_preserves_blooms(self, spark, tmp_path):
        from hudi_rs_spark.metadata.bloom_filters import read_bloom_filters
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.mdt_compact import clean_mdt, compact_mdt
        from hudi_rs_spark.write.upsert import upsert

        t = str(tmp_path / "t")
        _write(_rows(spark, n=40), t, **BLOOM_OPTS)
        for k in range(3):
            upsert(
                spark.createDataFrame(
                    [(k, f"u{k}", 10 + k, "b" if k == 0 else "a")],
                    "id long, name string, ts long, part string",
                ),
                t,
            )
        before = read_bloom_filters(t)
        assert compact_mdt(t) > 0
        clean_mdt(t)
        after = read_bloom_filters(t)
        assert after == before  # fold is lossless for bloom records
        upsert(
            spark.createDataFrame(
                [(7, "post-fold", 99, "a")],
                "id long, name string, ts long, part string",
            ),
            t,
        )
        rows = {r.id: r.name for r in HudiTable(t, spark).read().collect()}
        assert rows[7] == "post-fold"
